package graft

import org.apache.spark.sql.SparkSession

/** Gates the COMMITTED PLANS.md, which `graft.PlanAudit` writes:
  *  - drift: a fixed, fast subset of the audit set (every connector
  *    section plus a few operator families, one of them on
  *    `GlobalRank`) is re-audited here at sf0.01 and must equal its
  *    committed section byte for byte. PLANS.md is canonical (ids,
  *    hashes, temp dirs, share paths and ports masked), so a difference
  *    is a real plan change: re-audit the named sections with
  *    `SPARK_GRAFT_CPUS=4 sbt "runMain graft.PlanAudit <q1,q2,...>"`,
  *    which splices them in place, and review `git diff PLANS.md`;
  *  - every audited query has a section, so a new query forces a
  *    re-audit;
  *  - every SinglePartition exchange is annotated in [[PlanContract]]
  *    with its expected count (PlanAudit applies the same check at
  *    generation time and exits 1 on a violation), and no annotation is
  *    stale.
  */
class PlanContractSpec extends SparkTestBase {

  private lazy val sections: Map[String, String] = PlanAudit.sections(
    java.nio.file.Files.readString(java.nio.file.Paths.get("PLANS.md"))).toMap

  private def regenerate(names: Seq[String]): String =
    s"""(re-audit: SPARK_GRAFT_CPUS=4 sbt "runMain graft.PlanAudit ${
      names.mkString(",")}")"""

  /** Audited fast on any host: the connector sections and a few cheap
    * families (scan, broadcast join, window, GlobalRank's range
    * partitioning, which reads `spark.sql.shuffle.partitions`). */
  private val driftSubset = Seq(
    "connector_scan", "connector_filter_pushdown", "connector_cdf_snapshot",
    "connector_catalog_sql", "connector_oauth_scan",
    "connector_partition_values", "connector_count_pushdown",
    "connector_minmax_pushdown", "q_scan_filter_project_limit",
    "q_join_broadcast", "q_window_rank", "q_shard_pack")

  test("a fresh audit of the drift subset equals PLANS.md byte for byte") {
    // a session of its own: confs that other suites set on the shared
    // session do not reach it
    val iso = spark.newSession()
    SparkSession.setActiveSession(iso)
    // PLANS.md is audited over the sf0.01 data, next to the sf0.001 one
    val sf001 = s"${new java.io.File(sf0001).getParent}/sf0.01"
    val fresh = try PlanAudit.audit(iso, sf001, driftSubset).toMap
      finally SparkSession.setActiveSession(spark)
    val drifted = driftSubset.filterNot(n => sections.get(n).contains(fresh(n)))
    val firstDiff = drifted.headOption.map { n =>
      val old = sections.getOrElse(n, "").split('\n')
      val now = fresh(n).split('\n')
      val i = old.zipAll(now, "", "").indexWhere { case (a, c) => a != c }
      s"; first difference in $n, line $i:\n  committed: ${old.lift(i)
        .getOrElse("<none>")}\n  fresh:     ${now.lift(i).getOrElse("<none>")}"
    }
    assert(drifted.isEmpty, s"plans drifted from PLANS.md: ${
      drifted.mkString(", ")} ${regenerate(drifted)}" + firstDiff.getOrElse(""))
  }

  test("PLANS.md carries a section for every audited query") {
    val missing = PlanContract.auditSet.filterNot(sections.contains)
    assert(missing.isEmpty, "audited queries with no PLANS.md section " +
      s"${regenerate(missing)}: ${missing.mkString(", ")}")
  }

  test("every SinglePartition exchange in an audited plan is annotated") {
    val violations = PlanContract.auditSet.flatMap { name =>
      sections.get(name).flatMap(PlanContract.check(name, _))
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("no stale SinglePartition annotations") {
    val audited = PlanContract.auditSet.toSet
    val unknown = PlanContract.boundedSinglePartition.keySet -- audited
    assert(unknown.isEmpty,
      "annotations for queries not in the audit set: " +
        unknown.toSeq.sorted.mkString(", "))
    // an annotated query whose plan no longer has any SinglePartition is
    // caught by the count check above (expected != 0 vs 0 in plan)
  }
}
