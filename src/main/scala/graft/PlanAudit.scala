package graft

/** Dumps formatted physical plans for the headline queries — the
  * plan-shape audit trail (pushdown, broadcast, partial aggregation,
  * codegen spans) under the shared [[GraftSession]] config; PLANS.md
  * is audited at 4 cores. Run:
  * `SPARK_GRAFT_CPUS=4 sbt "runMain graft.PlanAudit" > PLANS.md`. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(GraftSession.cpus)
    // the bench set IS the audit set (single-sourced so a query added to
    // one can't silently miss the other), plus the connector scans whose
    // pushdown evidence only shows through the sharing path
    val audit = PlanContract.auditSet
      // optional arg: comma-separated name filter (local iteration)
      .filter(n => args.headOption.forall(_.split(',').contains(n)))
    val qs = SparkEntry.queries
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    audit.foreach { name =>
      println(s"\n## $name\n")
      println("```")
      val planText = qs(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(planText)
      println("```")
      // generation-time SinglePartition contract check (r13 verdict ask
      // #2): fail loudly while the offending plan is on screen; the
      // committed PLANS.md is additionally re-audited by PlanContractSpec
      PlanContract.check(name, planText).foreach(violations += _)
    }
    violations.foreach(v => System.err.println(s"[plan-contract] $v"))
    graft.operators.ConnectorQueries.stopAll()
    spark.stop()
    sys.exit(if (violations.isEmpty) 0 else 1)
  }
}
