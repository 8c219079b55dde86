package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.execution.FormattedMode

/** Writes PLANS.md: the formatted physical plan of every query in
  * [[PlanContract.auditSet]] (pushdown, broadcast, partial aggregation,
  * codegen spans), one `## <query>` section each, under the shared
  * [[GraftSession]] config at 4 cores. Run:
  * `SPARK_GRAFT_CPUS=4 sbt "runMain graft.PlanAudit [q1,q2,...]"`.
  * Given names, only those sections are re-audited and spliced into the
  * committed file in place; given none, every section is rewritten.
  *
  * The text is canonical: every token that changes between two audits
  * of the same tree is masked (see [[canonical]]), so `git diff
  * PLANS.md` shows only real plan drift, and PlanContractSpec re-audits
  * a fixed subset and compares it byte for byte. Exits 1 when a fresh
  * plan breaks [[PlanContract]]; the file is written either way, so the
  * offending plan is on screen in the diff. */
object PlanAudit {

  private val header =
    "# PLANS: formatted physical plans of the audit set\n\n" +
      "Written by `graft.PlanAudit` at `SPARK_GRAFT_CPUS=4` over the sf0.01\n" +
      "data. Expression, plan and RDD ids, lambda suffixes, identity hashes,\n" +
      "temporary directories, share paths and ports are masked.\n"

  /** Nondeterministic token -> its mask (the normalisation Spark's own
    * `PlanStabilitySuite` applies to its golden plans). */
  private val masks: Seq[(String, String)] = Seq(
    "#\\d+" -> "#_", // expression ids
    "\\[plan_id=\\d+\\]" -> "[plan_id=_]",
    "RDD\\[\\d+\\]" -> "RDD[_]",
    "(lambda \\w+?)_\\d+\\b" -> "$1_", // a JVM-wide lambda name counter
    "(?<=[\\w$;\\[])@[0-9a-f]{1,8}\\b" -> "@_", // TopKAggregator@db5b577, [B@f7473b2
    "(/graft-[a-z-]+)\\d+" -> "$1_", // Files.createTempDirectory suffixes
    "graftshare:/t/[^/\\s,\\]]+" -> "graftshare:/t/_", // per-listing table uid
    // the signed URL (port, expiry, signature) encoded in a file name
    "/f[\\w-]+(?:\\.[\\w-]+)?(\\.\\d+\\.parquet)" -> "/f_$1",
    "(127\\.0\\.0\\.1|localhost):\\d+" -> "$1:_",
    // RDD call sites: the line moves with every unrelated edit of its file
    "(\\w+\\.scala):\\d+" -> "$1:_",
    // the checkout (warehouse tables live under it)
    java.util.regex.Pattern.quote("file:" + sys.props("user.dir") + "/") ->
      "file:./")

  def canonical(planText: String): String =
    masks.foldLeft(planText) { case (t, (re, to)) => t.replaceAll(re, to) }

  /** One section's block: everything after its `## <query>` line. */
  private def block(planText: String): String =
    s"\n```\n${canonical(planText)}\n```\n"

  /** The `## <query>` sections of a PLANS.md text, in file order, as
    * (query, block). Shared with PlanContractSpec. */
  def sections(text: String): Seq[(String, String)] =
    text.split("\n## ").toSeq.drop(1).map { s =>
      val nl = s.indexOf('\n')
      s.substring(0, nl).trim -> s.substring(nl + 1)
    }

  /** Plan `names` on `spark` over `sfDir`, in audit-set order, as
    * (query, block). Each query is planned from an empty cache, with no
    * frame an earlier query persisted, and its ids start at a base of
    * its own, so a section reads the same audited alone or in the full
    * run. */
  def audit(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[(String, String)] =
    names.sortBy(PlanContract.auditSet.indexOf(_)).map { name =>
      CacheRegistry.releaseAll()
      CacheRegistry.releaseShared()
      // only ever moves the counter forward, so no id is handed out twice
      exprIds.accumulateAndGet(
        (PlanContract.auditSet.indexOf(name) + 1L) << 32, math.max)
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode)
      name -> block(plan)
    }

  private def staticField(cls: Class[_], name: String): AnyRef = {
    val f = cls.getDeclaredField(name)
    f.setAccessible(true)
    f.get(null)
  }

  private lazy val exprIds = staticField(NamedExpression.getClass, "curId")
    .asInstanceOf[java.util.concurrent.atomic.AtomicLong]

  /** Spark orders the distinct-aggregate groups of an `Expand` by the
    * hashes of their expression ids, and an id's hash mixes in a UUID
    * drawn at random per JVM. Zeroing that UUID before any id exists
    * (ids made earlier would sit in the wrong hash buckets) makes the
    * order, like the rest of the text, the same in every audit. */
  private def pinJvmId(): Unit = Seq("mostSigBits", "leastSigBits").foreach {
    bits =>
      val f = classOf[java.util.UUID].getDeclaredField(bits)
      f.setAccessible(true)
      f.setLong(staticField(NamedExpression.getClass, "jvmId"), 0L)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val all = PlanContract.auditSet
    // optional arg: comma-separated names to re-audit and splice in
    val names = args.headOption.fold(all)(_.split(',').toSeq)
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"not in the audit set: ${unknown.mkString(", ")}")
    val path = Paths.get("PLANS.md")
    val kept = if (Files.exists(path)) sections(Files.readString(path)).toMap
      else Map.empty[String, String]
    pinJvmId()
    val spark = GraftSession.local(GraftSession.cpus)
    val fresh = audit(spark, sfDir, names).toMap
    graft.operators.ConnectorQueries.stopAll()
    CacheRegistry.releaseShared()
    spark.stop()
    Files.writeString(path, header + all.flatMap { n =>
      fresh.get(n).orElse(kept.get(n)).map(b => s"\n## $n\n$b")
    }.mkString)
    // generation-time SinglePartition contract check: fail loudly while
    // the offending plan is in the diff; PlanContractSpec re-checks the
    // committed file
    val violations = names.flatMap(n => PlanContract.check(n, fresh(n)))
    violations.foreach(v => System.err.println(s"[plan-contract] $v"))
    sys.exit(if (violations.isEmpty) 0 else 1)
  }
}
