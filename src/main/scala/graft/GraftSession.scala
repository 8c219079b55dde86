package graft

import org.apache.spark.sql.SparkSession

/** The one way to build graft's Spark session: `local[n]` with `n`
  * shuffle partitions, UTC, AQE on (the Spark 4 default, stated so the
  * plans never depend on it), the UI off and [[functions.GraftExtensions]]
  * installed, so SQL can call every graft function by name here and in
  * each `newSession()` of this session. Every main passes
  * [[cpus]]; the test base passes a fixed 4 so specs see the same
  * partitioning on any host. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or else the host's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(n: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
