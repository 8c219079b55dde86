package graft.tools

/** Dumps `.explain("formatted")` for a comma-separated list of gate
  * queries to `<outDir>/<name><suffix>.txt`, one file per query, under
  * the bench session ([[graft.GraftSession]]) so the committed
  * before/after plan evidence matches what the bench times.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      // "raw:<q>" dumps the bench-timed rawBench variant (file prefix
      // raw_<q>) instead of the gate version — the bench evidence for
      // queries whose timed plan is the raw operator
      val (fn, fileName) =
        if (name.startsWith("raw:")) {
          val q = name.stripPrefix("raw:")
          (graft.Bench.rawBench(q).get, s"raw_$q")
        } else (graft.SparkEntry.queries(name), name)
      val plan = fn(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$fileName$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/$fileName$suffix.txt")
      graft.CacheRegistry.releaseAll()
    }
    graft.CacheRegistry.releaseShared()
    graft.operators.ConnectorQueries.stopAll()
    spark.stop()
    sys.exit(0)
  }
}
