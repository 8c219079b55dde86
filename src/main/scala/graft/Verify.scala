package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      // optional 3rd arg: comma-separated query names (local iteration)
      case Array(s, o, names) => (s, o, Some(names.split(',').toSet))
    }
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // written as-produced (no coalesce(1): a single-task funnel would
      // serialize large results; the comparer reads the directory)
      try fn(spark, sfDir).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operator-internal caches (LSH signatures, shingle frames, …) are
      // only needed while THIS query materializes — release before the next
      CacheRegistry.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Query-name list so harnesses can detect silently-failed dumps —
    // only the SELECTED names under a filter, or a filtered local run
    // would misreport every unselected query as a silent failure.
    Files.writeString(Paths.get(s"$outDir/names.txt"),
      SparkEntry.queries.keys.toSeq
        .filter(n => only.forall(_.contains(n))).sorted.mkString("\n"))
    CacheRegistry.releaseShared()
    graft.operators.ConnectorQueries.stopAll()
    spark.stop()
    sys.exit(0) // don't let stray non-daemon threads pin the JVM
  }
}
