package graftbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.EqualTo

import graft.CacheRegistry
import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.sharing.{DeltaSchema, GraftSharing, PredicateHints}
import graft.sharing.server.LocalSharingServer

/** The training-data pipeline over a shared corpus: each op reads one
  * arrivals batch through the catalog (partition-value filter) and runs
  * `Curation.curateArrivals` against the corpus, which set-up read once
  * through the connector and checkpointed. */
final class CurateCorpus(dir: Path, m: JsonNode) extends Workload {
  private val arrivalFiles =
    Inputs.files(dir, m.get("tables").get("arrivals"))
      .map(f => f.partitionValues("batch") -> f).toMap
  private val schedule: IndexedSeq[String] =
    m.get("schedule").elements.asScala.map(_.get("batch").asText).toIndexedSeq
  private val docCols = "doc_id, text, lang, source, n_chars"

  def kind(i: Int): String = "curate"
  def rows(i: Int): Long = arrivalFiles(schedule(i % schedule.size)).rows
  def blockLen: Int = 1
  def warmup: Seq[Int] = Seq(0)

  private var corpus: DataFrame = _
  private var expected: Map[String, Seq[String]] = Map.empty
  private var lastAccepted = 0

  def serve(spark: SparkSession, server: LocalSharingServer): Unit =
    Seq("corpus", "arrivals").foreach(Inputs.serve(spark, server, dir, m, _))

  def prepare(env: Env): Unit =
    corpus = GraftSharing.readTable(env.spark, env.client, env.ref("corpus"))
      .localCheckpoint(true)

  private def batch(env: Env, b: String): DataFrame =
    env.spark.sql(s"SELECT $docCols FROM bench.main.arrivals WHERE batch = '$b'")

  private def localBatch(env: Env, b: String): DataFrame =
    env.spark.read.parquet(arrivalFiles(b).path.toString).selectExpr(docCols.split(", "): _*)

  private def accepted(corpus: DataFrame, arrivals: DataFrame): Seq[String] =
    try Curation.curateArrivals(corpus, arrivals).select("doc_id").collect()
      .map(_.getLong(0).toString).toSeq.sorted
    finally CacheRegistry.releaseAll()

  def loadExpected(env: Env): Unit = {
    val local = env.spark.read.parquet(
      Inputs.files(dir, m.get("tables").get("corpus")).map(_.path.toString): _*)
    expected = arrivalFiles.keys.map(b => b -> accepted(local, localBatch(env, b))).toMap
  }

  def run(env: Env, i: Int, tr: Tracer): () => Option[String] = {
    val b = schedule(i % schedule.size)
    val kept = tr.span("plan.frame") {
      Curation.curateArrivals(corpus, batch(env, b)).select("doc_id")
    }
    val out =
      try tr.span("exec")(kept.collect()).map(_.getLong(0).toString).toSeq.sorted
      finally CacheRegistry.releaseAll()
    tr.phases(kept)
    lastAccepted = out.size
    () => Rows.diff(s"batch $b", out, expected(b))
  }

  def probe(env: Env, i: Int, tr: Tracer, opSeconds: Double): Unit = {
    val b = schedule(i % schedule.size)
    val ref = env.ref("arrivals")
    val filter = EqualTo("batch", b)
    val hint = PredicateHints.toHintJson(Seq(filter),
      DeltaSchema.fromSchemaString(env.client.getTableMetadata(ref)._2.schemaString))
    val listed = tr.span("client.replay") {
      Probes.call(tr, "getTableData")(env.client.getTableData(ref, hint))._3
    }
    tr.sample("client.files_listed", listed.size)
    Probes.transport(env, tr, Probes.prune(env, tr, ref, Seq(filter)))
    // each curation stage materialized on its own, over a local copy of
    // the batch so no transport time lands in either stage
    val arrivals = batch(env, b).localCheckpoint(true)
    val (qualified, qualityMs) = tr.time("curate.quality") {
      arrivals.filter(TextAnalysis.qualityScoreRaw(col("text")) >= 0).localCheckpoint(true)
    }
    val (_, dedupMs) = tr.time("curate.dedup") {
      try Dedup.incrementalDedup(
          corpus.withColumn("is_new", lit(false))
            .unionByName(qualified.withColumn("is_new", lit(true))),
          "doc_id", "text", col("is_new"))
        .filter(col("kept") === 1).count()
      finally CacheRegistry.releaseAll()
    }
    tr.sample("curate.quality_ms", qualityMs)
    tr.sample("curate.dedup_ms", dedupMs)
    tr.sample("curate.accepted", lastAccepted)
    tr.sample("curate.batch_rows", rows(i))
    Probes.twin(tr, opSeconds)(accepted(corpus, localBatch(env, b)))
  }
}
