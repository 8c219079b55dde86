package graft.functions

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Parity pin for the fused audio-fingerprint kernel
  * [[AfpFrameSymbols]] (graft_afp_syms): the kernel's
  * (doc_id, kind, f, sym) output must equal the spelled-out
  * HOF-decode + 14-linear-combination + sort_array formulation it
  * replaced (the formulation the DuckDB oracle still carries). The
  * spelled-out stack is reproduced here verbatim — reverting the kernel
  * to it would blow janino's 64 KB method limit in the bench path, but
  * at spec scale it runs (interpreted) and serves as the ground truth.
  */
class AudioKernelSpec extends SparkTestBase {

  private def afC(b: Int)(j: Int): Long = AfpFrameSymbols.C(b * 16 + j)
  private def afS(b: Int)(j: Int): Long = AfpFrameSymbols.S(b * 16 + j)

  /** The pre-round-15 spelled-out formulation, kept as the in-Spark
    * ground truth for the fused kernel. */
  private def spelledOut(docs: org.apache.spark.sql.DataFrame) = {
    val docsW = docs
      .select(col("doc_id"), substring(col("text"), 1, 336).as("w"))
      .select(col("doc_id"),
        explode(array(lit(0), lit(1))).as("kind"), col("w"))
      .select(col("doc_id"), col("kind"),
        when(col("kind") === 1, expr(
          "transform(sequence(1, 320), i -> IF(i + 16 <= length(w)," +
            " (least(ascii(substring(w, i + 16, 1)), 255) div 4) * 4" +
            " - 64, 0))"))
          .otherwise(expr(
            "transform(sequence(1, 320), i -> IF(i <= length(w)," +
              " least(ascii(substring(w, i, 1)), 255) - 64, 0))"))
          .as("sv"))
    val bandCols = (0 until 7).flatMap { b =>
      def comb(coef: Int => Long, name: String) =
        expr((0 until 16).map { j =>
          s"(${coef(j)}) * CAST(sv[16 * f + $j] AS BIGINT)"
        }.mkString(" + ")).as(name)
      Seq(comb(afC(b), s"cr_$b"), comb(afS(b), s"ci_$b"))
    }
    val fr = docsW
      .select(col("doc_id") +: col("kind") +: col("sv") +:
        explode(sequence(lit(0), lit(19))).as("f") +: Seq.empty: _*)
      .select(Seq(col("doc_id"), col("kind"), col("f")) ++ bandCols: _*)
    val eArr = sort_array(array((0 until 7).map(b =>
      struct((col(s"cr_$b") * col(s"cr_$b")
        + col(s"ci_$b") * col(s"ci_$b")).as("e"),
        lit(6 - b).as("nb"))): _*), asc = false)
    fr.withColumn("arr", eArr)
      .filter(col("arr")(0)("e") > 0)
      .select(col("doc_id"), col("kind"), col("f"),
        (((((lit(6) - col("arr")(0)("nb")) * 7
          + (lit(6) - col("arr")(1)("nb"))) * 7
          + (lit(6) - col("arr")(2)("nb"))) * 16
          + length(col("arr")(0)("e").cast("string"))) * 16
          + length(col("arr")(1)("e").cast("string")))
          .cast("long").as("sym"))
  }

  private def fused(docs: org.apache.spark.sql.DataFrame) = {
    docs.select(col("doc_id"), substring(col("text"), 1, 336).as("w"))
      .select(col("doc_id"),
        explode(array(lit(0), lit(1))).as("kind"), col("w"))
      .select(col("doc_id"), col("kind"),
        explode(GraftFunctions.afpSyms(col("w"), col("kind"))).as("fs"))
      .select(col("doc_id"), col("kind"),
        col("fs").getField("f").as("f"),
        col("fs").getField("sym").as("sym"))
  }

  test("fused kernel == spelled-out HOF formulation on the corpus") {
    val docs = Tables.documents(spark, sf0001)
    val a = fused(docs)
    val b = spelledOut(docs)
    assert(a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("kernel edge cases: empty, short, non-ASCII, all-silence") {
    import scala.jdk.CollectionConverters._
    val rows = Seq("", "abc", "@" * 336, "café€" * 80,
      "x" * 500).zipWithIndex
      .map { case (t, i) => org.apache.spark.sql.Row(i.toLong, t) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val docs = spark.createDataFrame(rows.asJava, schema)
    val a = fused(docs)
    val b = spelledOut(docs)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // '@' = codepoint 64 ⇒ every sample 0 ⇒ all frames silent ⇒ dropped
    assert(a.filter(col("doc_id") === 2).count() == 0)
    // empty text yields no frames at all
    assert(a.filter(col("doc_id") === 0).count() == 0)
  }
}
