package graft.functions

import graft.{SparkTestBase, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** Parity pin for the fused integer-DCT pHash kernel [[PhashDct]]
  * (graft_phash_dct): the kernel's (doc_id, kind, fp_lo, fp_hi) output
  * must equal the spelled-out row-pass-explode + 64-column-aggregate
  * formulation it replaced (the formulation the DuckDB oracle still
  * carries). The spelled-out stack is reproduced here verbatim as the
  * in-Spark ground truth.
  *
  * It also pins how every graft kernel is reached: the Column API needs
  * no set-up on any session, and SQL resolves every entry of
  * [[GraftFunctions.table]] by name to the same value. */
class PhashKernelSpec extends SparkTestBase {

  /** The mm_phash_dedup pixel frame: one 256-entry codepoint array per
    * (doc, kind), kind 1 requantized, zero-padded past the text end. */
  private def pixelFrame(docs: org.apache.spark.sql.DataFrame) = docs
    .select(col("doc_id"), substring(col("text"), 1, 256).as("w"))
    .select(col("doc_id"),
      explode(array(lit(0), lit(1))).as("kind"), col("w"))
    .select(col("doc_id"), col("kind"),
      when(col("kind") === 1, expr(
        "transform(sequence(1, 256)," +
          " i -> (ascii(substring(w, i, 1)) div 4) * 4)"))
        .otherwise(expr(
          "transform(sequence(1, 256), i -> ascii(substring(w, i, 1)))"))
        .as("pv"))

  /** The pre-r15.2 spelled-out formulation: 16 row-pass rows per media
    * through a 64-column map-side-combined aggregate, then sign-bit
    * packing. */
  private def spelledOut(docs: org.apache.spark.sql.DataFrame) = {
    def k(u: Int)(r: Int): Long = PhashDct.K(u * 16 + r)
    val rCols = (0 until 8).map { u =>
      expr((0 until 16).map { r =>
        s"(${k(u)(r)}) * CAST(pv[16 * $r + c] AS BIGINT)"
      }.mkString(" + ")).as(s"r_$u")
    }
    val rstage = pixelFrame(docs)
      .select(col("doc_id") +: col("kind") +: col("pv") +:
        explode(sequence(lit(0), lit(15))).as("c") +: Seq.empty: _*)
      .select(Seq(col("doc_id"), col("kind"), col("c")) ++ rCols: _*)
    val kvArr = (0 until 8).map(v => (0 until 16).map(k(v)).toArray)
    val dAggs = for (u <- 0 until 8; v <- 0 until 8) yield
      sum(col(s"r_$u") *
        element_at(lit(kvArr(v)), col("c").cast("int") + 1))
        .cast("bigint").as(s"d_${u}_$v")
    def packBits(range: Range, base: Int) = range.map { idx =>
      when(col(s"d_${idx / 8}_${idx % 8}") > 0, 1L << (idx - base))
        .otherwise(0L)
    }.reduce(_ + _)
    rstage.groupBy("doc_id", "kind")
      .agg(dAggs.head, dAggs.tail: _*)
      .select(col("doc_id"), col("kind"),
        packBits(0 until 32, 0).cast("bigint").as("fp_lo"),
        packBits(32 until 64, 32).cast("bigint").as("fp_hi"))
  }

  private def fused(docs: org.apache.spark.sql.DataFrame) = {
    pixelFrame(docs)
      .select(col("doc_id"), col("kind"),
        GraftFunctions.phashDct(col("pv")).as("f"))
      .select(col("doc_id"), col("kind"),
        col("f.fp_lo").as("fp_lo"), col("f.fp_hi").as("fp_hi"))
  }

  test("fused DCT kernel == spelled-out aggregate formulation") {
    val docs = Tables.documents(spark, sf0001)
    val a = fused(docs)
    val b = spelledOut(docs)
    assert(a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("kernel edge cases: constant, zero, max-codepoint pixels") {
    val rows = Seq(
      Array.fill(256)(0),            // all-silence: every D = 0, no bits
      Array.fill(256)(97),           // constant: only DC mass, D(0,0) > 0
      Array.fill(256)(0x10FFFF),     // max codepoint: BIGINT headroom
      Array.tabulate(256)(i => if ((i / 16 + i % 16) % 2 == 0) 200 else 0))
      .zipWithIndex.map { case (pv, i) =>
        org.apache.spark.sql.Row(i.toLong, pv.toSeq)
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType))))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(rows.asJava, schema)
      .select(col("doc_id"), GraftFunctions.phashDct(col("pv")).as("f"))
      .select(col("doc_id"), col("f.fp_lo"), col("f.fp_hi"))
      .orderBy("doc_id").collect()
    // all-zero pixels: no positive coefficient anywhere
    assert(df(0).getLong(1) == 0L && df(0).getLong(2) == 0L)
    // constant pixels: DC term (u=0, v=0 → bit 0) positive, AC terms
    // sum symmetric coefficients to ~0 (never positive for a constant)
    assert((df(1).getLong(1) & 1L) == 1L)
    // max codepoints: same bit pattern as any positive constant
    assert(df(2).getLong(1) == df(1).getLong(1) &&
      df(2).getLong(2) == df(1).getLong(2))
  }

  /** A few rows with an input column for every graft function. */
  private def kernelInputs(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 6).map { i =>
      (i.toLong,
        Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat / 4),
        Array.tabulate(8)(j => ((i * 5 + j * 2) % 13 - 6).toFloat / 3),
        Array.tabulate(4 + i)(j => (i * 1000003L + j * 7919L) % 2147483647L),
        s"graft kernel row $i, " * (40 * i + 1),
        i % 2,
        Array.tabulate(256)(j => (j * (i + 3)) % 256),
        (i * 37 % 256).toLong, (i * 91 % 256).toLong,
        (i % 3) * 2097152L + 1048576L + i % 2)
    }.toDF("id", "a", "b", "sh", "text", "kind", "pv", "x", "y", "k")
  }

  private val bloom: Array[Byte] = {
    val f = org.apache.spark.util.sketch.BloomFilter.create(16, 0.01)
    Seq(1L, 3L, 5L).foreach(f.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    f.writeTo(bos)
    bos.toByteArray
  }

  /** Each graft function once, as SQL text and as its Column-API call. */
  private val kernelCases: Seq[(String, Column)] = {
    import GraftFunctions._
    val hex = bloom.map(b => f"$b%02X").mkString
    Seq(
      "graft_dot(a, b)" -> dot(col("a"), col("b")),
      "graft_cosine(a, b)" -> cosine(col("a"), col("b")),
      "graft_sq8_cosine(a, b)" -> sq8Cosine(col("a"), col("b")),
      "graft_minhash(sh, 8)" -> minhash(col("sh"), 8),
      "graft_simhash(sh)" -> simhash64(col("sh")),
      "graft_byte_entropy(text)" -> byteEntropy(col("text")),
      "graft_char_ngrams(text, 3)" -> charNgrams(col("text"), 3),
      "graft_cdc_chunks(text)" -> cdcChunks(col("text")),
      "graft_afp_syms(text, kind)" -> afpSyms(col("text"), col("kind")),
      "graft_phash_dct(pv)" -> phashDct(col("pv")),
      "graft_vote_best(k, 1)" -> voteBest(col("k"), 1),
      "graft_lsh_bands(sh, 2, 2)" -> lshBands(col("sh"), 2, 2),
      "graft_plane_dots(a, 4, 8, 7)" -> planeDots(col("a"), 4, 8, 7L),
      "graft_lsh_keys(a, 2, 3, 8, 7)" -> lshKeys(col("a"), 2, 3, 8, 7L),
      "graft_hilbert(x, y, 8)" -> hilbert(col("x"), col("y"), 8),
      s"graft_bloom_contains(X'$hex', id)" -> bloomContains(bloom, col("id")))
  }

  test("the cases cover every graft function once") {
    assert(kernelCases.map(_._1.takeWhile(_ != '(')) ==
      GraftFunctions.table.map(_.name))
  }

  /** A new session of the test session with every graft name dropped
    * from its function registry. */
  private def bareSession(): SparkSession = {
    val bare = spark.newSession()
    val reg = bare.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    GraftFunctions.table.foreach(f =>
      reg.dropFunction(FunctionIdentifier(f.name)))
    assert(GraftFunctions.table.forall(f =>
      !reg.functionExists(FunctionIdentifier(f.name))))
    bare
  }

  test("every Column-API graft function evaluates on a session that " +
      "knows no graft name") {
    val bare = bareSession()
    kernelCases.foreach { case (name, c) =>
      val here = kernelInputs(spark).select(c)
      val there = kernelInputs(bare).select(c)
      assert(there.columns.toSeq == here.columns.toSeq, name)
      assert(there.collect().toSeq == here.collect().toSeq, name)
    }
  }

  test("Dedup.charNgramHashes works on a frame of a session that is not " +
      "the active one") {
    val bare = bareSession()
    assert(SparkSession.active ne bare)
    def ngrams(s: SparkSession) = kernelInputs(s)
      .select(Dedup.charNgramHashes(col("text"), 3)).collect().toSeq
    assert(ngrams(bare) == ngrams(spark))
  }

  test("every graft function resolves by name in SQL and equals its " +
      "Column-API twin") {
    val df = kernelInputs(spark)
    df.createOrReplaceTempView("graft_kernel_inputs")
    kernelCases.foreach { case (sql, c) =>
      val bySql = spark.sql(s"SELECT $sql FROM graft_kernel_inputs")
      val byColumn = df.select(c)
      assert(bySql.columns.toSeq == byColumn.columns.toSeq, sql)
      assert(bySql.collect().toSeq == byColumn.collect().toSeq, sql)
    }
  }

  test("a non-literal scalar parameter fails analysis naming the argument") {
    kernelInputs(spark).createOrReplaceTempView("graft_kernel_inputs")
    val e = intercept[Exception](
      spark.sql("SELECT graft_minhash(sh, id) FROM graft_kernel_inputs"))
    assert(e.getMessage.contains(
      "graft_minhash: argument 2 (numHashes) must be a literal"), e.getMessage)
  }
}
