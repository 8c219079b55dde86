package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.ColumnExpr
import org.apache.spark.sql.types._

/** Fused float-vector kernels as native Catalyst expressions.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a,b,(x,y)=>x*y),0d,(s,v)=>s+v)`) materializes an
  * intermediate array per row and walks it twice; these expressions emit
  * a single fused loop in whole-stage codegen — the "custom Expression
  * beats UDF beats everything" tier for the similarity-search hot path.
  *
  * Built by [[GraftFunctions.dot]] / [[GraftFunctions.cosine]], and by
  * name (`graft_dot` / `graft_cosine`) in SQL through [[GraftExtensions]].
  * Null elements inside vectors are treated as 0.0f; a null vector yields
  * null (NullIntolerant).
  */
case class DotProductFloat(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == ArrayType(FloatType, true) ||
        left.dataType == ArrayType(FloatType, false)) {
      if (right.dataType == ArrayType(FloatType, true) ||
          right.dataType == ArrayType(FloatType, false))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> inputs, got ${right.dataType.sql}")
    } else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs, got ${left.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** cosine(a,b) = dot(a,b) / (||a|| * ||b||) in one fused loop. Returns
  * null for a null vector; 0.0 when either norm is zero. */
case class CosineSimilarityFloat(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == ArrayType(FloatType, true) ||
        left.dataType == ArrayType(FloatType, false)) {
      if (right.dataType == ArrayType(FloatType, true) ||
          right.dataType == ArrayType(FloatType, false))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> inputs, got ${right.dataType.sql}")
    } else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs, got ${left.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else x.getFloat(i).toDouble
      val yv = if (y.isNullAt(i)) 0.0 else y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.isNullAt($i) ? 0.0 : (double) $a.getFloat($i);
         |  double $yv = $b.isNullAt($i) ? 0.0 : (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityFloat =
    copy(left = newLeft, right = newRight)
}

/** Fused int8 scalar-quantized cosine: quantize BOTH float vectors with
  * the symmetric max-abs codebook (q = floor(x/maxabs·127 + 0.5), the
  * q_quantize_embeddings recipe) and compute the cosine of the quantized
  * integer vectors in one kernel — dot and norms are exact 64-bit
  * integer sums, with a single correctly-rounded double division at the
  * end. Bit-identical to the higher-order-function formulation in
  * [[graft.operators.Similarity.sq8TopK]] (parity-tested): the same
  * `(double)dot / (sqrt(na)·sqrt(nb))` association, null elements read
  * as 0 like [[CosineSimilarityFloat]]. Ragged inputs fail loudly
  * (equal lengths required) — the HOF parity reference norms over full
  * arrays and NULLs the dot on mismatch, so min-length semantics here
  * would diverge precisely where the parity test is blind. At 100 TB
  * the corpus side is
  * pre-quantized once and stored at 1 byte/dim; this kernel is the
  * score loop that path runs.
  */
case class Sq8CosineFloat(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sq8_cosine"
  override def checkInputDataTypes(): TypeCheckResult =
    if ((left.dataType == ArrayType(FloatType, true) ||
        left.dataType == ArrayType(FloatType, false)) &&
        (right.dataType == ArrayType(FloatType, true) ||
        right.dataType == ArrayType(FloatType, false)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    def maxAbs(v: ArrayData): Double = {
      var m = 0.0; var i = 0
      while (i < v.numElements()) {
        val xv = if (v.isNullAt(i)) 0.0 else math.abs(v.getFloat(i).toDouble)
        if (xv > m) m = xv
        i += 1
      }
      m
    }
    // Equal lengths enforced loudly (the ANSI convention elsewhere in
    // this engine): the HOF parity formulation computes norms over FULL
    // arrays and NULLs the zip_with dot on mismatch, so a silent
    // min-length kernel would diverge from its parity reference exactly
    // on the inputs the parity test can't see.
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"graft_sq8_cosine requires equal-length arrays " +
          s"(${x.numElements()} vs ${y.numElements()})")
    val ma = maxAbs(x); val mb = maxAbs(y)
    val n = x.numElements()
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else x.getFloat(i).toDouble
      val yv = if (y.isNullAt(i)) 0.0 else y.getFloat(i).toDouble
      val qa = if (ma == 0.0) 0L else math.floor(xv / ma * 127.0 + 0.5).toLong
      val qb = if (mb == 0.0) 0L else math.floor(yv / mb * 127.0 + 0.5).toLong
      dot += qa * qb; na += qa * qa; nb += qb * qb
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val ma = ctx.freshName("ma")
      val mb = ctx.freshName("mb")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val qa = ctx.freshName("qa")
      val qb = ctx.freshName("qb")
      s"""
         |if ($a.numElements() != $b.numElements())
         |  throw new IllegalArgumentException(
         |    "graft_sq8_cosine requires equal-length arrays (" +
         |      $a.numElements() + " vs " + $b.numElements() + ")");
         |double $ma = 0.0; double $mb = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $xv = $a.isNullAt($i) ? 0.0 :
         |    java.lang.Math.abs((double) $a.getFloat($i));
         |  if ($xv > $ma) $ma = $xv;
         |}
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  double $yv = $b.isNullAt($i) ? 0.0 :
         |    java.lang.Math.abs((double) $b.getFloat($i));
         |  if ($yv > $mb) $mb = $yv;
         |}
         |int $n = $a.numElements();
         |long $dot = 0L; long $na = 0L; long $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.isNullAt($i) ? 0.0 : (double) $a.getFloat($i);
         |  double $yv = $b.isNullAt($i) ? 0.0 : (double) $b.getFloat($i);
         |  long $qa = $ma == 0.0 ? 0L :
         |    (long) java.lang.Math.floor($xv / $ma * 127.0 + 0.5);
         |  long $qb = $mb == 0.0 ? 0L :
         |    (long) java.lang.Math.floor($yv / $mb * 127.0 + 0.5);
         |  $dot += $qa * $qb; $na += $qa * $qa; $nb += $qb * $qb;
         |}
         |${ev.value} = ($na == 0L || $nb == 0L) ? 0.0 :
         |  (double) $dot /
         |    (java.lang.Math.sqrt((double) $na) * java.lang.Math.sqrt((double) $nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Sq8CosineFloat =
    copy(left = newLeft, right = newRight)
}

/** One graft function: its SQL name, its expression class and the
  * builder that makes its expression from the argument expressions. A
  * builder reads only literal argument positions (the scalar
  * parameters); each expression's `checkInputDataTypes` types the rest. */
final case class GraftFunction(name: String, cls: Class[_ <: Expression],
    build: Seq[Expression] => Expression) {

  /** The Column-API call: this function's expression over the
    * arguments' Catalyst expressions. No name is looked up, so the
    * column works on any session. */
  def apply(args: Column*): Column =
    ColumnExpr.column(build(args.map(ColumnExpr.expression)) match {
      case agg: AggregateFunction => agg.toAggregateExpression()
      case e => e
    })
}

object GraftFunctions {

  /** Scalar parameter `i` of a graft function: it must be a foldable
    * numeric literal, else analysis fails with a clear message rather
    * than a deep Catalyst internal error (SQL callers can pass any
    * expression). */
  private def litNumArg(fn: String, exprs: Seq[Expression], i: Int,
      what: String): Number = {
    if (exprs.length <= i)
      throw new IllegalArgumentException(
        s"$fn: missing argument ${i + 1} ($what)")
    val e = exprs(i)
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} ($what) must be a literal, got ${e.sql}")
    e.eval() match {
      case n: Number => n
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} ($what) must be numeric, got $other")
    }
  }

  private val dotFn = GraftFunction("graft_dot", classOf[DotProductFloat],
    e => DotProductFloat(e(0), e(1)))
  private val cosineFn = GraftFunction("graft_cosine",
    classOf[CosineSimilarityFloat], e => CosineSimilarityFloat(e(0), e(1)))
  private val sq8CosineFn = GraftFunction("graft_sq8_cosine",
    classOf[Sq8CosineFloat], e => Sq8CosineFloat(e(0), e(1)))
  private val minhashFn = GraftFunction("graft_minhash",
    classOf[MinHashSignature], e => MinHashSignature(e(0),
      litNumArg("graft_minhash", e, 1, "numHashes").intValue))
  private val simhashFn = GraftFunction("graft_simhash", classOf[SimHash64],
    e => SimHash64(e(0)))
  private val byteEntropyFn = GraftFunction("graft_byte_entropy",
    classOf[ByteEntropyStats], e => ByteEntropyStats(e(0)))
  private val charNgramsFn = GraftFunction("graft_char_ngrams",
    classOf[CharNgramHashes], e => CharNgramHashes(e(0),
      litNumArg("graft_char_ngrams", e, 1, "n").intValue))
  private val cdcChunksFn = GraftFunction("graft_cdc_chunks",
    classOf[CdcChunkHashes], e => CdcChunkHashes(e(0)))
  private val afpSymsFn = GraftFunction("graft_afp_syms",
    classOf[AfpFrameSymbols], e => AfpFrameSymbols(e(0), e(1)))
  private val phashDctFn = GraftFunction("graft_phash_dct", classOf[PhashDct],
    e => PhashDct(e(0)))
  private val voteBestFn = GraftFunction("graft_vote_best",
    classOf[VoteBestAgg], e => VoteBestAgg(e(0),
      litNumArg("graft_vote_best", e, 1, "minVotes").intValue))
  private val lshBandsFn = GraftFunction("graft_lsh_bands",
    classOf[LshBandHashes], e => LshBandHashes(e(0),
      litNumArg("graft_lsh_bands", e, 1, "numBands").intValue,
      litNumArg("graft_lsh_bands", e, 2, "rowsPerBand").intValue))
  private val planeDotsFn = GraftFunction("graft_plane_dots",
    classOf[HyperplaneDots], e => HyperplaneDots(e(0), Hyperplanes.generate(
      litNumArg("graft_plane_dots", e, 1, "numPlanes").intValue,
      litNumArg("graft_plane_dots", e, 2, "dim").intValue,
      litNumArg("graft_plane_dots", e, 3, "seed").longValue)))
  private val lshKeysFn = GraftFunction("graft_lsh_keys",
    classOf[PackedLshKeys], e => {
      val numTables = litNumArg("graft_lsh_keys", e, 1, "numTables").intValue
      val bits = litNumArg("graft_lsh_keys", e, 2, "bitsPerTable").intValue
      PackedLshKeys(e(0), Hyperplanes.generate(
        numTables * bits,
        litNumArg("graft_lsh_keys", e, 3, "dim").intValue,
        litNumArg("graft_lsh_keys", e, 4, "seed").longValue), bits)
    })
  private val hilbertFn = GraftFunction("graft_hilbert",
    classOf[HilbertIndex2D], e => HilbertIndex2D(e(0), e(1),
      litNumArg("graft_hilbert", e, 2, "bits").intValue))
  private val bloomContainsFn = GraftFunction("graft_bloom_contains",
    classOf[BloomMightContainLong], e => {
      if (e.length != 2 || !e(0).foldable || e(0).dataType != BinaryType)
        throw new IllegalArgumentException(
          "graft_bloom_contains: arguments are (bloomBytes: binary " +
            "literal, key: bigint)")
      BloomMightContainLong(e(1), e(0).eval().asInstanceOf[Array[Byte]])
    })

  /** Every graft function, each declared once: the Column API below
    * builds from these entries and [[GraftExtensions]] injects them into
    * SQL. */
  val table: Seq[GraftFunction] = Seq(dotFn, cosineFn, sq8CosineFn,
    minhashFn, simhashFn, byteEntropyFn, charNgramsFn, cdcChunksFn,
    afpSymsFn, phashDctFn, voteBestFn, lshBandsFn, planeDotsFn, lshKeysFn,
    hilbertFn, bloomContainsFn)

  /** Column-level API: each builds its expression directly, so it needs
    * no set-up on any session. */
  def dot(a: Column, b: Column): Column = dotFn(a, b)
  def cosine(a: Column, b: Column): Column = cosineFn(a, b)
  def sq8Cosine(a: Column, b: Column): Column = sq8CosineFn(a, b)
  def cdcChunks(t: Column): Column = cdcChunksFn(t)
  /** array<struct<f:int,sym:bigint>> — fused audio-fingerprint frame
    * symbols of a 336-codepoint window (see [[AfpFrameSymbols]]). */
  def afpSyms(w: Column, kind: Column): Column = afpSymsFn(w, kind)
  /** struct<fp_lo:bigint,fp_hi:bigint> — fused integer 2D-DCT pHash of
    * a 256-entry pixel array (see [[PhashDct]]). */
  def phashDct(pv: Column): Column = phashDctFn(pv)
  /** array<struct<mb,votes,off>> — per-group best-offset vote aggregate
    * over caller-packed `mb*2^21 + (off+2^20)` keys (see [[VoteBestAgg]]). */
  def voteBest(packedKey: Column, minVotes: Int): Column =
    voteBestFn(packedKey, lit(minVotes))
  def minhash(shingleHashes: Column, numHashes: Int): Column =
    minhashFn(shingleHashes, lit(numHashes))
  def simhash64(tokenHashes: Column): Column = simhashFn(tokenHashes)
  /** struct(entropy: double, n_distinct: int) — byte-level Shannon stats. */
  def byteEntropy(text: Column): Column = byteEntropyFn(text)
  /** Distinct lowercased character-n-gram hashes (31-bit universe). */
  def charNgrams(text: Column, n: Int): Column = charNgramsFn(text, lit(n))
  /** Band hashes of a minhash signature (numBands entries). */
  def lshBands(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    lshBandsFn(sig, lit(numBands), lit(rowsPerBand))
  /** All v·plane dots for `numPlanes` seeded gaussian planes. */
  def planeDots(v: Column, numPlanes: Int, dim: Int, seed: Long): Column =
    planeDotsFn(v, lit(numPlanes), lit(dim), lit(seed))
  /** Packed multi-table LSH signature longs (numTables entries). */
  def lshKeys(v: Column, numTables: Int, bitsPerTable: Int, dim: Int,
      seed: Long): Column =
    lshKeysFn(v, lit(numTables), lit(bitsPerTable), lit(dim), lit(seed))
  /** Hilbert-curve index of grid cell (x, y), each in [0, 2^bits). */
  def hilbert(x: Column, y: Column, bits: Int): Column =
    hilbertFn(x, y, lit(bits))
  /** Bloom-filter membership probe over a serialized filter (bigint key). */
  def bloomContains(bloomBytes: Array[Byte], key: Column): Column =
    bloomContainsFn(lit(bloomBytes), key)
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `withExtensions`, as `graft.GraftSession` does) makes every entry of
  * [[GraftFunctions.table]] callable by name from SQL. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
}
