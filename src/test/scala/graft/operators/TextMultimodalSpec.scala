package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

class TextMultimodalSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sf0001).cache()

  test("bm25 top-k: scores positive, strictly rank-ordered, terms present") {
    val rows = graft.SparkEntry.queries("text_bm25_topk")(spark, sf0001)
      .collect()
    assert(rows.length == 10)
    assert(rows.map(_.getInt(2)).toSeq == (1 to 10))
    val scores = rows.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse && scores.forall(_ > 0))
    // the top-ranked doc must actually contain a query term
    val topId = rows.head.getLong(0)
    val text = docs.filter(col("doc_id") === topId)
      .select("text").collect()(0).getString(0)
    assert(Seq("hash", "join", "spark").exists(text.split(" ").contains))
  }

  test("repetition filters match a driver-side recomputation") {
    val byId = graft.SparkEntry.queries("text_repetition")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // mirrors the query's exact integer half-up (not float round): the
    // half-cases that motivated it are exactly where the two differ
    def hu4(num: Long, den: Long): Double =
      ((2 * num * 10000 + den) / (2 * den)).toDouble / 10000
    docs.select("doc_id", "text").collect().take(25).foreach { r =>
      val (id, toks) = (r.getLong(0), r.getString(1).split(" ").toSeq)
      val bigrams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val five = toks.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSeq
      val expTop = if (bigrams.isEmpty) 0.0
        else hu4(bigrams.groupBy(identity).map(_._2.length).max.toLong,
          bigrams.length.toLong)
      val expDup = if (five.isEmpty) 0.0
        else hu4((five.length - five.distinct.length).toLong, five.length.toLong)
      assert(math.abs(byId(id)._1 - expTop) < 1e-9, s"doc $id top-bigram")
      assert(math.abs(byId(id)._2 - expDup) < 1e-9, s"doc $id dup-5gram")
    }
  }

  test("language ID beats chance against the corpus labels") {
    val scored = docs.select(col("lang"),
      TextAnalysis.langId(col("text")).as("pred"))
    val total = scored.count().toDouble
    val correct = scored.filter(col("lang") === col("pred")).count()
    val accuracy = correct / total
    // 5 languages → chance is 0.2; the marker heuristic must do much
    // better on the en-like synthetic corpus or it's not a signal
    assert(accuracy >= 0.3, s"langid accuracy $accuracy")
  }

  test("quality score is bounded and deterministic") {
    val q1 = docs.select(TextAnalysis.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).collect()(0)
    assert(q1.getDouble(0) >= 0.0 && q1.getDouble(1) <= 1.0)
    val a = docs.select(sum(TextAnalysis.qualityScore(col("text")))).collect()(0).getDouble(0)
    val b = docs.select(sum(TextAnalysis.qualityScore(col("text")))).collect()(0).getDouble(0)
    assert(a == b)
  }

  test("rolling fingerprint is shift-sensitive, md5 is content-exact") {
    val fps = spark.createDataFrame(Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"),
      (3L, "quick brown fox the"))).toDF("id", "text")
      .select(col("id"), TextAnalysis.rollingFingerprint(col("text")).as("fp"),
        md5(col("text")).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(fps(0)._2 == fps(1)._2 && fps(0)._3 == fps(1)._3) // same content
    assert(fps(0)._2 != fps(2)._2) // word order matters
  }

  test("contamination flags the benchmark docs themselves at ratio 1.0") {
    val bench = Sampling.stratifiedSample(docs, "source", col("doc_id"), 5)
    val out = TextAnalysis.contamination(docs, "doc_id", "text",
      bench, "text", shingleSize = 8, threshold = 0.5)
    val benchIds = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    val flagged = out.filter(col("contaminated") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every benchmark doc with >= 1 shingle is fully contained in the set
    val selfRatios = out.filter(col("doc_id").isin(benchIds.toSeq: _*))
      .filter(col("n_total") > 0)
      .select("overlap_ratio").collect().map(_.getDouble(0))
    assert(selfRatios.nonEmpty && selfRatios.forall(_ == 1.0))
    assert(benchIds.subsetOf(flagged ++
      out.filter(col("n_total") === 0).collect().map(_.getLong(0)).toSet))
    // clean docs (no shared shingles) are not flagged
    assert(out.filter(col("contaminated") === 1).count() < docs.count())
  }

  test("salted join equals the plain join (semantics preserved)") {
    val li = Tables.lineitem(spark, sf0001).withColumnRenamed("l_orderkey", "jk")
      .select("jk", "l_quantity")
    val ord = Tables.orders(spark, sf0001)
      .select(col("o_orderkey").as("jk"), col("o_orderpriority"))
    val salted = SkewJoin.saltedInnerJoin(li, ord, "jk", salts = 8)
    val plain = li.join(ord, "jk")
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("approx_count_distinct within 5% of exact") {
    val li = Tables.lineitem(spark, sf0001)
    val r = li.agg(
      countDistinct("l_partkey").as("exact"),
      approx_count_distinct("l_partkey", 0.01).as("approx")).collect()(0)
    val err = math.abs(r.getLong(0) - r.getLong(1)).toDouble / r.getLong(0)
    assert(err < 0.05, s"HLL error $err")
  }

  test("approx_percentile within 1% of the exact percentile per group") {
    // the query emits the EXACT percentiles plus err_ok = "sketch within
    // 1% of exact on every percentile" — assert both halves here
    val rows = graft.SparkEntry.queries("q_approx_percentile")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(4) == 1,
      s"flag=${r.getString(0)} sketch error above 1%"))
    val li = Tables.lineitem(spark, sf0001)
    val q = rows.map(r => r.getString(0) ->
      Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    Seq(0.5, 0.9, 0.99).zipWithIndex.foreach { case (p, i) =>
      val exact = li.groupBy("l_returnflag")
        .agg(expr(s"percentile(l_extendedprice, $p)").as("x"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      exact.foreach { case (flag, ex) =>
        assert(math.abs(q(flag)(i) - ex) <= 0.005 + 1e-9,
          s"flag=$flag p=$p emitted=${q(flag)(i)} exact=$ex")
      }
    }
  }

  test("unigram NLL: common-token docs score lower than rare-token docs") {
    val scored = graft.SparkEntry.queries("text_unigram_logprob")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // driver-side replication for one doc: NLL = -mean ln(freq/total)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tf = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = toks.length.toDouble
    val doc0 = toks.filter(_._1 == 0L).map(_._2)
    val expected = -doc0.map(t =>
      BigDecimal(math.log(tf(t) / n)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble).sum / doc0.length
    assert(math.abs(scored(0L) - expected) < 1e-3,
      s"doc0 nll ${scored(0L)} vs replicated $expected")
    // corpus-level sanity: scores are positive and vary
    assert(scored.values.forall(_ > 0))
    assert(scored.values.toSet.size > 10)
  }

  test("image patches tile the payload completely and in order") {
    val patches = graft.SparkEntry.queries("mm_image_patches")(spark, sf0001)
      .filter(col("media_id") === 0).collect()
    val text = docs.filter(col("doc_id") === 0)
      .collect()(0).getAs[String]("text")
    val expectedN = math.max(math.ceil(text.length / 64.0).toInt, 1)
    assert(patches.length == expectedN)
    // full tiling: byte counts sum to the payload length, tail clipped
    assert(patches.map(_.getAs[Int]("n_bytes")).sum == text.length)
    // raster grid: patch 5 sits at row 1, col 1 when the doc is long
    patches.find(_.getAs[Int]("patch_idx") == 5).foreach { p =>
      assert(p.getAs[Int]("prow") == 1 && p.getAs[Int]("pcol") == 1)
    }
    // first patch digest equals md5 of the first 64 chars (ASCII corpus)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(text.take(64).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(patches.minBy(_.getAs[Int]("patch_idx")).getAs[String]("patch_md5") == h)
  }

  test("multimodal decode: schema contract + deterministic stub features") {
    val out = Multimodal.decodeFeatures(Multimodal.binaryView(docs))
    assert(out.schema == Multimodal.featureSchema)
    val rows = out.filter(col("media_id") === 0).collect()
    assert(rows.length == 1)
    val feats = rows(0).getSeq[Double](2)
    assert(feats.length == 4)
    // n_bytes feature equals the metadata byte count
    assert(feats(0).toLong == rows(0).getLong(1))
    // running twice gives identical features (stub is deterministic)
    val again = Multimodal.decodeFeatures(Multimodal.binaryView(docs))
      .filter(col("media_id") === 0).collect()(0).getSeq[Double](2)
    assert(feats == again)
  }

  test("chunk windows cover every token and never pad") {
    val qs = graft.SparkEntry.queries
    val chunks = qs("text_chunk_windows")(spark, sf0001)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        max(col("chunk_idx")).as("last_idx"),
        sum("n_chunk_tokens").as("sum_tokens"),
        max((col("chunk_idx") * 48 + col("n_chunk_tokens")).cast("bigint"))
          .as("max_end"))
    val joined = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .join(chunks, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val n = r.getAs[Int]("n_tokens").toLong
      // last chunk reaches the document end exactly — no dropped tail
      assert(r.getAs[Long]("max_end") == n, s"doc ${r.get(0)}: end != $n")
      // chunk count matches the ceil formula
      val expected = math.max(math.ceil((n - 64).toDouble / 48).toLong, 0L) + 1
      assert(r.getAs[Long]("n_chunks") == expected)
      // indices are dense 0..k-1
      assert(r.getAs[Int]("last_idx").toLong == expected - 1)
    }
  }

  test("pack offsets form a gapless token stream with consistent spans") {
    val out = graft.SparkEntry.queries("text_pack_offsets")(spark, sf0001)
      .orderBy("doc_id").collect()
    var expectedStart = 0L
    out.foreach { r =>
      assert(r.getAs[Long]("start_offset") == expectedStart) // gapless concat
      val first = r.getAs[Long]("first_window")
      val last = r.getAs[Long]("last_window")
      assert(first == r.getAs[Long]("start_offset") / 256)
      assert(last >= first)
      expectedStart += r.getAs[Long]("n_tokens")
    }
  }

  test("span dedup keeps exactly one global copy of every span") {
    // run the gate query's span pipeline invariants directly: total
    // kept spans == distinct span texts in the corpus, and a doc whose
    // spans are all unique rebuilds to its original text digest
    val q = graft.SparkEntry.queries("text_dedup_spans")(spark, sf0001)
    val byDoc = q.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap

    // distinct spans across the corpus == sum of kept (n_spans - n_dup)
    val distinctSpans = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(posexplode(sequence(lit(1L),
        ceil(size(col("w")).cast("double") / 10.0).cast("bigint"))),
        col("w"))
      .select(array_join(slice(col("w"),
        (col("pos") * 10 + 1).cast("int"), lit(10)), " ").as("span"))
      .distinct().count()
    val totalKept = byDoc.values.map(v => v._1 - v._2).sum
    assert(totalKept == distinctSpans,
      s"kept $totalKept != distinct spans $distinctSpans")

    // every dup-free doc's cleaned digest equals md5 of its own text
    val cleanDocs = docs.select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = byDoc.filter { case (_, (_, dups, _)) => dups == 0 }
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, (_, _, cleanMd5)) =>
      assert(cleanMd5 == cleanDocs(id), s"doc $id digest changed with 0 dups")
    }
  }

  test("boilerplate strip: same tiling as span dedup; untouched docs " +
      "rebuild exactly") {
    val strip = graft.SparkEntry.queries("text_boilerplate_strip")(
      spark, sf0001).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val spans = graft.SparkEntry.queries("text_dedup_spans")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical 10-word tiling ⇒ identical per-doc span counts
    assert(strip.keySet == spans.keySet)
    strip.foreach { case (id, (nSpans, nBoiler, _)) =>
      assert(nSpans == spans(id), s"doc $id tiling drifted")
      assert(nBoiler <= nSpans)
    }
    // a doc with zero boilerplate spans reconstructs to its own digest
    val cleanDocs = docs.select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = strip.filter { case (_, (_, b, _)) => b == 0 }
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, (_, _, cleanMd5)) =>
      assert(cleanMd5 == cleanDocs(id), s"doc $id digest changed with 0 " +
        "boilerplate spans")
    }
  }

  test("logreg training: loss falls every step from the exact null model") {
    val rows = graft.SparkEntry.queries("text_logreg_train")(spark, sf0001)
      .collect().sortBy(_.getInt(0))
    assert(rows.length == 7)
    // step 0 is the null model: zero weights, loss = -ln(0.5) at 4dp
    val r0 = rows.head
    assert(r0.getDouble(1) == 0.0 && r0.getDouble(2) == 0.0 &&
      r0.getDouble(3) == 0.0)
    assert(r0.getDouble(4) == 0.6931)
    // full-batch GD at this rate must descend MONOTONICALLY — an
    // oscillating trajectory means the step size or rounding broke
    val losses = rows.map(_.getDouble(4)).toSeq
    assert(losses.zip(losses.tail).forall { case (a, b) => b < a },
      s"loss not strictly decreasing: $losses")
    // label parity with the gated gopher rule: the null model predicts
    // keep=1 for everything, so step-0 accuracy IS the keep base rate
    val keep = graft.SparkEntry.queries("text_gopher_quality")(
      spark, sf0001).collect().map(_.getAs[Int]("keep"))
    val n = keep.length.toLong
    val base = ((2L * keep.count(_ == 1) * 10000L + n) / (2L * n))
      .toDouble / 10000
    assert(r0.getDouble(5) == base)
    // and training never does worse than always-keep
    assert(rows.forall(_.getDouble(5) >= base))
  }

  test("audio VAD: segments are exactly the contiguous runs of active " +
      "windows") {
    val wins = graft.SparkEntry.queries("mm_audio_energy")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
      .groupBy(_._1)
    val segs = graft.SparkEntry.queries("mm_audio_vad")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5)))
      .groupBy(_._1)
    assert(segs.keySet == wins.keySet)
    segs.foreach { case (mid, ss) =>
      val byIdx = wins(mid).map(w => w._2 -> w._3).toMap
      val mx = byIdx.values.max
      val active = byIdx.filter { case (_, e) => e * 2 >= mx }.keys.toSet
      // driver-side gaps-islands replay over the active set
      val runs = active.toSeq.sorted
        .foldLeft(List.empty[List[Int]]) {
          case (acc @ (h :: t), w) if h.head == w - 1 => (w :: h) :: t
          case (acc, w) => List(w) :: acc
        }.reverse.map(_.reverse)
      val expected = runs.zipWithIndex.map { case (run, i) =>
        (mid, i + 1, run.head, run.last, run.length,
          run.map(byIdx(_)).sum)
      }
      assert(ss.sortBy(_._2).toSeq == expected,
        s"media $mid segments differ from the driver replay")
      // every segment is contiguous and covers the loudest window once
      assert(expected.exists(s => byIdx(s._3) * 2 >= mx))
    }
  }

  test("code detect: fixtures flag 1/1/0 and match a string recompute") {
    val rows = graft.SparkEntry.queries("text_code_detect")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r).toMap
    // the three in-plan fixtures exercise both threshold branches
    val fx = TextAnalysis.codeDetectFixtures.toMap
    def occ(t: String, pat: String): Long = {
      val shrunk = t.replace(pat, "")
      ((t.length - shrunk.length) / pat.length).toLong
    }
    val syms = Seq("{", "}", ";", "(", ")", "=")
    val kws = Seq("def ", "import ", "return ", "class ", "function ")
    Seq(("zzfx_code_symbols", 1L), ("zzfx_code_keywords", 1L),
        ("zzfx_prose", 0L)).foreach { case (src, flagged) =>
      val r = rows(src)
      assert(r.getAs[Long]("n_docs") == 1L && r.getAs[Long]("n_code") ==
        flagged, s"$src flag")
      // density recompute straight from the literal, no Spark functions
      val t = fx(src)
      val (sym, kw) = (syms.map(occ(t, _)).sum, kws.map(occ(t, _)).sum)
      def hu4(num: Long, den: Long): Double =
        ((2 * num * 10000 + den) / (2 * den)).toDouble / 10000
      assert(r.getAs[Double]("sym_per_kchar") == hu4(1000 * sym, t.length))
      assert(r.getAs[Double]("kw_per_kchar") == hu4(1000 * kw, t.length))
      val isCode = sym * 1000 >= 15L * t.length || kw * 1000 >= 2L * t.length
      assert((if (isCode) 1L else 0L) == flagged, s"$src threshold")
    }
    // the keyword fixture must flag WITHOUT symbols, proving the OR's
    // second branch fires on its own
    assert(rows("zzfx_code_keywords").getAs[Double]("sym_per_kchar") == 0.0)
    // the synthetic corpus is symbol-free prose: no source flags via
    // symbols (keyword words could occur by chance; thresholds decide)
    rows.view.filterKeys(!_.startsWith("zzfx")).values.foreach { r =>
      assert(r.getAs[Double]("sym_per_kchar") == 0.0)
    }
  }

  test("cdc chunk kernel equals the spelled-out HOF formulation") {
    graft.functions.GraftFunctions.register(spark)
    val pows = Iterator.iterate(1L)(_ * 31L).take(8).toSeq
    val hashSum = (0 to 7).map(j =>
      s"CAST(least(ascii(substring(t, CAST(i - $j AS INT), 1)), 255) " +
        s"AS BIGINT) * ${pows(j)}").mkString(" + ")
    val media = docs
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("kind"),
        col("text"))
      .select(col("doc_id"), col("kind"),
        when(col("kind") === 0, col("text"))
          .otherwise(expr("substring(text, 38)")).as("t"))
      .filter(length(col("t")) >= 8)
    val hof = media.withColumn("bp", expr(
        s"""concat(array(CAST(0 AS BIGINT)),
          |  filter(transform(sequence(CAST(8 AS BIGINT),
          |      CAST(length(t) AS BIGINT)),
          |    i -> IF(($hashSum) % 32 = 0, i, CAST(NULL AS BIGINT))),
          |    p -> p IS NOT NULL),
          |  array(CAST(length(t) AS BIGINT)))""".stripMargin))
      .select(col("doc_id"), col("kind"), col("t"), col("bp"),
        explode(sequence(lit(1), size(col("bp")) - 1)).as("k"))
      .filter(expr("element_at(bp, k + 1) > element_at(bp, k)"))
      .select(col("doc_id"), col("kind"),
        md5(expr("substring(t, CAST(element_at(bp, k) + 1 AS INT), " +
          "CAST(element_at(bp, k + 1) - element_at(bp, k) AS INT))"))
          .as("ch"))
    val kernel = media.select(col("doc_id"), col("kind"),
      explode(graft.functions.GraftFunctions.cdcChunks(col("t"))).as("ch"))
    assert(kernel.exceptAll(hof).count() == 0 &&
      hof.exceptAll(kernel).count() == 0,
      "fused CDC kernel diverged from the HOF reference")
  }

  test("cdc dedup: content-anchored chunking catches the unaligned trim " +
      "the fixed grid provably misses") {
    val rows = graft.SparkEntry.queries("mm_cdc_dedup")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    // in-plan certifications hold at spec scale too
    assert(rows.forall(_.getAs[Int]("catch_ok") == 1))
    assert(rows.forall(_.getAs[Int]("grid_blind_ok") == 1))
    rows.foreach { r =>
      assert(r.getAs[Long]("shared") >= 1L)
      val j = r.getAs[Double]("chunk_jaccard")
      assert(j > 0.0 && j <= 1.0)
      assert(r.getAs[Long]("shared") <= r.getAs[Long]("n_chunks"))
    }
    // the boundary property itself: chunk SETS of a doc and its 37-byte
    // trim differ only near the cut — the best self-match shares most
    // chunks (median jaccard well above the pair-acceptance floor)
    val caught = rows.filter(_.getAs[Int]("caught") == 1)
      .map(_.getAs[Double]("chunk_jaccard")).sorted
    assert(caught.nonEmpty)
    assert(caught(caught.length / 2) >= 0.5,
      s"median self-match jaccard ${caught(caught.length / 2)} — " +
        "boundaries are not content-anchored")
  }

  test("quality classifier: sigmoid/keep consistency and bucket sensitivity") {
    val rows = graft.SparkEntry.queries("text_quality_classifier")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    assert(rows.length == docs.count())
    rows.foreach { case (id, raw, prob, keep) =>
      assert(prob >= 0.0 && prob <= 1.0, s"doc $id prob $prob")
      assert(keep == (if (raw >= 0) 1 else 0), s"doc $id keep/raw disagree")
      // sign(margin) and sigmoid side must agree
      if (raw > 0) assert(prob > 0.5, s"doc $id prob $prob with raw $raw")
      if (raw < 0) assert(prob < 0.5, s"doc $id prob $prob with raw $raw")
    }
    // the model must actually discriminate (not all same verdict)
    assert(rows.map(_._4).distinct.length == 2,
      "classifier should split the corpus")
    // weights regenerate deterministically and span negatives+positives
    assert(TextAnalysis.qcWeights.length == 64)
    assert(TextAnalysis.qcWeights.exists(_ < 0) &&
      TextAnalysis.qcWeights.exists(_ > 0))
    assert(TextAnalysis.qcWeights.forall(w => w >= -4 && w <= 4))
  }

  test("count-min: never underestimates; absent probe stays near zero") {
    val rows = graft.SparkEntry.queries("text_count_min")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4)))
    assert(rows.length == 9)
    val n = docs.select(explode(split(lower(col("text")), " "))).count()
    rows.foreach { case (tok, est, exact, over, bound) =>
      assert(est >= exact, s"$tok: CM must overestimate, est=$est exact=$exact")
      assert(over == 1, s"$tok overestimates flag")
      assert(bound == 1, s"$tok bound flag: est=$est exact=$exact n=$n")
      assert((est - exact) * 128 <= n, s"$tok error above 2N/w")
    }
    // the absent probe's exact count is 0 and its estimate is only
    // collision mass, far below the common words
    val absent = rows.find(_._1 == "zzxq").get
    assert(absent._3 == 0L)
    val common = rows.find(_._1 == "the").get
    assert(common._3 > absent._2,
      "common word true count should dominate absent-probe collision mass")
  }

  test("winsorized mean sits inside the clip bounds; clipping is real") {
    val rows = graft.SparkEntry.queries("q_winsorized_mean")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))
    assert(rows.length == 3)
    val total = Tables.lineitem(spark, sf0001).count()
    rows.foreach { case (flag, mean, p05, p95, clipped) =>
      assert(p05 < p95, s"$flag bounds inverted")
      assert(mean >= p05 && mean <= p95, s"$flag mean $mean outside bounds")
      assert(clipped > 0, s"$flag should clip its tails")
      assert(clipped < total / 3, s"$flag clipped too much")
    }
  }

  test("pmi top collocations: support floor holds, ranking is real") {
    val rows = graft.SparkEntry.queries("text_pmi_bigrams")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 20)
    assert(rows.forall(_._2 >= 5), "support floor cab >= 5")
    val pmis = rows.map(_._3).toSeq
    assert(pmis == pmis.sorted.reverse, "descending PMI order")
    // a collocation list that never beats independence is a broken PMI
    assert(pmis.head > 0, "top collocation must be positively associated")
  }

  test("curriculum deciles: each source fully covered, deciles ordered") {
    val rows = graft.SparkEntry.queries("text_difficulty_curriculum")(
      spark, sf0001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val bySource = rows.groupBy(_._1)
    val sourceCounts = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.keySet == sourceCounts.keySet)
    bySource.foreach { case (src, ds) =>
      assert(ds.map(_._3).sum == sourceCounts(src), s"$src doc coverage")
      assert(ds.map(_._2).toSeq.sorted == ds.map(_._2).toSeq,
        s"$src output ordered by decile")
      // decile 1 is the easiest (highest quality) — means must not rise
      val means = ds.sortBy(_._2).map(_._4).toSeq
      assert(means == means.sorted.reverse,
        s"$src decile means must be non-increasing: $means")
    }
  }

  test("histogram: 20 buckets partition every row, edges monotone") {
    val rows = graft.SparkEntry.queries("q_histogram")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (1 to 20))
    assert(rows.map(_._2).sum == Tables.lineitem(spark, sf0001).count())
    rows.foreach { case (b, _, lo, hi) =>
      assert(lo <= hi, s"bucket $b inverted") }
    // bucket ranges must not overlap: each max below the next min
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3, s"buckets ${a._1}/${b._1} overlap") }
  }

  test("funnel: stage counts are monotone and conversions consistent") {
    val r = graft.SparkEntry.queries("q_funnel")(spark, sf0001).collect()(0)
    val (nv, nc, np) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nv >= nc && nc >= np, s"funnel must narrow: $nv $nc $np")
    assert(nv > 0 && np > 0, "corpus should exercise the whole funnel")
    // emitted rates are rounded to 4dp — allow the rounding half-step
    assert(math.abs(r.getDouble(3) - nc.toDouble / nv) <= 5e-5)
    assert(math.abs(r.getDouble(4) - np.toDouble / math.max(nc, 1)) <= 5e-5)
  }

  test("binary payload roundtrip preserves bytes (sha256 stable)") {
    val a = Multimodal.binaryView(docs)
      .select(sha2(col("payload"), 256).as("h")).orderBy("h")
      .collect().map(_.getString(0)).toSeq
    val b = docs.select(sha2(col("text").cast("binary"), 256).as("h"))
      .orderBy("h").collect().map(_.getString(0)).toSeq
    assert(a == b)
  }

  test("audio windows tile every payload; features match a recomputation") {
    val rows = graft.SparkEntry.queries("mm_audio_energy")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4)))
    val texts = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // per doc: windows 0..ceil(len/160)-1, sample counts sum to len
    rows.groupBy(_._1).foreach { case (id, ws) =>
      val len = texts(id).length
      assert(ws.length == math.max((len + 159) / 160, 1))
      assert(ws.map(_._3).sum == len, s"doc $id loses samples")
      assert(ws.map(_._2).sorted.toSeq == (0 until ws.length))
    }
    // independent recomputation of one document's features
    val (id0, t0) = texts.head
    val expect = t0.getBytes("UTF-8").grouped(160).zipWithIndex.map {
      case (w, wi) =>
        val s = w.map(b => (b & 0xff) - 64)
        val zc = s.zip(s.tail).count { case (a, b) => a * b < 0 }
        (id0, wi, w.length, s.map(x => x.toLong * x).sum, zc)
    }.toSeq
    assert(rows.filter(_._1 == id0).sortBy(_._2).toSeq == expect)
  }

  test("byte entropy: known values, empty→null, and the quality ordering") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq("aabb", "abcd", "aaaa", "", "abab cdcd efef")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      .select(col("id"),
        graft.functions.GraftFunctions.byteEntropy(col("t")).as("st"))
      .select(col("id"), col("st.entropy"), col("st.n_distinct"))
      .orderBy("id").collect()
    assert(rows(0).getDouble(1) == 1.0 && rows(0).getInt(2) == 2) // aabb
    assert(rows(1).getDouble(1) == 2.0 && rows(1).getInt(2) == 4) // abcd
    assert(rows(2).getDouble(1) == 0.0 && rows(2).getInt(2) == 1) // aaaa
    assert(rows(3).isNullAt(1))                                   // empty
    // 4 repeated pairs + 2 spaces over 14 bytes: computed by hand
    //   p(space)=2/14, p(a..f)=2/14 each → uniform over 7 values
    // 7 per-byte terms each rounded to 9dp → tolerance 7·0.5e-9
    assert(math.abs(rows(4).getDouble(1) - (math.log(7) / math.log(2)))
      < 1e-7)
  }

  test("text_entropy query: corpus rows, bounds, and low-entropy flag") {
    val r = graft.SparkEntry.queries("text_entropy")(spark, sf0001).collect()
    assert(r.length ==
      Tables.documents(spark, sf0001).filter(length(col("text")) > 0).count())
    r.foreach { x =>
      val (h, k, flag) = (x.getDouble(1), x.getInt(2), x.getInt(3))
      assert(h >= 0.0 && h <= 8.0)          // byte entropy is ≤ 8 bits
      assert(h <= math.log(k.toDouble) / math.log(2.0) + 1e-9)
      assert(flag == (if (h < 3.5) 1 else 0))
    }
  }

  test("text_readability: flesch formula matches a per-doc recomputation") {
    val rows = graft.SparkEntry.queries("text_readability")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(50).foreach { r =>
      val (id, w, sent, syl, fl) = (r.getLong(0), r.getInt(1),
        r.getInt(2), r.getInt(3), r.getDouble(4))
      val text = docs(id)
      assert(w == text.split(" ", -1).length, s"doc $id words")
      assert(sent == math.max("[.!?]+".r.findAllIn(text).length, 1))
      assert(syl == "[aeiouy]+".r.findAllIn(text.toLowerCase).length)
      val ref = 206.835 - 1.015 * (w.toDouble / sent) - 84.6 * (syl.toDouble / w)
      assert(math.abs(fl - ref) < 1e-3, s"doc $id: $fl vs $ref")
    }
  }

  test("mm_scene_cut: frame energies and lag diffs are consistent") {
    val rows = graft.SparkEntry.queries("mm_scene_cut")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(rows.nonEmpty)
    val byMedia = rows.groupBy(_._1)
    byMedia.values.foreach { fs =>
      val sorted = fs.sortBy(_._2)
      assert(sorted.head._4.isEmpty, "first frame has no diff")
      sorted.sliding(2).foreach {
        case Array((_, _, e0, _), (_, _, e1, Some(d))) =>
          assert(d == e1 - e0, s"diff $d != $e1 - $e0")
        case _ => ()
      }
    }
    // energies match the independently-tested audio kernel at win=256
    val ref = Multimodal.audioWindowFeatures(
        Multimodal.binaryView(graft.Tables.documents(spark, sf0001)), 256)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    rows.take(100).foreach { case (m, f, e, _) =>
      assert(ref((m, f)) == e)
    }
  }

  test("text_bigram_logprob: NLL matches a driver-side bigram LM replay") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val allToks = docs.flatMap(_._2.split(" ", -1))
    val c1 = allToks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val v = c1.size
    val bigrams = docs.flatMap { case (_, t) =>
      val w = t.split(" ", -1); w.dropRight(1).zip(w.drop(1)) }
    val c2 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ours = graft.SparkEntry.queries("text_bigram_logprob")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    docs.take(40).foreach { case (id, t) =>
      val w = t.split(" ", -1)
      val bg = w.dropRight(1).zip(w.drop(1))
      if (bg.nonEmpty) {
        val (n, nll) = ours(id)
        assert(n == bg.length)
        val ref = -bg.map { case (a, b) =>
          math.log((c2((a, b)) + 1.0) / (c1(a) + v)) }.sum / bg.length
        assert(math.abs(nll - ref) < 1e-3, s"doc $id: $nll vs $ref")
      }
    }
  }

  test("q_langid_confusion: totals and diagonal match text_langid_quality") {
    val m = graft.SparkEntry.queries("q_langid_confusion")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    assert(m.map(_._3).sum == nDocs)
    // per-lang shares sum to 1
    m.groupBy(_._1).values.foreach { g =>
      assert(math.abs(g.map(_._4).sum - 1.0) < 0.01) }
    // diagonal agrees with the langid query's own predictions
    val preds = graft.SparkEntry.queries("text_langid_quality")(spark, sf0001)
      .join(graft.Tables.documents(spark, sf0001).select("doc_id", "lang"),
        "doc_id")
      .groupBy("lang", "lang_pred").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    m.foreach { case (l, p, n, _) => assert(preds((l, p)) == n) }
  }

  test("mm_patch_dedup finds the corpus near-dup pairs by shared patches") {
    val pairs = graft.SparkEntry.queries("mm_patch_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // the synthetic corpus contains exact/near duplicates -> nonempty
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, shared, j) =>
      assert(a < b && shared >= 3 && j > 0 && j <= 1.0001)
    }
    // exact duplicate docs (identical text) must appear with jaccard 1
    val texts = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dupPair = texts.groupBy(_._2).values.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.sliding(2).map(_.toSeq))
      .collectFirst { case Seq(a, b) => (a, b) }
    dupPair.foreach { case (a, b) =>
      val hit = pairs.find(p => p._1 == a && p._2 == b)
      assert(hit.exists(_._4 >= 0.999),
        s"exact dup ($a,$b) missing or low: $hit")
    }
  }

  test("text_hashed_features matches a local hashing-trick replay") {
    val rows = graft.SparkEntry.queries("text_hashed_features")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def fp(s: String): Long =
      s.toLowerCase.foldLeft(0L)((acc, c) => (acc * 131 + c.toInt) % 2147483629L)
    val perDoc = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
      .view.mapValues { text =>
        text.toLowerCase.split(" ", -1).toSeq
          .groupBy(t => fp(t) % 16)
          .view.mapValues(_.map(t => if (fp(t) % 32 < 16) 1L else -1L).sum)
          .toMap
      }.toMap
    val byBucket = perDoc.values.flatMap(_.toSeq).groupBy(_._1)
      .view.mapValues { ws =>
        val vs = ws.map(_._2).toSeq
        (vs.size.toLong, vs.sum, vs.map(math.abs).sum)
      }.toMap
    rows.foreach { case (b, nDocs, sumW, sumAbs) =>
      val (rn, rs, ra) = byBucket(b)
      assert(nDocs == rn && sumW == rs && sumAbs == ra, s"bucket $b")
    }
    assert(rows.map(_._1).toSeq == byBucket.keys.toSeq.sorted)
  }

  test("text_heaps_law: cumulative curve is consistent and complete") {
    val rows = graft.SparkEntry.queries("text_heaps_law")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq == (0L to 9L))
    // cumulative columns really are running sums
    assert(rows.map(_._2).sum == rows.last._4)
    rows.foldLeft(0L) { case (acc, (_, ng, _, vc, _)) =>
      assert(acc + ng == vc); vc }
    // docs_cum ends at the corpus size; vocab_cum at the distinct
    // bigram count
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.last._3 == docs.length)
    val bigrams = docs.flatMap { case (_, t) =>
      val ts = t.toLowerCase.split(" ", -1)
      ts.zip(ts.drop(1)).map(p => p._1 + " " + p._2)
    }.toSet
    assert(rows.last._4 == bigrams.size)
    // beta equals the local log-log OLS over the 10 decile points
    val pts = rows.map(r => (math.log(r._3.toDouble), math.log(r._4.toDouble)))
    val m = pts.length
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val beta = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    assert(math.abs(rows.head._5 - beta) < 1e-3,
      s"${rows.head._5} vs $beta")
  }

  test("kneser-ney: smoothing orders probes sanely and replays exactly") {
    val rows = graft.SparkEntry.queries("text_kneser_ney")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val byProbe = rows.map(r => (r._1, r._2) -> r).toMap
    // an unseen continuation with an unseen w2 gets probability 0
    val unseen = byProbe(("table", "zzxq"))
    assert(unseen._3 == 0 && unseen._6 == 0 && unseen._7 == 0)
    // a frequent seen bigram dominates the unseen one on the same history
    assert(byProbe(("table", "hash"))._7 > unseen._7)
    // KN invariants: a probability in [0,1], counts consistent, and the
    // discounted term never exceeds the raw MLE by more than the
    // continuation mass
    rows.foreach { case (_, _, c12, c1, n1w1, ncont2, pE6) =>
      assert(pE6 >= 0 && pE6 <= 1000000)
      assert(c12 <= c1 && n1w1 <= c1 && ncont2 >= 0)
      val mleE6 = math.round(c12.toDouble / c1 * 1e6)
      assert(pE6 <= mleE6 + 3L * n1w1 * 1000000 / (4 * c1) + 1,
        s"p exceeds MLE + backoff mass: $pE6 vs $mleE6")
    }
  }

  test("bpe merges: round-1 top pair matches a driver replay; round 2 re-segments") {
    val rows = graft.SparkEntry.queries("text_bpe_merges")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        r.getLong(3)))
    assert(rows.count(_._1 == 1) == 5 && rows.count(_._1 == 2) == 5)
    // driver replay of round-1 pair counting
    val words = graft.Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.lower(
        org.apache.spark.sql.functions.col("text")))
      .collect().flatMap(_.getString(0).split(" ")).filter(_.length >= 2)
    val counts = words.flatMap(w => w.sliding(2))
      .groupBy(identity).map { case (p, o) => p -> o.length.toLong }
    val top = counts.toSeq.sortBy { case (p, c) => (-c, p) }.head
    val got1 = rows.filter(_._1 == 1).minBy(_._2)
    assert((got1._3, got1._4) == top, s"$got1 vs $top")
    // round 2 counts come from the merged stream: applying the merge
    // strictly reduces the top pair's raw count (it was consumed)
    val r2 = rows.filter(_._1 == 2)
    assert(r2.forall(_._4 > 0))
    r2.filter(_._3 == top._1).foreach { r =>
      assert(r._4 < top._2, s"unconsumed merge pair survived: $r")
    }
  }

  test("bpe apply: tokenized corpus matches a driver-side 3-merge replay") {
    val rows = graft.SparkEntry.queries("text_bpe_apply")(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // driver replay: split (keeping empties, Spark split semantics),
    // then three rounds of (count pairs over len>=2 words → top by
    // count desc, pair asc → replace-all leftmost-nonoverlapping)
    var words: Array[(Long, String, Int)] = docs
      .select("doc_id", "text").collect()
      .flatMap(r => r.getString(1).toLowerCase.split(" ", -1)
        .map(w => (r.getLong(0), w, w.length)))
    for (marker <- 1 to 3) {
      val counts = words.iterator.map(_._2).filter(_.length >= 2)
        .flatMap(_.sliding(2)).toSeq
        .groupBy(identity).map { case (p, o) => p -> o.size }
      val top = counts.toSeq.sortBy { case (p, c) => (-c, p) }.head._1
      words = words.map { case (id, w, lc) =>
        (id, w.replace(top, marker.toChar.toString), lc) }
    }
    val replay = words.groupBy(_._1 / 200).map { case (b, ws) =>
      b -> (ws.length.toLong, ws.map(_._3.toLong).sum,
        ws.map(_._2.length.toLong).sum) }
    assert(rows == replay,
      s"bpe apply diverges: ${rows.toSeq.sorted.take(3)} vs " +
        s"${replay.toSeq.sorted.take(3)}")
    // merging strictly compressed the corpus
    assert(rows.values.map(_._3).sum < rows.values.map(_._2).sum)
  }

  test("bpe encode: dictionary-trained 8-merge encoding matches a driver replay") {
    val rows = graft.SparkEntry.queries("text_bpe_encode")(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // driver replay at the DICTIONARY level: freq-weighted pair counts
    // (≡ occurrence counts), 8 rank-ordered merges, then every
    // occurrence encoded through the final dictionary
    val occurrences: Array[(Long, String)] = docs
      .select("doc_id", "text").collect()
      .flatMap(r => r.getString(1).toLowerCase.split(" ", -1)
        .map(w => (r.getLong(0), w)))
    val freq: Map[String, Long] = occurrences.groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    var vocab: Map[String, String] = freq.keysIterator.map(w => w -> w).toMap
    for (marker <- 1 to 8) {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      vocab.foreach { case (w0, wc) =>
        if (wc.length >= 2)
          wc.sliding(2).foreach(p =>
            counts(p) = counts.getOrElse(p, 0L) + freq(w0))
      }
      val top = counts.toSeq.sortBy { case (p, c) => (-c, p) }.head._1
      vocab = vocab.map { case (w0, wc) =>
        w0 -> wc.replace(top, marker.toChar.toString) }
    }
    val replay = occurrences.groupBy(_._1 / 200).map { case (b, ws) =>
      b -> (ws.length.toLong, ws.map(_._2.length.toLong).sum,
        ws.map(o => vocab(o._2).length.toLong).sum) }
    assert(rows == replay,
      s"bpe encode diverges: ${rows.toSeq.sorted.take(3)} vs " +
        s"${replay.toSeq.sorted.take(3)}")
    // the full 8-merge table strictly compresses the corpus
    assert(rows.values.map(_._3).sum < rows.values.map(_._2).sum)
  }

  test("perplexity buckets: every doc lands once; bucket bounds ordered") {
    val rows = graft.SparkEntry.queries("text_perplexity_buckets")(
      spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val nDocs = rows.map(_._3).sum
    assert(nDocs == graft.Tables.documents(spark, sf0001).count())
    // bucket score ranges respect the cut points
    rows.foreach { case (_, b, _, _, mn, mx) =>
      assert(mn <= mx)
      b match {
        case "0_head"   => assert(mx < 34000)
        case "1_middle" => assert(mn >= 34000 && mx < 34040)
        case "2_tail"   => assert(mn >= 34040)
      }
    }
  }

  test("lexical diversity: token mass closes; buckets and shares in range") {
    val rows = graft.SparkEntry.queries("text_lexical_diversity")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val docs = graft.Tables.documents(spark, sf0001)
    assert(rows.map(_._2).sum == docs.count())
    // histogram token mass equals an independent whole-corpus count
    val total = docs.select(org.apache.spark.sql.functions.size(
      TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    assert(rows.map(_._3).sum == total)
    rows.foreach { case (decile, _, _, avgTypes, hapax) =>
      assert(decile >= 0 && decile <= 10)
      assert(avgTypes >= 1.0)
      assert(hapax >= 0.0 && hapax <= 1.0)
    }
  }

  test("image resize: pooling is exact on a constant image, band holds corpus-wide") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("mm_image_resize")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    // floor-pooling mass-conservation band certified on every media
    assert(rows.forall(_.getInt(6) == 1), "pool_ok flipped at sf0.001")
    // a constant 256-char image pools exactly: every level is all-65
    // ('A'), sums scale by 4 with zero floor loss
    val const = Seq((1L, "A" * 256)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("resize").toString
    const.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // stage the other tables mm queries don't read? not needed — the
    // builder only reads documents
    val r = graft.SparkEntry.queries("mm_image_resize")(spark, dir)
      .collect()(0)
    assert(r.getLong(3) == 256L * 65)           // sum16
    assert(r.getLong(4) == 64L * 65)            // sum8: exact, no loss
    assert(r.getLong(5) == 16L * 65)            // sum4
    assert(r.getInt(6) == 1)
    val expected8 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.fill(64)("65").mkString("-").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getString(1) == expected8, "8x8 digest mismatch on constant image")
  }

  test("audio fingerprint: shifted+requantized variants recovered at offset 1") {
    val rows = graft.SparkEntry.queries("mm_audio_fingerprint")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7),
        r.getInt(8)))
    assert(rows.nonEmpty)
    // the in-plan certification must hold at sf0.001 (measured 0.973)
    assert(rows.forall(_._9 == 1), "catch_ok flipped at sf0.001")
    // every self-variant match recovers the constructed 16-sample shift
    // as EXACTLY one frame of offset — the property pHash cannot have
    val self = rows.filter(r => r._2 == r._1 + 1 && r._1 % 2 == 0)
    assert(self.nonEmpty)
    assert(self.forall(_._3 == 1),
      s"self offsets != 1: ${self.filter(_._3 != 1).take(5).toSeq}")
    // verify stage contract: every surviving pair really has ratio >= .7
    rows.foreach { r =>
      assert(r._8 >= 0.7 && r._8 <= 1.0, s"ratio out of band: $r")
      assert(r._5 <= math.min(r._6, r._7), "aligned exceeds frame count")
    }
  }
}
