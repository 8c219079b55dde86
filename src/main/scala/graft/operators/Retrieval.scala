package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid-retrieval operators: reciprocal-rank fusion of sparse (BM25)
  * and dense (embedding-cosine) rankings, and margin-based parallel-pair
  * mining (Artetxe & Schwenk 2019's ratio margin, the CCMatrix recipe) —
  * the two retrieval shapes a training-data pipeline runs to build RAG
  * corpora and mined bitext at 100 TB.
  *
  * Scale design: both fuse bounded top-N lists, never full score sets —
  * the candidate generators are the existing sparse (BM25 TakeOrdered)
  * and dense (LSH/IVF ANN) paths, so the fusion join touches ≤ N rows
  * per query regardless of corpus size. Margin mining's k-NN means are
  * the ANN candidates' means at scale; the gate-scale build scores the
  * label cohorts exactly, which doubles as the oracle.
  */
object Retrieval {

  private def round4(c: Column): Column = round(c, 4)

  /** e4-scaled exact-integer cosine: both engines compute the raw double
    * the same way (sequential fused loop vs DuckDB list kernel — proven
    * bit-stable by sim_topk_brute), round to 4dp, then scale to BIGINT
    * so every downstream sum/ratio is integer-exact. */
  private def cos4(a: Column, b: Column): Column =
    round(graft.functions.GraftFunctions.cosine(a, b) * 10000)
      .cast("bigint")

  private val cos4Sql =
    """CAST(round((CASE WHEN list_sum(list_transform(a.emb,
      |         x -> CAST(x AS DOUBLE) * x)) = 0
      |       OR list_sum(list_transform(b.emb,
      |         x -> CAST(x AS DOUBLE) * x)) = 0
      |     THEN 0.0
      |     ELSE round(list_cosine_similarity(
      |       CAST(a.emb AS DOUBLE[]), CAST(b.emb AS DOUBLE[])), 4)
      |END) * 10000) AS BIGINT)""".stripMargin

  /** Shared oracle CTE chain ending in `fused` (doc_id, rrf, rank_dense,
    * rank_sparse) — the RRF fusion both sim_hybrid_rrf and q_ndcg rank;
    * `dsc` (the exact dense scores) is also in scope for truth rankings. */
  private[operators] val rrfFusedCteSql: String =
    s"""${TextAnalysis.bm25ScoredCteSql},
      |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
      |dsc AS (
      |  SELECT e.vec_id AS doc_id,
      |    CASE WHEN list_sum(list_transform(e.embedding,
      |             x -> CAST(x AS DOUBLE) * x)) = 0
      |           OR list_sum(list_transform(q.q_emb,
      |             x -> CAST(x AS DOUBLE) * x)) = 0
      |         THEN 0.0
      |         ELSE round(list_cosine_similarity(
      |           CAST(e.embedding AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])), 4)
      |    END AS sim
      |  FROM embeddings e, q WHERE e.vec_id <> 0),
      |dr AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rd
      |  FROM dsc QUALIFY rd <= 100),
      |sr AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rs
      |  FROM bmscored QUALIFY rs <= 100),
      |fused AS (
      |  SELECT COALESCE(dr.doc_id, sr.doc_id) AS doc_id,
      |    round(COALESCE(1.0 / (60 + dr.rd), 0) +
      |          COALESCE(1.0 / (60 + sr.rs), 0), 6) AS rrf,
      |    CAST(COALESCE(dr.rd, 0) AS INTEGER) AS rank_dense,
      |    CAST(COALESCE(sr.rs, 0) AS INTEGER) AS rank_sparse
      |  FROM dr FULL JOIN sr ON dr.doc_id = sr.doc_id)""".stripMargin

  /** Exact dense scores vs query vector 0 (doc_id, sim) — the `dsc` CTE. */
  private def denseScored(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = broadcast(emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb")))
    emb.filter(col("vec_id") =!= 0).crossJoin(q)
      .select(col("vec_id").as("doc_id"),
        round4(graft.functions.GraftFunctions.cosine(
          col("embedding"), col("q_emb"))).as("sim"))
  }

  /** The fused RRF frame (doc_id, rrf, rank_dense, rank_sparse) —
    * bounded: a full-outer join of two TakeOrdered top-100 pools. */
  private def rrfFused(s: SparkSession, d: String): DataFrame = {
    val dense = denseScored(s, d)
      .orderBy(col("sim").desc, col("doc_id")).limit(100)
      .withColumn("rd",
        row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))))
      .select("doc_id", "rd")
    val sparse = TextAnalysis.bm25Scored(s, d)
      .orderBy(col("bm25").desc, col("doc_id")).limit(100)
      .withColumn("rs",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id").as("s_doc_id"), col("rs"))
    dense.join(sparse, col("doc_id") === col("s_doc_id"), "full")
      .select(
        coalesce(col("doc_id"), col("s_doc_id")).as("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0)), 6).as("rrf"),
        coalesce(col("rd"), lit(0)).cast("int").as("rank_dense"),
        coalesce(col("rs"), lit(0)).cast("int").as("rank_sparse"))
  }

  def defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Reciprocal-rank fusion (Cormack et al. 2009, k=60) of the BM25
    // keyword ranking and the dense cosine ranking against query vector
    // 0 over the shared doc_id = vec_id item space — the standard hybrid
    // search combiner. Each list is a bounded top-100 (TakeOrdered — the
    // full scored sets are never shuffled); the fusion is a full outer
    // join of two ≤100-row frames. Determinism: both lists rank on
    // 4dp-rounded scores with id tiebreaks, and the RRF sum is the same
    // two-term double expression in both engines (identical IEEE tree on
    // small-int ranks), ranked with an id tiebreak.
    QueryDef.sql(
      "sim_hybrid_rrf",
      s"""WITH $rrfFusedCteSql
        |SELECT doc_id, rrf, rank_dense, rank_sparse, CAST(rk AS INTEGER) AS rk
        |FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
        |      FROM fused)
        |WHERE rk <= 10 ORDER BY rk""".stripMargin) { (s, d) =>
      rrfFused(s, d).orderBy(col("rrf").desc, col("doc_id")).limit(10)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("rrf").desc, col("doc_id")))
            .cast("int"))
        .orderBy("rk")
    },

    // ------------------------------------------------------------------
    // nDCG@k of the hybrid retriever against the exact-cosine truth
    // ranking — the graded-relevance eval metric for the sim_* retrieval
    // stack (ModelEval's ROC/PR/lift are binary-label; ranking quality
    // needs position-discounted gain). Truth = exact dense top-10
    // (graded rel 10..1 by truth rank); retrieved = the RRF fused
    // top-10; one row per cutoff k ∈ {1,3,5,10}. SCALE: both rankings
    // are TakeOrdered pools (≤100 rows at any corpus size), the metric
    // is arithmetic over ≤10×4 rows. Determinism: every libm log2 is
    // 6dp-rounded BEFORE the division, each DCG term is 6dp-rounded and
    // decimal-summed, and the final ratio is the exact-integer half-up-4
    // law over e6-scaled sums — no float sum order anywhere.
    QueryDef.sql(
      "q_ndcg",
      s"""WITH $rrfFusedCteSql,
        |ret AS (
        |  SELECT doc_id, CAST(rk AS INTEGER) AS i FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
        |    FROM fused) WHERE rk <= 10),
        |truth AS (
        |  SELECT doc_id, 11 - tr AS rel FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS tr
        |    FROM dsc) WHERE tr <= 10),
        |ks AS (SELECT unnest([1, 3, 5, 10]) AS k),
        |terms AS (
        |  SELECT r.i, round(COALESCE(t.rel, 0) /
        |    round(log2(r.i + 1), 6), 6) AS term
        |  FROM ret r LEFT JOIN truth t USING (doc_id)),
        |ideal AS (
        |  SELECT j, round((11 - j) / round(log2(j + 1), 6), 6) AS term
        |  FROM generate_series(1, 10) t(j)),
        |dsum AS (
        |  SELECT ks.k,
        |    SUM(CAST(terms.term AS DECIMAL(18,6))) AS dcg_d
        |  FROM ks JOIN terms ON terms.i <= ks.k GROUP BY ks.k),
        |isum AS (
        |  SELECT ks.k,
        |    SUM(CAST(ideal.term AS DECIMAL(18,6))) AS idcg_d
        |  FROM ks JOIN ideal ON ideal.j <= ks.k GROUP BY ks.k)
        |SELECT CAST(d.k AS INTEGER) AS k,
        |  CAST(d.dcg_d AS DOUBLE) AS dcg,
        |  CAST(i.idcg_d AS DOUBLE) AS idcg,
        |  ${TextAnalysis.halfUp4Sql(
             "CAST(d.dcg_d * 1000000 AS BIGINT)",
             "CAST(i.idcg_d * 1000000 AS BIGINT)")} AS ndcg
        |FROM dsum d JOIN isum i ON d.k = i.k
        |ORDER BY k""".stripMargin) { (s, d) =>
      import s.implicits._
      val ret = rrfFused(s, d)
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
        .withColumn("i",
          row_number().over(Window.orderBy(col("rrf").desc, col("doc_id")))
            .cast("int"))
        .select("doc_id", "i")
      val truth = denseScored(s, d)
        .orderBy(col("sim").desc, col("doc_id")).limit(10)
        .withColumn("tr",
          row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))))
        .select(col("doc_id"), (lit(11) - col("tr")).as("rel"))
      val terms = ret.join(broadcast(truth), Seq("doc_id"), "left")
        .select(col("i"),
          round(coalesce(col("rel"), lit(0)).cast("double") /
            round(log2(col("i") + 1), 6), 6).as("term"))
      val ideal = Seq.range(1, 11).toDF("j")
        .select(col("j"),
          round((lit(11) - col("j")).cast("double") /
            round(log2(col("j") + 1), 6), 6).as("term"))
      val ks = Seq(1, 3, 5, 10).toDF("k")
      val dsum = ks.join(terms, col("i") <= col("k"))
        .groupBy("k").agg(sum(col("term").cast("decimal(18,6)")).as("dcg_d"))
      val isum = ks.join(ideal, col("j") <= col("k"))
        .groupBy("k").agg(sum(col("term").cast("decimal(18,6)")).as("idcg_d"))
      dsum.join(isum.withColumnRenamed("k", "k2"), col("k") === col("k2"))
        .select(col("k").cast("int").as("k"),
          col("dcg_d").cast("double").as("dcg"),
          col("idcg_d").cast("double").as("idcg"),
          TextAnalysis.halfUp4(
            "CAST(dcg_d * 1000000 AS BIGINT)",
            "CAST(idcg_d * 1000000 AS BIGINT)").as("ndcg"))
        .orderBy("k")
    },

    // ------------------------------------------------------------------
    // MRR + recall@{1,5,10} of the hybrid RRF retriever against the
    // exact-cosine truth pool — with q_ndcg this completes the standard
    // retrieval-eval suite (nDCG grades positions; MRR grades the first
    // hit; recall@k grades pool coverage — the three numbers a RAG
    // corpus build reports before committing a retriever). Truth = the
    // exact dense top-10 (the relevant set); retrieved = the fused RRF
    // top-10. SCALE: both rankings are bounded TakeOrdered pools (≤100
    // rows at any corpus size; the fused frame is the outer join of two
    // top-100s), so the eval is arithmetic over ≤10×3 rows. Determinism:
    // recall and MRR are the exact-integer half-up-4 law over integer
    // hit counts and ranks — no float anywhere, so no ulp can flip a
    // value. Single-query MRR = the reciprocal rank of the first
    // relevant item (0.0 if the top-10 holds none).
    QueryDef.sql(
      "q_mrr_recall",
      s"""WITH $rrfFusedCteSql,
        |ret AS (
        |  SELECT doc_id, CAST(rk AS INTEGER) AS i FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
        |    FROM fused) WHERE rk <= 10),
        |truth AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS tr
        |    FROM dsc) WHERE tr <= 10),
        |rel AS (SELECT r.i FROM ret r JOIN truth t USING (doc_id)),
        |fr AS (SELECT MIN(i) AS fr FROM rel),
        |ks AS (SELECT unnest([1, 5, 10]) AS k)
        |SELECT CAST(ks.k AS INTEGER) AS k,
        |  CAST(COUNT(rel.i) AS BIGINT) AS hits,
        |  ${TextAnalysis.halfUp4Sql("COUNT(rel.i)", "10")} AS recall,
        |  CAST(COALESCE(fr.fr, 0) AS INTEGER) AS first_rel_rank,
        |  CASE WHEN fr.fr IS NULL THEN 0.0
        |       ELSE ${TextAnalysis.halfUp4Sql("1", "fr.fr")} END AS mrr
        |FROM ks LEFT JOIN rel ON rel.i <= ks.k, fr
        |GROUP BY ks.k, fr.fr
        |ORDER BY k""".stripMargin) { (s, d) =>
      import s.implicits._
      val ret = rrfFused(s, d)
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
        .withColumn("i",
          row_number().over(Window.orderBy(col("rrf").desc, col("doc_id")))
            .cast("int"))
        .select("doc_id", "i")
      val truth = denseScored(s, d)
        .orderBy(col("sim").desc, col("doc_id")).limit(10)
        .select("doc_id")
      // relevant positions in the retrieved list: ≤10 rows, broadcast
      val rel = graft.CacheRegistry.ensurePersisted(
        ret.join(broadcast(truth), Seq("doc_id")).select("i"))
      val fr = rel.agg(min("i").as("fr"))
      val ks = Seq(1, 5, 10).toDF("k")
      ks.join(broadcast(rel), col("i") <= col("k"), "left")
        .groupBy("k").agg(count(col("i")).as("hits"))
        .crossJoin(broadcast(fr))
        .select(col("k").cast("int").as("k"),
          col("hits").cast("bigint").as("hits"),
          TextAnalysis.halfUp4("hits", "10").as("recall"),
          coalesce(col("fr"), lit(0)).cast("int").as("first_rel_rank"),
          when(col("fr").isNull, lit(0.0))
            .otherwise(TextAnalysis.halfUp4("1", "fr")).as("mrr"))
        .orderBy("k")
    },

    // ------------------------------------------------------------------
    // Margin-based pair mining between the label-0 (source) and label-1
    // (target) cohorts: ratio margin = cos(x,y) / ((mean top-4 cos(x,·Y)
    // + mean top-4 cos(y,·X)) / 2). Everything after the 4dp cosine is
    // exact integer arithmetic: top-4 sums are BIGINT sums of e4 scores
    // and the margin is the half-up-4 law on cos4·8 / (sx4+sy4), so the
    // top-20 boundary cannot flip on float ulps. The cohort cross-score
    // (50×46 here) is the per-bucket exact rescoring step of the ANN
    // pipeline at 100 TB — candidates come from sim_topk_ann's LSH path,
    // and each side's k-NN mean uses only those candidates.
    QueryDef.sql(
      "sim_margin_mining",
      s"""WITH x AS (SELECT vec_id, embedding AS emb FROM embeddings
        |           WHERE label = 0),
        |y AS (SELECT vec_id, embedding AS emb FROM embeddings
        |      WHERE label = 1),
        |p AS (
        |  SELECT a.vec_id AS src, b.vec_id AS tgt, $cos4Sql AS c4
        |  FROM x a, y b),
        |sx AS (
        |  SELECT src, CAST(SUM(c4) AS BIGINT) AS sx4 FROM (
        |    SELECT src, c4,
        |      row_number() OVER (PARTITION BY src ORDER BY c4 DESC, tgt) AS rk
        |    FROM p) WHERE rk <= 4 GROUP BY src),
        |sy AS (
        |  SELECT tgt, CAST(SUM(c4) AS BIGINT) AS sy4 FROM (
        |    SELECT tgt, c4,
        |      row_number() OVER (PARTITION BY tgt ORDER BY c4 DESC, src) AS rk
        |    FROM p) WHERE rk <= 4 GROUP BY tgt),
        |m AS (
        |  SELECT p.src, p.tgt,
        |    ${TextAnalysis.halfUp4Sql("p.c4 * 8", "sx.sx4 + sy.sy4")} AS margin
        |  FROM p JOIN sx USING (src) JOIN sy USING (tgt)
        |  WHERE p.c4 > 0 AND sx.sx4 + sy.sy4 > 0)
        |SELECT src, tgt, margin, CAST(rk AS INTEGER) AS rk
        |FROM (SELECT *, row_number()
        |        OVER (ORDER BY margin DESC, src, tgt) AS rk
        |      FROM m)
        |WHERE rk <= 20 ORDER BY rk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val x = emb.filter(col("label") === 0)
        .select(col("vec_id").as("src"), col("embedding").as("x_emb"))
      val y = emb.filter(col("label") === 1)
        .select(col("vec_id").as("tgt"), col("embedding").as("y_emb"))
      // cohort cross-score; smaller side broadcast — one scan of the
      // larger cohort, no shuffle of raw vectors
      val p = graft.CacheRegistry.register(
        y.join(broadcast(x))
          .select(col("src"), col("tgt"),
            cos4(col("x_emb"), col("y_emb")).as("c4"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      def top4Sum(df: DataFrame, key: String, tiebreak: String,
          out: String): DataFrame = {
        val w = Window.partitionBy(key)
          .orderBy(col("c4").desc, col(tiebreak))
        df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
          .groupBy(key).agg(sum("c4").cast("bigint").as(out))
      }
      val sx = top4Sum(p, "src", "tgt", "sx4")
      val sy = top4Sum(p, "tgt", "src", "sy4")
      val m = p.join(broadcast(sx), "src").join(broadcast(sy), "tgt")
        .filter(col("c4") > 0 && col("sx4") + col("sy4") > 0)
        .select(col("src"), col("tgt"),
          TextAnalysis.halfUp4("c4 * 8", "sx4 + sy4").as("margin"))
      m.orderBy(col("margin").desc, col("src"), col("tgt")).limit(20)
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("margin").desc, col("src"), col("tgt")))
          .cast("int"))
        .orderBy("rk")
    }
  )
}
