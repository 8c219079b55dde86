package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus splitting & sampling for training pipelines.
  *
  * The split/sample decision must be a pure function of the row key —
  * never `rand()` — so reruns, backfills, and engines agree row-for-row.
  * The key's md5 hex is uniform; comparing its first bytes against fixed
  * hex cutoffs gives reproducible proportional splits in ANY engine with
  * md5 (which is why the DuckDB oracle can check it exactly). All ops are
  * single narrow projections or one window — no shuffles beyond the
  * stated ones, no driver participation.
  */
object Sampling {

  /** Deterministic split label from the key's md5: first two hex chars
    * (one uniform byte) against cutoffs — 'cd' ≈ 80.1%, 'e6' ≈ 89.8%. */
  def hashSplit(key: Column): Column = {
    val bucket = substring(md5(key.cast("string")), 1, 2)
    when(bucket < "cd", "train").when(bucket < "e6", "val").otherwise("test")
  }

  /** Deterministic per-group sample: the n rows with the smallest
    * md5(key) in each group (uniform, reproducible, engine-agnostic).
    * One shuffle on the group key; top-n per group via window rank. */
  def stratifiedSample(df: DataFrame, groupCol: String, key: Column,
      n: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(md5(key.cast("string")))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  def defs: Seq[QueryDef] = Seq(
    // Train/val/test split profile — the driver's DuckDB oracle computes
    // the identical md5-prefix assignment, proving cross-engine
    // reproducibility of the split itself.
    QueryDef.sql(
      "q_hash_split",
      """SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
        |           THEN 'train'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("split", hashSplit(col("doc_id")))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .orderBy("split")
    },

    // Temperature-weighted corpus mixing (the pretraining source-
    // balancing step): source s with n_s docs gets an integer quota
    // ceil(3·n_s^(1/2)) — i.e. p(s) ∝ n_s^α with α=0.5, flattening the
    // natural distribution toward uniform — and keeps exactly its quota
    // of docs, chosen by md5 order. Integer quotas + hash ranking mean
    // BOTH engines select the identical doc set: no float threshold on
    // the keep decision anywhere. At 100 TB: one count agg (broadcast
    // back, 20 rows), one window rank per source partition — the same
    // shuffle stratifiedSample already pays; no driver participation.
    // sqrt/ceil are IEEE-correctly-rounded so the quota itself is also
    // engine-stable.
    QueryDef.sql(
      "q_temperature_mix",
      """WITH quota AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    LEAST(COUNT(*), CAST(ceil(3 * sqrt(COUNT(*))) AS BIGINT)) AS q
        |  FROM documents GROUP BY source),
        |ranked AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        |  FROM documents)
        |SELECT r.source, CAST(q.n_docs AS BIGINT) AS n_docs,
        |  CAST(q.q AS BIGINT) AS quota,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(r.doc_id) AS BIGINT) AS kept_id_sum
        |FROM ranked r JOIN quota q ON r.source = q.source
        |WHERE r.rk <= q.q
        |GROUP BY r.source, q.n_docs, q.q
        |ORDER BY r.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val quota = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("q", least(col("n_docs"),
          ceil(lit(3) * sqrt(col("n_docs"))).cast("long")))
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")))
      docs.withColumn("rk", row_number().over(w))
        .join(broadcast(quota), "source")
        .filter(col("rk") <= col("q"))
        .groupBy("source", "n_docs", "q")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"))
        .select(col("source"), col("n_docs"), col("q").as("quota"),
          col("n_kept"), col("kept_id_sum"))
        .orderBy("source")
    },

    // Weighted sampling without replacement (Efraimidis & Spirakis 2006
    // A-ES): each doc gets key u^(1/w) — u uniform, w = token count —
    // and the global sample is the top-k by key, so longer docs are
    // proportionally likelier but every doc can win. Instead of the
    // float form (u^(1/w) or ln(u)/w, whose rounded ln can split
    // engines at a decimal half), the key here is the MAX of w
    // independent integer hash draws: max of w uniforms is distributed
    // exactly as U^(1/w), so the top-k is the same scheme with a keep
    // decision that is pure integer comparison — no float anywhere,
    // the discipline q_temperature_mix states. Two tunings keep the
    // hash pass cheap without losing the weighting: each draw routes
    // through md5 BEFORE the 31-bit fold (the fold alone over a short
    // "id_j" string wraps the modulus only a few times and is badly
    // non-uniform — 8 md5 hex chars wrap it ~4e7 times, effectively
    // uniform), and draws are one per 4-TOKEN BLOCK (E-S with weight
    // ceil(w/4): inclusion probability stays proportional to length,
    // at a quarter of the hashing; the spec pins the resulting
    // long-doc skew). At 100 TB this is TakeOrdered — a per-partition
    // top-k heap over an O(tokens) hash pass, never a global sort;
    // the driver holds only k rows.
    QueryDef.sql(
      "q_weighted_sample",
      s"""WITH s AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS w,
        |    list_max(list_transform(
        |      generate_series(1, (len(string_split(text, ' ')) + 3) // 4),
        |      j -> ${TextAnalysis
          .fpSql("substring(md5(k || '_' || CAST(j AS VARCHAR)), 1, 8)")}
        |    )) AS samp_key
        |  FROM (SELECT doc_id, source, text,
        |        CAST(doc_id AS VARCHAR) AS k FROM documents))
        |SELECT doc_id, source, CAST(w AS INTEGER) AS w,
        |  CAST(samp_key AS BIGINT) AS samp_key
        |FROM s
        |ORDER BY samp_key DESC, doc_id LIMIT 40""".stripMargin) { (s, d) =>
      val w = size(TextAnalysis.tokens(col("text")))
      val blocks = ((w + lit(3)) / lit(4)).cast("int")
      val key = array_max(transform(sequence(lit(1), blocks),
        j => TextAnalysis.rollingFingerprint(substring(md5(
          concat(col("doc_id").cast("string"), lit("_"), j.cast("string"))),
          1, 8))))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), w.as("w"), key.as("samp_key"))
        .orderBy(col("samp_key").desc, col("doc_id")).limit(40)
    },

    // Token-budget mixture planning: given temperature-flattened source
    // shares p(s) ∝ sqrt(tokens_s) and a training budget of 2× the
    // corpus, emit each source's token target and epoch count (how many
    // times its data is repeated) — the planning step before
    // q_temperature_mix's row selection. All from ONE count aggregate
    // (20 rows broadcast back); at 100 TB the corpus is touched once.
    // Float discipline: sqrt is IEEE-exact, the rounded sqrts are summed
    // as DECIMAL (exact), and every division is a single double op
    // followed by round — both engines see identical inputs throughout.
    QueryDef.sql(
      "q_mixture_epochs",
      """WITH tok AS (
        |  SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |st AS (SELECT source, toks,
        |         round(sqrt(CAST(toks AS DOUBLE)), 6) AS s FROM tok),
        |z AS (SELECT CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS z,
        |        CAST(SUM(toks) AS BIGINT) AS total FROM st),
        |p AS (SELECT source, toks, round(s / z.z, 6) AS share, z.total
        |      FROM st, z),
        |t AS (SELECT source, toks, share,
        |        CAST(floor(share * (2.0 * total)) AS BIGINT) AS target_toks
        |      FROM p)
        |SELECT source, toks, share, target_toks,
        |  round(CAST(target_toks AS DOUBLE) / CAST(toks AS DOUBLE), 4)
        |    AS epochs
        |FROM t ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .groupBy("source")
        .agg(sum(size(TextAnalysis.tokens(col("text"))).cast("long"))
          .as("toks"))
      // st feeds the normalizer AND the output rows — persist the
      // ~20 post-aggregation rows so exactly one corpus pass happens by
      // construction, not by exchange-reuse luck
      val st = graft.CacheRegistry.register(tok
        .withColumn("s", round(sqrt(col("toks").cast("double")), 6))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val z = st.agg(
        sum(col("s").cast("decimal(18,6)")).cast("double").as("z"),
        sum("toks").as("total"))
      st.crossJoin(broadcast(z))
        .withColumn("share", round(col("s") / col("z"), 6))
        .withColumn("target_toks",
          floor(col("share") * (lit(2.0) * col("total"))).cast("long"))
        .withColumn("epochs",
          round(col("target_toks").cast("double") /
            col("toks").cast("double"), 4))
        .select("source", "toks", "share", "target_toks", "epochs")
        .orderBy("source")
    },

    // Deterministic stratified sample: 5 docs per source by md5 order —
    // oracle reproduces the window ranking exactly.
    QueryDef.sql(
      "q_stratified_sample",
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      stratifiedSample(Tables.documents(s, d), "source", col("doc_id"), 5)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    }
  )
}
