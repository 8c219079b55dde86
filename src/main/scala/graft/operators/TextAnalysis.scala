package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over `documents`:
  * token counting, quality scoring, language identification, content
  * fingerprinting. All single-pass narrow projections built from codegen'd
  * string/regexp/higher-order functions — no UDFs, so at 100 TB each is an
  * embarrassingly parallel scan with full whole-stage codegen.
  */
object TextAnalysis {

  /** Whitespace tokens (the documents corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish word-piece count: alphanumeric runs, the robust
    * cross-engine token proxy. */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+"))

  /** Stopword ratio against a tiny embedded English list (pipeline
    * quality signal; real deployments broadcast a larger list). */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords: _*))) .cast("double") / size(toks)
  }

  /** Quality score in [0,1]: blend of length, mean token length and
    * stopword presence — deterministic arithmetic only. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val meanLen = length(text).cast("double") / nTok
    val stopR = stopwordRatio(text)
    round(least(lit(1.0),
      (least(nTok / 100, lit(1.0)) + least(meanLen / 8, lit(1.0)) +
        least(stopR * 5, lit(1.0))) / 3), 4)
  }

  /** Heuristic language ID from stopword hits per language. Returns the
    * language whose marker-word hit count is highest (ties → 'und'). The
    * marker lists are deliberately tiny; the spec measures accuracy
    * against the corpus `lang` label. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "with", "fast", "slow"),
    "de" -> Seq("der", "die", "das", "und", "mit", "schnell"),
    "fr" -> Seq("le", "la", "les", "et", "avec", "vite"),
    "es" -> Seq("el", "los", "las", "con", "rapido"),
    "zh" -> Seq("de5", "shi4", "he2"))

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scores = langMarkers.toSeq.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Deterministic rolling-hash fingerprint (polynomial over character
    * codes, mod a 31-bit prime — acc*131+c stays < 2^39, no ANSI long
    * overflow) of the lowercased text — the cheap shift-sensitive
    * content signature. */
  def rollingFingerprint(text: Column): Column = {
    val p = lit(2147483629L)
    aggregate(
      transform(split(lower(text), ""), c => ascii(c).cast("bigint")),
      lit(0L),
      (acc, c) => pmod(acc * 131L + c, p))
  }

  /** DuckDB rendering of [[rollingFingerprint]] over expression `x` —
    * the single source of truth for the oracle-side hash (base 131,
    * mod 2147483629); every oracle embeds THIS string so the fold can
    * never silently diverge between the engines. */
  def fpSql(x: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($x) + 1), " +
      s"i -> CAST(unicode($x[i]) AS BIGINT))), " +
      "(acc, c) -> (acc * 131 + c) % 2147483629)"


  /** Exact half-up rounding of num/den to 4 decimals in pure integer
    * arithmetic, `(2·num·10⁴ + den) div (2·den) / 10⁴` — THE single
    * rounding law for ratio outputs, rendered into both engines from
    * here. Float `round(num/den, 4)` is NOT engine-stable when the
    * quotient terminates on a decimal half (.xxxx5) that is not
    * binary-exact: Spark half-ups the shortest decimal string while
    * binary-rounding engines resolve the double's true ordering against
    * the half. Inputs must be non-negative integer expressions. */
  def halfUp4Sql(num: String, den: String): String =
    s"CAST((2 * ($num) * 10000 + ($den)) // (2 * ($den)) AS DOUBLE) / 10000"

  /** Spark rendering of [[halfUp4Sql]]; `num`/`den` are SQL fragments
    * over in-scope integer columns. */
  def halfUp4(num: String, den: String): Column =
    expr(s"(2 * ($num) * 10000 + ($den)) div (2 * ($den))")
      .cast("double") / 10000

  /** The BM25 decimal sum, e6-scaled to an exact integer — the
    * numerator the oracle feeds to [[halfUp4Sql]]. */
  private def bm25SumSql: String =
    """CAST(SUM(CAST(round(
      |      ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5)) *
      |        tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)),
      |      6) AS DECIMAL(18,6))) * 1000000 AS BIGINT)""".stripMargin

  /** Query term set shared by the sparse-retrieval queries
    * (text_bm25_topk, sim_hybrid_rrf). */
  val bm25QueryTerms: Seq[String] = Seq("hash", "join", "spark")

  /** Oracle CTE chain for the 8-round BPE merge-table induction over
    * the word-frequency dictionary: `words(doc_id, lang, w)` →
    * `v0(w0, wc, freq)` → … → `v8` (word → its encoded symbol string).
    * Single source for text_bpe_encode (buckets by doc_id) and
    * text_token_fertility (groups by lang) — both consumers MUST rank
    * tokens with the exact same merge table or the tokenizer eval
    * contradicts the tokenizer. */
  private def bpeVocabCteSql: String = {
    val rounds = (1 to 8).map { m =>
      s"""c$m AS (
         |  SELECT p, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(1, length(wc) - 1),
         |      i -> substring(wc, i, 2))) AS p, freq
         |    FROM v${m - 1} WHERE length(wc) >= 2)
         |  GROUP BY p),
         |t$m AS (SELECT p AS mp FROM c$m ORDER BY cnt DESC, p LIMIT 1),
         |v$m AS (SELECT w0, replace(v.wc, t.mp, chr($m)) AS wc, freq
         |        FROM v${m - 1} v, t$m t)"""
    }.mkString(",\n")
    s"""words AS (
      |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |v0 AS (
      |  SELECT w AS w0, w AS wc, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM words GROUP BY w),
      |$rounds""".stripMargin
  }

  /** Spark rendering of [[bpeVocabCteSql]]'s induction: 8 merge rounds
    * over the word-frequency dictionary of `words` (any frame with a
    * `w` column), returning (w0, wc, freq). localCheckpoint (NOT
    * persist) per round: each round's plan embeds the previous round
    * TWICE (main input + the broadcast top merge), so without
    * truncation the logical plan doubles per round — 2^8× Catalyst
    * re-analysis dominated the runtime (43 s at sf0.1 for a job that
    * executes in ~2 s). The checkpoint cuts every round to a
    * vocabulary-sized LogicalRDD leaf (the [[Dedup]] iterative-loop
    * recipe). */
  private def bpeEncodedVocab(
      words: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    var vocab = words
      .groupBy("w").agg(count(lit(1)).cast("bigint").as("freq"))
      .select(col("w").as("w0"), col("w").as("wc"), col("freq"))
      .localCheckpoint()
    for (m <- 1 to 8) {
      vocab = bpeMergeRound(vocab, m)
    }
    vocab
  }

  /** Session+corpus-memoized [[bpeEncodedVocab]]: the merge table is a
    * pure function of the corpus word multiset, and two gated queries
    * consume it (text_bpe_encode buckets by doc, text_token_fertility
    * groups by lang) — the [[Dedup.corpusPairs]] "derive the expensive
    * artifact ONCE per corpus" convention. The `words` thunk is only
    * evaluated on the first call per (session, dir). */
  private def bpeEncodedVocabShared(s: org.apache.spark.sql.SparkSession,
      d: String)(words: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.CacheRegistry.sharedFrame(
      s"bpe:vocab8:${graft.CacheRegistry.sessionToken(s)}:$d") {
      bpeEncodedVocab(words)
    }

  /** One induction round: count freq-weighted adjacent symbol pairs,
    * pick the top merge (count desc, pair asc), apply it dictionary-wide
    * as the round's 1-char marker. */
  private def bpeMergeRound(vocab: org.apache.spark.sql.DataFrame,
      m: Int): org.apache.spark.sql.DataFrame = {
    val pc = vocab.filter(length(col("wc")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(wc) - 1), i -> substring(wc, i, 2))"))
        .as("p"), col("freq"))
      .groupBy("p").agg(sum("freq").cast("bigint").as("cnt"))
    val top = pc.orderBy(desc("cnt"), col("p")).limit(1)
      .select(col("p").as("mp"))
    vocab.crossJoin(broadcast(top))
      .select(col("w0"), expr(s"replace(wc, mp, chr($m))").as("wc"),
        col("freq"))
      .localCheckpoint()
  }

  /** Oracle CTE chain ending at `bmscored(doc_id, bm25)` — every doc
    * containing a query term with its 4dp BM25 score. Single source for
    * text_bm25_topk and the RRF hybrid fusion oracle. */
  def bm25ScoredCteSql: String =
    s"""toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
      |       FROM toks GROUP BY doc_id),
      |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl
      |          FROM dl),
      |tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
      |  WHERE term IN (${bm25QueryTerms.map(t => s"'$t'").mkString(", ")})
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf
      |       GROUP BY term),
      |bmscored AS (
      |  SELECT tf.doc_id,
      |    ${halfUp4Sql(bm25SumSql, "1000000")} AS bm25
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats s
      |  GROUP BY tf.doc_id)""".stripMargin

  /** Spark twin of [[bm25ScoredCteSql]]: (doc_id, bm25) for every doc
    * matching a query term. One explode pass feeds tf; df / doclen /
    * corpus stats are broadcast-sized; per-term partials are rounded to
    * 6dp and summed through DECIMAL (double addition is not
    * associative), final score by the exact half-up-4 law. */
  def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val toks = graft.CacheRegistry.register(Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dl = toks.groupBy("doc_id")
      .agg(count(lit(1)).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      avg("dl").as("avgdl"))
    val tf = toks.filter(col("term").isin(bm25QueryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    // operand order mirrors the oracle expression exactly — float
    // arithmetic is not associative, round(6) only absorbs ulps
    val termScore = idf * col("tf") * 2.2 /
      (col("tf") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfT), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      // 4-decimal score via the shared exact-integer half-up law on
      // the e6-scaled decimal sum — a float round could land on a
      // non-binary-exact .xxxx5 half, where engines' rounding splits
      .agg(sum(round(termScore, 6).cast("decimal(18,6)")).as("sdec"))
      .select(col("doc_id"),
        halfUp4("CAST(sdec * 1000000 AS BIGINT)", "1000000").as("bm25"))
  }

  /** DuckDB rendering of [[qualityScore]] from the raw feature columns
    * `ntok` / `mean_len` / `stop_r` — THE single source of the quality
    * formula; every doc-scoring oracle interpolates this (and
    * [[qualityFeaturesSql]] for the features) so the metric cannot
    * drift apart between queries. */
  val qualityExprSql: String =
    "round(least(1.0, (least(ntok/100, 1.0) + least(mean_len/8, 1.0) " +
      "+ least(stop_r*5, 1.0)) / 3), 4)"

  /** DuckDB rendering of the three raw quality features from a column
    * `rtoks` = string_split(text, ' '); stopword list rendered from
    * [[stopwords]]. */
  val qualityFeaturesSql: String =
    "CAST(len(rtoks) AS DOUBLE) AS ntok, " +
      "CAST(length(text) AS DOUBLE) / len(rtoks) AS mean_len, " +
      s"CAST(len(list_filter(rtoks, t -> t IN (${stopwords
        .map(w => s"'$w'").mkString(",")}))) AS DOUBLE) / len(rtoks) AS stop_r"

  /** Benchmark decontamination: flag corpus docs sharing too many word
    * n-grams with a held-out evaluation set. The benchmark's distinct
    * shingle-hash set is small by definition (eval sets are thousands of
    * docs, not billions) → broadcast; the corpus side is explode →
    * broadcast-semi-join → groupBy, so the only shuffle carries (doc_id,
    * hit) pairs for docs with at least one overlap — at 100 TB that is
    * the contaminated sliver, not the corpus.
    *
    * @return (doc_id, n_total, n_hit, overlap_ratio, contaminated)
    */
  def contamination(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      shingleSize: Int = 8, threshold: Double = 0.5): DataFrame = {
    val sh = Dedup.shingleHashes(col(textCol), shingleSize)
    // persisted: the shingle projection (the operator's dominant cost)
    // feeds both the hits branch and the n_total base — without this it
    // would run twice
    val corpusSh = graft.CacheRegistry.register(
      corpus.select(col(idCol).as("doc_id"), sh.as("shs"))
        .withColumn("n_total", size(col("shs")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val benchSh = benchmark
      .select(explode(Dedup.shingleHashes(col(benchTextCol), shingleSize)).as("h"))
      .distinct()
    val hits = corpusSh
      .select(col("doc_id"), explode(col("shs")).as("h"))
      .join(broadcast(benchSh), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    corpusSh.select("doc_id", "n_total")
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("overlap_ratio",
        round(col("n_hit") / greatest(col("n_total"), lit(1)), 4))
      .withColumn("contaminated", (col("overlap_ratio") >= threshold).cast("int"))
  }

  /** In-plan fixtures for `text_code_detect`: the synthetic corpus is
    * pure lowercase prose (zero code symbols), so these three rows are
    * what actually exercises the routing thresholds — one document
    * that flags via the SYMBOL rule alone (no keywords), one via the
    * KEYWORD rule alone (no symbol characters), one prose document
    * that must NOT flag. Both engines compute them independently from
    * the same literals (Spark union / SQL VALUES), so the hash gate
    * pins the counting kernel and both threshold boundaries. Text is
    * single-quote-free by construction (embedded in a SQL literal). */
  val codeDetectFixtures: Seq[(String, String)] = Seq(
    ("zzfx_code_symbols",
      "x = (1); y = (2); z = {3}; while (x) { x = x - y; }"),
    ("zzfx_code_keywords",
      "def add import sys return value class node function call " +
        "def run import os return out"),
    ("zzfx_prose",
      "the quick brown fox jumps over the lazy dog and wanders far " +
        "away into the quiet hills before the evening settles"))

  /** In-plan fixtures for `text_garbled_detect` (same mechanics as
    * [[codeDetectFixtures]]): the clean synthetic corpus exercises
    * neither rule, so one mojibake document (non-ASCII density rule),
    * one vowelless OCR-soup document (vowel-rate rule), and one clean
    * prose document pin the thresholds at 1/1/0. Single-quote-free and
    * backslash-free by construction (embedded in SQL literals). */
  val garbledFixtures: Seq[(String, String)] = Seq(
    ("zzfx_mojibake",
      "the café report� shows résumé data with stray " +
        "Ã© mojibake pairs and a broken’ quote scattered " +
        "through otherwise ordinary text"),
    ("zzfx_ocr_soup",
      "bzzt grrr pfft tsk crwth nth str zzz krk mnt bcd fgh jkl pqrst " +
        "vwxz brr dzz kpt mgl str nch"),
    ("zzfx_clean_prose",
      "the gentle river wound through the valley and carried small " +
        "boats toward the distant harbor while children watched"))

  def defs: Seq[QueryDef] = Seq(
    // Token & character statistics with a quality signal. Oracle mirrors
    // every step in DuckDB list/regexp functions.
    QueryDef.sql(
      "text_stats",
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  round(CAST(length(text) AS DOUBLE)
        |        / len(string_split(text, ' ')), 4) AS mean_tok_len,
        |  round(CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 4) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars_calc"),
        size(toks).as("n_tokens"),
        round(length(col("text")).cast("double") / size(toks), 4)
          .as("mean_tok_len"),
        round(stopwordRatio(col("text")), 4).as("stopword_ratio"))
        .orderBy("doc_id")
    },

    // Regex token counting (BPE-ish alphanumeric runs).
    QueryDef.sql(
      "text_token_count",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INTEGER)
        |    AS n_word_tokens,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER)
        |    AS n_num_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        regexTokenCount(col("text")).cast("int").as("n_word_tokens"),
        regexp_count(col("text"), lit("[0-9]+")).cast("int").as("n_num_tokens"))
        .orderBy("doc_id")
    },

    // Content fingerprint: md5 (oracle-checkable) — the exact-dedup key.
    QueryDef.sql(
      "text_fingerprint",
      """SELECT doc_id, md5(text) AS fp_md5 FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("fp_md5"))
        .orderBy("doc_id")
    },

    // Rolling polynomial fingerprint. Oracle: the identical fold in
    // DuckDB list_reduce over per-char codepoints (corpus is ASCII, so
    // Spark ascii == DuckDB unicode per char; spec additionally asserts
    // determinism and shift-sensitivity).
    QueryDef.sql(
      "text_rolling_fingerprint",
      s"""SELECT doc_id, ${fpSql("t")} AS fp64
        |FROM (SELECT doc_id, lower(text) AS t FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), rollingFingerprint(col("text")).as("fp64"))
        .orderBy("doc_id")
    },

    // Language ID + quality score. Both are deterministic arithmetic over
    // token lists, so the oracle replicates them exactly: Spark's
    // greatest() over (hits, lang) structs = DuckDB list_sort ascending,
    // last element (struct comparison is field-order lexicographic in
    // both engines). The spec additionally checks langid accuracy against
    // the corpus `lang` label.
    QueryDef.sql(
      "text_langid_quality",
      s"""SELECT doc_id,
        |  CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred,
        |  $qualityExprSql AS quality
        |FROM (
        |  SELECT doc_id,
        |    list_sort([
        |${langMarkers.toSeq.map { case (lang, words) =>
          s"      {'hits': len(list_filter(toks, t -> t IN (${words
            .map(w => s"'$w'").mkString(",")}))), 'lang': '$lang'}"
        }.mkString(",\n")}
        |    ])[-1] AS best,
        |    $qualityFeaturesSql
        |  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS toks,
        |        string_split(text, ' ') AS rtoks
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documentsPar(s, d)
        .select(col("doc_id"), langId(col("text")).as("lang_pred"),
          qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // Language-ID confusion matrix: predicted vs true language with
    // per-true-language share — the evaluation table for the langid
    // filter (which languages bleed into which). One map-side-combined
    // count over the |langs|² grid plus a window share on that
    // broadcast-sized frame. Same single-source langMarkers rendering
    // as text_langid_quality.
    QueryDef.sql(
      "q_langid_confusion",
      s"""WITH pred AS (
        |  SELECT lang,
        |    CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END
        |      AS lang_pred
        |  FROM (
        |    SELECT lang, list_sort([
        |${langMarkers.toSeq.map { case (lang, words) =>
          s"      {'hits': len(list_filter(toks, t -> t IN (${words
            .map(w => s"'$w'").mkString(",")}))), 'lang': '$lang'}"
        }.mkString(",\n")}
        |    ])[-1] AS best
        |    FROM (SELECT lang, string_split(lower(text), ' ') AS toks
        |          FROM documents)))
        |SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(COUNT(*) AS DOUBLE)
        |    / SUM(COUNT(*)) OVER (PARTITION BY lang), 4) AS share
        |FROM pred GROUP BY lang, lang_pred
        |ORDER BY lang, lang_pred""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      Tables.documents(s, d)
        .select(col("lang"), langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
        .withColumn("share",
          round(col("n").cast("double") / sum("n").over(w), 4))
        .orderBy("lang", "lang_pred")
    },

    // PII-style masking: emails and long digit runs replaced with typed
    // placeholder tokens — the standard pre-training redaction pass, as a
    // single codegen'd projection. Oracle needs DuckDB's 'g' flag (Spark
    // regexp_replace is global by default).
    QueryDef.sql(
      "text_pii_redact",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[0-9]{4,}')) AS INTEGER)
        |    AS n_num_redactions
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>")),
          lit("[0-9]{4,}"), lit("<NUM>")).as("redacted"),
        regexp_count(col("text"), lit("[0-9]{4,}")).cast("int")
          .as("n_num_redactions"))
        .orderBy("doc_id")
    },

    // Benchmark decontamination against a deterministic held-out sample
    // (5 docs/source): the sampled docs must flag themselves, and their
    // near-dups surface through shared shingles. Oracle: the same
    // md5-ranked sample + 8-gram shingle-STRING overlap — hash matches
    // equal string matches up to 31-bit collisions (negligible and
    // deterministic). TextMultimodalSpec additionally pins recall.
    QueryDef.sql(
      "text_contamination",
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(words) - 6),
        |      i -> array_to_string(words[i:i+7], ' '))) AS shs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |), bench AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        |    FROM documents) WHERE rk <= 5
        |), bsh AS (
        |  SELECT DISTINCT unnest(sh.shs) AS h FROM sh JOIN bench USING (doc_id)
        |), exploded AS (
        |  SELECT doc_id AS e_doc, unnest(shs) AS h FROM sh
        |), hits AS (
        |  SELECT e_doc, CAST(COUNT(*) AS BIGINT) AS n_hit
        |  FROM exploded JOIN bsh USING (h) GROUP BY e_doc
        |)
        |SELECT sh.doc_id, CAST(len(sh.shs) AS INTEGER) AS n_total, hits.n_hit,
        |  round(CAST(hits.n_hit AS DOUBLE) / greatest(len(sh.shs), 1), 4)
        |    AS overlap_ratio,
        |  CAST(round(CAST(hits.n_hit AS DOUBLE) / greatest(len(sh.shs), 1), 4)
        |    >= 0.5 AS INTEGER) AS contaminated
        |FROM sh JOIN hits ON sh.doc_id = hits.e_doc
        |WHERE hits.n_hit > 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bench = Sampling.stratifiedSample(docs, "source", col("doc_id"), 5)
      contamination(Tables.documentsPar(s, d), "doc_id", "text", bench,
          "text",
          shingleSize = 8, threshold = 0.5)
        .filter(col("n_hit") > 0)
        .orderBy("doc_id")
    },

    // TF-IDF relevance scoring: per-doc top-3 terms by tf·ln(N/df).
    // Explode → (doc, term) counts → broadcast-size document-frequency
    // table joined back → window top-k. At 100 TB the df table is
    // vocabulary-sized (broadcast) and everything else is one shuffle
    // on the term. ln() ulp drift across engines is absorbed by the
    // 4-decimal round like every float aggregate here.
    QueryDef.sql(
      "q_tfidf_top_terms",
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id < 50),
        |tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM terms GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(n.n / df.df), 4) AS tfidf
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term, tfidf FROM (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS rk
        |  FROM scored)
        |WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin) { (s, d) =>
      // one explode pass: tf is the only consumer of raw terms; df and n
      // both derive from (persisted) tf. Ranking uses the ROUNDED score
      // so the rank-3 boundary can't flip on cross-engine ln() ulps.
      val tf = graft.CacheRegistry.register(Tables.documentsPar(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = tf.select(countDistinct("doc_id").as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n").cast("double") / col("df")), 4))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"))
        .orderBy("doc_id", "term")
    },

    // BM25 keyword search (Robertson/Okapi, k1=1.2 b=0.75) — the sparse
    // retrieval twin of the vector top-k queries: score every document
    // against a query term set and return the global top-10. Shapes:
    // one explode pass feeds tf; df/doclen/corpus stats are broadcast-
    // sized; the ranking is TakeOrdered on the rounded score. Cross-
    // engine determinism: every per-term partial is rounded to 6dp and
    // summed through DECIMAL (double addition is not associative), the
    // final score rounds to 4dp, and the top-10 boundary ranks on the
    // rounded score with a doc_id tiebreak.
    QueryDef.sql(
      "text_bm25_topk",
      s"""WITH $bm25ScoredCteSql
        |SELECT doc_id, bm25, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT doc_id, bm25,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        |  FROM bmscored)
        |WHERE rk <= 10 ORDER BY rk""".stripMargin) { (s, d) =>
      val scored = bm25Scored(s, d)
      // global top-10 via sort+limit → TakeOrderedAndProject (no
      // single-partition shuffle of the full scored set); row_number
      // then ranks only the 10 surviving rows
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bm25").desc, col("doc_id"))
      scored.orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("bm25"), col("rk").cast("int").as("rk"))
        .orderBy("rk")
    },

    // Gopher-style repetition filters (Rae et al. 2021 §A1.1): per-doc
    // top-bigram fraction and duplicate-5-gram fraction, plus the keep
    // verdict — boilerplate/loop detection that MinHash (whole-doc) and
    // span dedup (cross-doc) don't cover. The n-gram arrays are built
    // from a MATERIALIZED token attribute (lambdas over a computed
    // split() would re-tokenize per element — Catalyst does not CSE
    // inside lambda bodies); two narrow doc_id-keyed aggregations, no
    // corpus-wide state.
    QueryDef.sql(
      "text_repetition",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM w WHERE len(toks) >= 2),
        |bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
        |bstat AS (
        |  SELECT doc_id,
        |    ${halfUp4Sql("MAX(c)", "SUM(c)")} AS top_bigram_frac
        |  FROM bgc GROUP BY doc_id),
        |fg AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
        |    i -> array_to_string(toks[i:i+4], ' '))) AS g
        |  FROM w WHERE len(toks) >= 5),
        |fstat AS (
        |  SELECT doc_id,
        |    ${halfUp4Sql("COUNT(*) - COUNT(DISTINCT g)", "COUNT(*)")}
        |      AS dup_5gram_frac
        |  FROM fg GROUP BY doc_id)
        |SELECT w.doc_id,
        |  coalesce(b.top_bigram_frac, 0.0) AS top_bigram_frac,
        |  coalesce(f.dup_5gram_frac, 0.0) AS dup_5gram_frac,
        |  CAST(coalesce(b.top_bigram_frac, 0.0) < 0.2
        |    AND coalesce(f.dup_5gram_frac, 0.0) < 0.3 AS INTEGER) AS keep
        |FROM w LEFT JOIN bstat b USING (doc_id) LEFT JOIN fstat f USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin) { (s, d) =>
      // r15 opt 2 (guide §2.4 — remove shuffles outright): both stats
      // are per-doc functions of the token array, so they compute
      // IN-ROW — max bigram multiplicity = longest equal-run of the
      // SORTED bigram array (multiset count, order irrelevant), and the
      // dup-5-gram count = n − |array_distinct|. The previous shape
      // exploded both n-gram frames through two doc_id-keyed aggregate
      // exchanges and left-joined them back; this is one map-only
      // projection plus the output sort — embarrassingly parallel at
      // any corpus size, zero shuffled n-gram bytes.
      // bigrams from zip_with over the shifted copy (null-padded tail
      // pairs concat to null and are filtered); 5-grams via index windows
      // over the toks ATTRIBUTE (cheap element access, no re-split)
      val bigrams = filter(
        zip_with(col("toks"), slice(col("toks"), lit(2), size(col("toks"))),
          (a, b) => concat_ws(" ", a, b)),
        g => size(split(g, " ")) === 2)
      val fivegrams = when(size(col("toks")) >= 5,
        transform(sequence(lit(1), size(col("toks")) - 4),
          i => array_join(slice(col("toks"), i, lit(5)), " ")))
        .otherwise(array().cast("array<string>"))
      // longest equal-run of the sorted array == the old
      // groupBy(doc_id, g).count().max() (both count the most frequent
      // bigram's multiplicity); <=> absorbs the NULL-prev seed
      val maxRun = expr(
        """aggregate(array_sort(bg),
          |  named_struct('p', CAST(NULL AS STRING),
          |    'r', CAST(0 AS BIGINT), 'm', CAST(0 AS BIGINT)),
          |  (a, x) -> named_struct('p', x,
          |    'r', IF(x <=> a.p, a.r + 1, CAST(1 AS BIGINT)),
          |    'm', GREATEST(a.m,
          |      IF(x <=> a.p, a.r + 1, CAST(1 AS BIGINT)))),
          |  a -> a.m)""".stripMargin)
      // ratios at 4 decimals via the shared exact-integer half-up law
      // (halfUp4): per-doc denominators are small, where a float
      // quotient can land on a non-binary-exact .xxxx5 half; empty
      // n-gram arrays take the old no-row left-join branch (0.0)
      Tables.documentsPar(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), bigrams.as("bg"), fivegrams.as("fg"))
        .select(col("doc_id"),
          maxRun.as("mx"), size(col("bg")).cast("bigint").as("sm"),
          size(col("fg")).cast("bigint").as("nn"),
          size(array_distinct(col("fg"))).cast("bigint").as("dd"))
        .select(col("doc_id"),
          when(col("sm") > 0, halfUp4("mx", "sm")).otherwise(0.0)
            .as("top_bigram_frac"),
          when(col("nn") > 0, halfUp4("nn - dd", "nn")).otherwise(0.0)
            .as("dup_5gram_frac"))
        .select(col("doc_id"), col("top_bigram_frac"),
          col("dup_5gram_frac"),
          (col("top_bigram_frac") < 0.2 && col("dup_5gram_frac") < 0.3)
            .cast("int").as("keep"))
        .orderBy("doc_id")
    },

    // Overlapping token-window chunking (size 64, stride 48) — the
    // standard RAG / pretraining chunker. One posexplode over computed
    // window starts; the chunk text never leaves the row (md5 digest
    // makes it oracle-checkable). At 100 TB this is a narrow
    // embarrassingly-parallel projection with ~n/stride fan-out.
    QueryDef.sql(
      "text_chunk_windows",
      """SELECT doc_id, CAST(ci - 1 AS INTEGER) AS chunk_idx,
        |  CAST(len(words[s:s+63]) AS INTEGER) AS n_chunk_tokens,
        |  md5(array_to_string(words[s:s+63], ' ')) AS chunk_md5
        |FROM (
        |  SELECT doc_id, words, ci, CAST(1 + (ci - 1) * 48 AS BIGINT) AS s
        |  FROM (
        |    SELECT doc_id, words,
        |      unnest(range(1, greatest(
        |        CAST(ceil((len(words) - 64) / 48.0) AS BIGINT), 0) + 2)) AS ci
        |    FROM (SELECT doc_id, string_split(text, ' ') AS words
        |          FROM documents)))
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      // starts 1, 49, 97, … until the window reaches the doc end:
      // count = ceil(max(n-64,0)/48) + 1 — the tail is covered by a
      // shorter final chunk, never dropped, never a redundant sub-chunk
      val words = split(col("text"), " ")
      val nChunksM1 = greatest(
        ceil((size(col("words")) - 64).cast("double") / 48.0), lit(0L))
      Tables.documents(s, d)
        .select(col("doc_id"), words.as("words"))
        .select(col("doc_id"), col("words"),
          posexplode(sequence(lit(1L), lit(1L) + lit(48L) * nChunksM1, lit(48L))))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          size(slice(col("words"), col("col").cast("int"), lit(64))).cast("int")
            .as("n_chunk_tokens"),
          md5(array_join(slice(col("words"), col("col").cast("int"), lit(64)), " "))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Sequence packing for fixed context windows (GPT-style: concatenate
    // the token stream in doc_id order, slice into 256-token windows).
    // Expressed relationally as a SHARDED prefix sum — each doc learns
    // its start offset and the window span it lands in; no sequential
    // driver loop, identical layout on any engine. SCALE: the running
    // sum rides [[GlobalRank.withRunningWeight]] (range-repartition on
    // doc_id, per-partition running sums, broadcast partition offsets)
    // — NO corpus-wide single-partition window; exclusive start =
    // inclusive cumulative − n, exact in BIGINT.
    QueryDef.sql(
      "text_pack_offsets",
      """SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(start AS BIGINT) AS start_offset,
        |  CAST(start // 256 AS BIGINT) AS first_window,
        |  CAST((start + n - 1) // 256 AS BIGINT) AS last_window
        |FROM (
        |  SELECT doc_id, n,
        |    coalesce(SUM(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n"))
      GlobalRank.withRunningWeight(base, lit(0L), col("doc_id"), col("n"))
        .withColumn("start", col("cw") - col("n"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          col("start").as("start_offset"),
          expr("start div 256").as("first_window"),
          expr("(start + n - 1) div 256").as("last_window"))
        .orderBy("doc_id")
    },

    // Corpus-level quality aggregation by source (pipeline triage view).
    QueryDef.sql(
      "text_source_profile",
      """SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
        |  round(CAST(SUM(CAST(length(text) AS BIGINT)) AS DOUBLE) / COUNT(*), 4)
        |    AS mean_chars
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("bigint")).as("total_chars"),
          round(sum(length(col("text")).cast("bigint")).cast("double")
            / count(lit(1)), 4).as("mean_chars"))
        .orderBy("source", "lang")
    },

    // Gopher-style document quality filter: the repetition + lexical
    // signals (max-word dominance, distinct-word diversity, stopword
    // presence, mean word length) behind large-scale pretraining corpus
    // filtering. One explode + two-stage hash aggregation — the word
    // shuffle carries narrow (doc_id, word) pairs with map-side combine,
    // and every signal reduces in one pass; nothing per-doc is collected.
    QueryDef.sql(
      "text_gopher_quality",
      """WITH wc AS (
        |  SELECT doc_id, word, COUNT(*) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  GROUP BY doc_id, word)
        |SELECT doc_id,
        |  CAST(SUM(cnt) AS BIGINT) AS n_words,
        |  round(CAST(SUM(cnt * length(word)) AS DOUBLE) / SUM(cnt), 4)
        |    AS mean_word_len,
        |  round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS max_word_ratio,
        |  round(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 4) AS distinct_ratio,
        |  round(CAST(SUM(CASE WHEN word IN
        |      ('the','a','of','and','to','in','is') THEN cnt ELSE 0 END)
        |    AS DOUBLE) / SUM(cnt), 4) AS stopword_ratio,
        |  CAST(SUM(cnt) >= 20
        |    AND CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) < 0.2
        |    AND CAST(COUNT(*) AS DOUBLE) / SUM(cnt) > 0.2
        |    AND SUM(CASE WHEN word IN
        |      ('the','a','of','and','to','in','is') THEN cnt ELSE 0 END) > 0
        |    AS INTEGER) AS keep
        |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val wc = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      val maxRatio = max("cnt").cast("double") / sum("cnt")
      val distinctRatio = count(lit(1)).cast("double") / sum("cnt")
      val stopHits = sum(when(col("word").isin(stopwords: _*), col("cnt"))
        .otherwise(0L))
      wc.groupBy("doc_id").agg(
          sum("cnt").as("n_words"),
          round(sum(col("cnt") * length(col("word"))).cast("double")
            / sum("cnt"), 4).as("mean_word_len"),
          round(maxRatio, 4).as("max_word_ratio"),
          round(distinctRatio, 4).as("distinct_ratio"),
          round(stopHits.cast("double") / sum("cnt"), 4).as("stopword_ratio"),
          (sum("cnt") >= 20 && maxRatio < 0.2 && distinctRatio > 0.2 &&
            stopHits > 0).cast("int").as("keep"))
        .orderBy("doc_id")
    },

    // Corpus-level heavy hitters: top-20 bigrams by DOCUMENT frequency
    // (boilerplate / template detection — the exact counterpart of a
    // count-min sketch pass). Per-doc DISTINCT bigrams keep the shuffle
    // bounded by vocabulary, global counts map-side combine, and the
    // top-k is TakeOrdered (no full sort). Ranked on (df, bigram) — a
    // total order, so the LIMIT boundary is deterministic cross-engine.
    QueryDef.sql(
      "text_top_ngrams",
      """SELECT ngram, CAST(COUNT(*) AS BIGINT) AS df
        |FROM (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i + 1]))) AS ngram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents))
        |GROUP BY ngram ORDER BY df DESC, ngram LIMIT 20""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      // zip_with pads the shorter side with null → the trailing
      // (last-token, null) pair concat()s to null and is filtered out
      val bigrams = array_distinct(filter(
        zip_with(toks, slice(toks, lit(2), greatest(size(toks), lit(1))),
          (x, y) => concat(x, lit(" "), y)),
        b => b.isNotNull))
      Tables.documents(s, d)
        .select(explode(bigrams).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram")).limit(20)
    },

    // ------------------------------------------------------------------
    // Unigram language-model scoring (the perplexity-style quality
    // filter): build the corpus term-frequency table, join it back to
    // the token stream, and score each doc by mean negative log
    // probability — high NLL = rare-token-dense = likely noise. Two
    // shuffles total (term agg + doc re-agg); the TF table is
    // vocabulary-sized (≪ corpus at 100 TB) so the scoring join
    // broadcasts in production. Cross-engine exactness: ln is rounded
    // to 6 decimals PER TOKEN (absorbs last-ulp libm differences),
    // then summed as DECIMAL — order-free and bit-stable.
    QueryDef.sql(
      "text_unigram_logprob",
      """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  round(CAST(-SUM(CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS nll
        |FROM (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)) tok
        |JOIN (SELECT term, COUNT(*) AS cnt FROM (
        |        SELECT unnest(string_split(text, ' ')) AS term
        |        FROM documents) GROUP BY term) tf USING (term)
        |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        |        SELECT unnest(string_split(text, ' ')) AS term
        |        FROM documents))
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.documentsPar(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = tf.agg(sum(col("cnt")).cast("bigint").as("n"))
      tok.join(tf, "term")
        .crossJoin(broadcast(total))
        .withColumn("lp",
          round(log(col("cnt").cast("double") / col("n").cast("double")), 6)
            .cast("decimal(18,6)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round((-sum(col("lp"))).cast("double") / count(lit(1)), 4).as("nll"))
        .orderBy("doc_id")
    },

    // ------------------------------------------------------------------
    // Kneser–Ney smoothed bigram probabilities (d = 3/4) for a fixed
    // probe set — the LM-smoothing backbone behind perplexity filters
    // and n-gram contamination scores. Every KN ingredient is a count
    // over the bigram-TYPE frame (continuation fan-outs N1+(w1,·),
    // N1+(·,w2), the type total) — vocabulary-bounded, tiny at any
    // corpus size. DETERMINISM: with d = 3/4 the probability is the
    // exact rational [(4·c12−3)·Ntot + 3·N1w1·Ncont2] / (4·c1·Ntot)
    // (first term dropped when c12 = 0), emitted half-up e6-scaled in
    // pure integer arithmetic — no float division anywhere.
    QueryDef.sql(
      "text_kneser_ney",
      """WITH bg AS (
        |  SELECT b[1] AS w1, b[2] AS w2 FROM (
        |    SELECT string_split(unnest(list_transform(
        |      generate_series(1, len(ts) - 1),
        |      i -> ts[i] || ' ' || ts[i + 1])), ' ') AS b
        |    FROM (SELECT string_split(lower(text), ' ') AS ts
        |          FROM documents)
        |    WHERE len(ts) >= 2)),
        |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        |        FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |         CAST(COUNT(*) AS BIGINT) AS n1w1
        |       FROM c12 GROUP BY w1),
        |nc2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont2
        |        FROM c12 GROUP BY w2),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntot FROM c12),
        |probes AS (SELECT p[1] AS w1, p[2] AS w2 FROM (
        |  SELECT string_split(unnest(['table hash', 'part filter',
        |    'merge group', 'customer join', 'table zzxq', 'hash table']),
        |    ' ') AS p))
        |SELECT p.w1, p.w2, coalesce(x.c12, 0) AS c12, c1.c1, c1.n1w1,
        |  coalesce(nc2.ncont2, 0) AS ncont2,
        |  CAST((2 * (CASE WHEN coalesce(x.c12, 0) > 0
        |        THEN (4 * x.c12 - 3) * nt.ntot ELSE 0 END
        |      + 3 * c1.n1w1 * coalesce(nc2.ncont2, 0)) * 1000000
        |      + 4 * c1.c1 * nt.ntot) // (2 * 4 * c1.c1 * nt.ntot)
        |    AS BIGINT) AS p_kn_e6
        |FROM probes p
        |JOIN c1 ON p.w1 = c1.w1
        |LEFT JOIN c12 x ON p.w1 = x.w1 AND p.w2 = x.w2
        |LEFT JOIN nc2 ON p.w2 = nc2.w2
        |CROSS JOIN nt
        |ORDER BY p.w1, p.w2""".stripMargin) { (s, d) =>
      val toksL = tokens(lower(col("text")))
      val bgs = filter(
        zip_with(toksL, slice(toksL, lit(2), greatest(size(toksL), lit(1))),
          (x, y) => concat(x, lit(" "), y)),
        b => b.isNotNull)
      val bg = Tables.documentsPar(s, d)
        .select(explode(bgs).as("b"))
        .select(split(col("b"), " ").getItem(0).as("w1"),
          split(col("b"), " ").getItem(1).as("w2"))
      val c12 = graft.CacheRegistry.ensurePersisted(
        bg.groupBy("w1", "w2").agg(count(lit(1)).cast("bigint").as("c12")))
      val c1 = c12.groupBy("w1")
        .agg(sum("c12").cast("bigint").as("c1"),
          count(lit(1)).cast("bigint").as("n1w1"))
      val nc2 = c12.groupBy("w2")
        .agg(count(lit(1)).cast("bigint").as("ncont2"))
      val nt = c12.agg(count(lit(1)).cast("bigint").as("ntot"))
      val probes = {
        import s.implicits._
        Seq(("table", "hash"), ("part", "filter"), ("merge", "group"),
          ("customer", "join"), ("table", "zzxq"), ("hash", "table"))
          .toDF("w1", "w2")
      }
      probes
        .join(c1, "w1")
        .join(c12.withColumnRenamed("c12", "c12x"), Seq("w1", "w2"), "left")
        .join(nc2, Seq("w2"), "left")
        .crossJoin(broadcast(nt))
        .select(col("w1"), col("w2"),
          coalesce(col("c12x"), lit(0L)).as("c12"), col("c1"), col("n1w1"),
          coalesce(col("ncont2"), lit(0L)).as("ncont2"),
          expr("""CAST((2 * (CASE WHEN coalesce(c12x, 0) > 0
            |    THEN (4 * c12x - 3) * ntot ELSE 0 END
            |    + 3 * n1w1 * coalesce(ncont2, 0)) * 1000000
            |    + 4 * c1 * ntot) div (2 * 4 * c1 * ntot)
            |  AS BIGINT)""".stripMargin).as("p_kn_e6"))
        .orderBy("w1", "w2")
    },

    // ------------------------------------------------------------------
    // Perplexity-bucket shard grid (the CCNet curation step): score each
    // doc by unigram NLL (the text_unigram_logprob model), cut into
    // head/middle/tail quality buckets on an EXACT e4-scaled integer
    // score (no float threshold anywhere — the half-up scaled division
    // runs in BIGINT), and emit the lang × bucket grid a curriculum
    // sampler consumes. SCALE: the same two-shuffle shape as the NLL
    // scorer (vocabulary agg broadcasts back, one doc re-agg) plus one
    // grid aggregate over lang × 3 buckets.
    QueryDef.sql(
      "text_perplexity_buckets",
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
        |doc AS (
        |  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(-SUM(CAST(round(ln(CAST(cnt AS DOUBLE)
        |        / CAST(n.n AS DOUBLE)), 6) AS DECIMAL(18,6))) * 1000000
        |      AS BIGINT) AS s_e6
        |  FROM tok JOIN tf USING (term) CROSS JOIN n
        |  GROUP BY doc_id, lang),
        |scored AS (
        |  SELECT lang, n_tokens,
        |    (2 * s_e6 + 100 * n_tokens) // (200 * n_tokens) AS nll_e4
        |  FROM doc)
        |SELECT lang,
        |  CASE WHEN nll_e4 < 34000 THEN '0_head'
        |       WHEN nll_e4 < 34040 THEN '1_middle'
        |       ELSE '2_tail' END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(MIN(nll_e4) AS BIGINT) AS min_nll_e4,
        |  CAST(MAX(nll_e4) AS BIGINT) AS max_nll_e4
        |FROM scored GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin) { (s, d) =>
      val tok = Tables.documentsPar(s, d)
        .select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("term"))
      val tf = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = tf.agg(sum(col("cnt")).cast("bigint").as("n"))
      val doc = tok.join(tf, "term")
        .crossJoin(broadcast(total))
        .withColumn("lp",
          round(log(col("cnt").cast("double") / col("n").cast("double")), 6)
            .cast("decimal(18,6)"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).cast("bigint").as("n_tokens"),
          ((-sum(col("lp"))) * 1000000).cast("bigint").as("s_e6"))
      doc
        .withColumn("nll_e4",
          expr("(2 * s_e6 + 100 * n_tokens) div (200 * n_tokens)"))
        .groupBy(col("lang"),
          when(col("nll_e4") < 34000, "0_head")
            .when(col("nll_e4") < 34040, "1_middle")
            .otherwise("2_tail").as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_tokens").cast("bigint").as("n_tokens"),
          min("nll_e4").cast("bigint").as("min_nll_e4"),
          max("nll_e4").cast("bigint").as("max_nll_e4"))
        .orderBy("lang", "bucket")
    },

    // ------------------------------------------------------------------
    // BPE vocabulary induction, round-unrolled: the first two merge
    // rounds of byte-pair encoding over the word corpus. Round 1 counts
    // adjacent symbol pairs (2-char substrings of each word occurrence),
    // picks the top merge (count desc, pair asc — a total order), applies
    // it corpus-wide as a 1-char marker substitution (replace() is
    // leftmost-nonoverlapping in both engines), and round 2 re-counts
    // over the re-segmented symbol stream. The training step behind
    // every BPE/WordPiece tokenizer, expressed as two aggregate+
    // broadcast passes. SCALE: pair frames are symbol-alphabet-bounded
    // (≤ |alphabet|² rows); the merge rides a 1-row broadcast; the only
    // corpus-sized work is two codegen'd projections. The top-5 ranking
    // windows sit above LIMIT 5 frames (bounded).
    QueryDef.sql(
      "text_bpe_merges",
      """WITH w AS (
        |  SELECT w FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) >= 2),
        |c1 AS (
        |  SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(generate_series(1, length(w) - 1),
        |      i -> substring(w, i, 2))) AS p FROM w)
        |  GROUP BY p),
        |t1 AS (SELECT p AS mp FROM c1 ORDER BY cnt DESC, p LIMIT 1),
        |m AS (
        |  SELECT w FROM (SELECT replace(w.w, t1.mp, chr(1)) AS w
        |                 FROM w, t1)
        |  WHERE length(w) >= 2),
        |c2 AS (
        |  SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(generate_series(1, length(w) - 1),
        |      i -> substring(w, i, 2))) AS p FROM m)
        |  GROUP BY p)
        |SELECT merge_round, rk, pair, cnt FROM (
        |  SELECT 1 AS merge_round,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, p) AS INTEGER) AS rk,
        |    replace(p, chr(1), '<m>') AS pair, cnt
        |  FROM (SELECT p, cnt FROM c1 ORDER BY cnt DESC, p LIMIT 5)
        |  UNION ALL
        |  SELECT 2,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, p) AS INTEGER),
        |    replace(p, chr(1), '<m>'), cnt
        |  FROM (SELECT p, cnt FROM c2 ORDER BY cnt DESC, p LIMIT 5))
        |ORDER BY merge_round, rk""".stripMargin) { (s, d) =>
      val w = graft.CacheRegistry.ensurePersisted(
        Tables.documentsPar(s, d)
          .select(explode(tokens(lower(col("text")))).as("w"))
          .filter(length(col("w")) >= 2))
      def pairCounts(df: org.apache.spark.sql.DataFrame) = df
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("p"))
        .groupBy("p").agg(count(lit(1)).cast("bigint").as("cnt"))
      val c1 = graft.CacheRegistry.ensurePersisted(pairCounts(w))
      val t1 = c1.orderBy(desc("cnt"), col("p")).limit(1)
        .select(col("p").as("mp"))
      val m = w.crossJoin(broadcast(t1))
        .select(expr("replace(w, mp, chr(1))").as("w"))
        .filter(length(col("w")) >= 2)
      val c2 = pairCounts(m)
      def top5(c: org.apache.spark.sql.DataFrame, r: Int) =
        c.orderBy(desc("cnt"), col("p")).limit(5)
          .select(lit(r).as("merge_round"),
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(desc("cnt"), col("p"))).as("rk"),
            expr("replace(p, chr(1), '<m>')").as("pair"), col("cnt"))
      top5(c1, 1).unionByName(top5(c2, 2)).orderBy("merge_round", "rk")
    },

    // ------------------------------------------------------------------
    // BPE tokenizer APPLICATION — the other half of the tokenization
    // story (text_bpe_merges trains; this tokenizes): induce the top
    // merge of three successive rounds, apply each corpus-wide in rank
    // order as a 1-char marker substitution, and report per-bucket token
    // statistics of the TOKENIZED corpus (words, original chars, symbols
    // after merging, chars-per-token compression). Single-pass-per-rule
    // application — replace() is leftmost-nonoverlapping in both engines,
    // so the oracle replays the exact substitution semantics. No custom
    // kernel needed: the three replace()s fuse into ONE whole-stage-
    // codegen'd corpus projection (StringReplace is codegen'd), which is
    // the preferred composition over a bespoke Expression. SCALE: merge
    // induction is three symbol-alphabet-bounded aggregates (≤ |Σ|²
    // rows); each learned merge rides a 1-row broadcast; corpus-sized
    // work is three fused projections; output is doc-bucket-bounded.
    QueryDef.sql(
      "text_bpe_apply", {
        def c(src: String, n: Int) =
          s"""c$n AS (
             |  SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
             |    SELECT unnest(list_transform(generate_series(1, length(w) - 1),
             |      i -> substring(w, i, 2))) AS p FROM $src WHERE length(w) >= 2)
             |  GROUP BY p),
             |t$n AS (SELECT p AS mp FROM c$n ORDER BY cnt DESC, p LIMIT 1)"""
        s"""WITH w0 AS (
          |  SELECT doc_id, w, length(w) AS lc FROM (
          |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          |    FROM documents)),
          |${c("w0", 1)},
          |w1 AS (SELECT doc_id, replace(w0.w, t1.mp, chr(1)) AS w, lc
          |       FROM w0, t1),
          |${c("w1", 2)},
          |w2 AS (SELECT doc_id, replace(w1.w, t2.mp, chr(2)) AS w, lc
          |       FROM w1, t2),
          |${c("w2", 3)},
          |w3 AS (SELECT doc_id, replace(w2.w, t3.mp, chr(3)) AS w, lc
          |       FROM w2, t3)
          |SELECT CAST(doc_id // 200 AS BIGINT) AS bucket,
          |  CAST(COUNT(*) AS BIGINT) AS n_words,
          |  CAST(SUM(lc) AS BIGINT) AS n_chars,
          |  CAST(SUM(length(w)) AS BIGINT) AS n_tokens,
          |  ${halfUp4Sql("SUM(lc)", "SUM(length(w))")} AS chars_per_token
          |FROM w3 GROUP BY 1 ORDER BY bucket""".stripMargin
      }) { (s, d) =>
      // repartition before the word explode: the corpus is one parquet
      // split, and w0's partitioning is inherited by all three narrow
      // corpus-wide replace() projections below — without the spread the
      // whole tokenizer application runs on ONE core (the simhashPairs
      // CPU-bound-projection rule)
      val w0 = graft.CacheRegistry.ensurePersisted(
        Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), explode(tokens(lower(col("text")))).as("w"))
          .withColumn("lc", length(col("w"))))
      def pairCounts(df: org.apache.spark.sql.DataFrame) = df
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("p"))
        .groupBy("p").agg(count(lit(1)).cast("bigint").as("cnt"))
      def topMerge(df: org.apache.spark.sql.DataFrame) =
        pairCounts(df).orderBy(desc("cnt"), col("p")).limit(1)
          .select(col("p").as("mp"))
      def applyMerge(df: org.apache.spark.sql.DataFrame, marker: Int) = {
        val next = df.crossJoin(broadcast(topMerge(df)))
          .select(col("doc_id"),
            expr(s"replace(w, mp, chr($marker))").as("w"), col("lc"))
        graft.CacheRegistry.ensurePersisted(next)
      }
      val w3 = applyMerge(applyMerge(applyMerge(w0, 1), 2), 3)
      w3.groupBy(expr("doc_id div 200").as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_words"),
          sum("lc").cast("bigint").as("n_chars"),
          sum(length(col("w"))).cast("bigint").as("n_tokens"))
        .select(col("bucket"), col("n_words"), col("n_chars"),
          col("n_tokens"),
          halfUp4("n_chars", "n_tokens").as("chars_per_token"))
        .orderBy("bucket")
    },

    // ------------------------------------------------------------------
    // BPE tokenizer END-TO-END (text_bpe_merges trains 2 rounds for
    // inspection, text_bpe_apply applies 3 corpus-wide; this completes
    // the story): induce an 8-entry merge TABLE and encode the whole
    // corpus with it. Training runs on the WORD-FREQUENCY DICTIONARY,
    // not the corpus — pair counts are freq-weighted (mathematically
    // identical to occurrence counts, this is how real BPE trainers
    // work) — so all 8 induction rounds touch only |vocab| rows. Each
    // merge is applied to the dictionary as a rank-ordered marker
    // substitution; since later merges only create NEW symbols, the
    // rank-ordered single chain IS the until-no-merge-applies fixpoint.
    // The corpus is then encoded by ONE broadcast join occurrences →
    // encoded dictionary. SCALE: the 100 TB corpus is read once for the
    // dictionary aggregate and once for the encode join; everything
    // between is vocabulary-sized (sublinear in corpus; a few MB
    // broadcast even at web scale).
    QueryDef.sql(
      "text_bpe_encode", {
        s"""WITH $bpeVocabCteSql
          |SELECT CAST(w.doc_id // 200 AS BIGINT) AS bucket,
          |  CAST(COUNT(*) AS BIGINT) AS n_words,
          |  CAST(SUM(length(w.w)) AS BIGINT) AS n_chars,
          |  CAST(SUM(length(v.wc)) AS BIGINT) AS n_tokens,
          |  ${halfUp4Sql("SUM(length(w.w))", "SUM(length(v.wc))")}
          |    AS chars_per_token
          |FROM words w JOIN v8 v ON w.w = v.w0
          |GROUP BY 1 ORDER BY bucket""".stripMargin
      }) { (s, d) =>
      val words = graft.CacheRegistry.ensurePersisted(
        Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(lower(col("text")))).as("w")))
      val vocab = bpeEncodedVocabShared(s, d)(words)
      words.join(broadcast(vocab.select(col("w0").as("w"), col("wc"))), "w")
        .groupBy(expr("doc_id div 200").as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_words"),
          sum(length(col("w"))).cast("bigint").as("n_chars"),
          sum(length(col("wc"))).cast("bigint").as("n_tokens"))
        .select(col("bucket"), col("n_words"), col("n_chars"), col("n_tokens"),
          halfUp4("n_chars", "n_tokens").as("chars_per_token"))
        .orderBy("bucket")
    },

    // ------------------------------------------------------------------
    // Tokenizer-quality audit (r12 verdict ask #7): per-language
    // FERTILITY (tokens/word) and compression (chars/token) of the
    // text_bpe_encode merge table — the standard eval before committing
    // a tokenizer to a training run (a tokenizer whose fertility
    // explodes on one language starves it of effective context). Uses
    // the IDENTICAL 8-round induction ([[bpeVocabCteSql]] /
    // [[bpeEncodedVocab]]) as text_bpe_encode, so this audits the
    // tokenizer that query ships, not a re-derivation. SCALE: the
    // corpus is read once for the dictionary aggregate and once for the
    // encode join; induction is vocabulary-sized; output is
    // language-domain-bounded. Determinism: all counts are exact BIGINTs
    // and both ratios are the half-up-4 integer law.
    QueryDef.sql(
      "text_token_fertility",
      s"""WITH $bpeVocabCteSql
        |SELECT w.lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(length(w.w)) AS BIGINT) AS n_chars,
        |  CAST(SUM(length(v.wc)) AS BIGINT) AS n_tokens,
        |  ${halfUp4Sql("SUM(length(v.wc))", "COUNT(*)")} AS tokens_per_word,
        |  ${halfUp4Sql("SUM(length(w.w))", "SUM(length(v.wc))")}
        |    AS chars_per_token
        |FROM words w JOIN v8 v ON w.w = v.w0
        |GROUP BY w.lang ORDER BY lang""".stripMargin) { (s, d) =>
      val words = graft.CacheRegistry.ensurePersisted(
        Tables.documents(s, d)
          .select(col("lang"), explode(tokens(lower(col("text")))).as("w")))
      val vocab = bpeEncodedVocabShared(s, d)(words)
      words.join(broadcast(vocab.select(col("w0").as("w"), col("wc"))), "w")
        .groupBy("lang")
        .agg(count(lit(1)).cast("bigint").as("n_words"),
          sum(length(col("w"))).cast("bigint").as("n_chars"),
          sum(length(col("wc"))).cast("bigint").as("n_tokens"))
        .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
          halfUp4("n_tokens", "n_words").as("tokens_per_word"),
          halfUp4("n_chars", "n_tokens").as("chars_per_token"))
        .orderBy("lang")
    },

    // ------------------------------------------------------------------
    // Cross-corpus duplicate SPAN removal (exact-substring dedup à la
    // Lee et al. 2022, span-granular): cut every doc into non-overlapping
    // 10-word spans, keep only each span's globally FIRST occurrence
    // (min doc-position over all docs containing that exact span), and
    // report per doc how much was cut plus a digest of the cleaned text.
    // One shuffle keyed by span text (production keys on a 128-bit span
    // digest to shrink shuffle width — md5 here because the oracle must
    // replay it), one per-doc re-aggregation; never pairwise. The
    // first-occurrence rule is a total order (doc_id*1e9+span_idx —
    // collision-free for any document under 10 billion words, i.e. all
    // of them, and any corpus under ~9 billion docs), so ties are
    // impossible and the kept set is engine-independent.
    QueryDef.sql(
      "text_dedup_spans",
      """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |  md5(coalesce(string_agg(CASE WHEN kept THEN span END, ' ' ORDER BY si), '')) AS clean_md5
        |FROM (
        |  SELECT doc_id, si, span,
        |    min(doc_id * 1000000000 + si) OVER (PARTITION BY span)
        |      = doc_id * 1000000000 + si AS kept
        |  FROM (
        |    SELECT doc_id, si,
        |      array_to_string(w[1 + (si - 1) * 10 : si * 10], ' ') AS span
        |    FROM (
        |      SELECT doc_id, w,
        |        unnest(range(1, CAST(ceil(len(w) / 10.0) AS BIGINT) + 1)) AS si
        |      FROM (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents))))
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val spans = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          posexplode(sequence(lit(1L),
            ceil(size(col("w")).cast("double") / 10.0).cast("bigint"))))
        .select(col("doc_id"), (col("pos") + 1).as("si"),
          array_join(slice(col("w"),
            (col("pos") * 10 + 1).cast("int"), lit(10)), " ").as("span"))
      val owner = org.apache.spark.sql.expressions.Window.partitionBy("span")
      spans
        .withColumn("rank", col("doc_id") * 1000000000L + col("si"))
        .withColumn("kept", min(col("rank")).over(owner) === col("rank"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dup_spans"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("si"), col("span"))))),
            x => x("span")), " ")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // CODE-vs-PROSE detection (r15) — the corpus-routing gate every
    // mixed training-data pipeline runs before tokenizer/quality
    // stages (code and prose need different tokenizers, dedup
    // thresholds, and quality filters). Per document: code-symbol
    // density ({};()= per 1000 chars) and code-keyword density (def /
    // import / return / class / function per 1000 chars), flagged at
    // symbol ≥ 15‰ OR keyword ≥ 2‰ — integer-compare thresholds
    // (sym·1000 ≥ 15·n), never a float boundary. Occurrence counting
    // is the engine-parity-safe length-difference form
    // (len − len(replace(s, pat)))/len(pat) — identical in Spark and
    // DuckDB, no regex dialect in sight. Output per source: doc count,
    // flagged count, mean + max densities (halfUp4). This synthetic
    // corpus is PURE lowercase prose (zero code symbols), so the
    // routing thresholds are exercised by three in-plan FIXTURE
    // documents (two known-code, one known-prose — the mm self-variant
    // certification pattern): their hash-pinned output rows must flag
    // 1/1/0, so a broken threshold or counting kernel cannot hide
    // behind an all-zero corpus. SCALE: one map-side-combined
    // aggregate per source; the per-doc projection is a handful of
    // replace/length passes over each text.
    QueryDef.sql(
      "text_code_detect", {
        def occ(pat: String, esc: String = null) = {
          val p = if (esc != null) esc else s"'$pat'"
          s"(length(text) - length(replace(text, $p, ''))) // ${pat.length}"
        }
        val sym = Seq("{", "}", ";", "(", ")", "=")
          .map(c => occ(c)).mkString(" + ")
        val kw = Seq("def ", "import ", "return ", "class ", "function ")
          .map(k => occ(k)).mkString(" + ")
        val fixturesSql = codeDetectFixtures
          .map { case (src, t) => s"('$src', '$t')" }.mkString(",\n    ")
        s"""WITH corpus AS (
          |  SELECT source, text FROM documents
          |  UNION ALL SELECT * FROM (VALUES
          |    $fixturesSql) fx(source, text)),
          |f AS (
          |  SELECT source, length(text) AS n, $sym AS sym, $kw AS kw
          |  FROM corpus WHERE length(text) > 0),
          |d AS (
          |  SELECT source, n, sym, kw,
          |    CASE WHEN sym * 1000 >= 15 * n OR kw * 1000 >= 2 * n
          |         THEN 1 ELSE 0 END AS is_code,
          |    ${halfUp4Sql("1000 * sym", "n")} AS sym_k,
          |    ${halfUp4Sql("1000 * kw", "n")} AS kw_k
          |  FROM f)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(is_code) AS BIGINT) AS n_code,
          |  ${halfUp4Sql("1000 * SUM(sym)", "SUM(n)")} AS sym_per_kchar,
          |  ${halfUp4Sql("1000 * SUM(kw)", "SUM(n)")} AS kw_per_kchar,
          |  MAX(sym_k) AS max_sym_per_kchar,
          |  MAX(kw_k) AS max_kw_per_kchar
          |FROM d GROUP BY source ORDER BY source""".stripMargin
      }) { (s, d) =>
      def occ(pat: String) =
        expr(s"(length(text) - length(replace(text, '$pat', '')))" +
          s" div ${pat.length}")
      val sym = Seq("{", "}", ";", "(", ")", "=").map(occ).reduce(_ + _)
      val kw = Seq("def ", "import ", "return ", "class ", "function ")
        .map(occ).reduce(_ + _)
      val corpus = Tables.documents(s, d).select("source", "text")
        .unionAll(s.createDataFrame(codeDetectFixtures)
          .toDF("source", "text"))
      val f = corpus.filter(length(col("text")) > 0)
        .select(col("source"), length(col("text")).as("n"),
          sym.as("sym"), kw.as("kw"))
      val dd = f.select(col("source"), col("n"), col("sym"), col("kw"),
        when(col("sym") * 1000 >= col("n") * 15 ||
          col("kw") * 1000 >= col("n") * 2, 1).otherwise(0).as("is_code"),
        halfUp4("1000 * sym", "n").as("sym_k"),
        halfUp4("1000 * kw", "n").as("kw_k"))
      dd.groupBy("source")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("is_code").cast("bigint").as("n_code"),
          halfUp4("1000 * SUM(sym)", "SUM(n)").as("sym_per_kchar"),
          halfUp4("1000 * SUM(kw)", "SUM(n)").as("kw_per_kchar"),
          max("sym_k").as("max_sym_per_kchar"),
          max("kw_k").as("max_kw_per_kchar"))
        .orderBy("source")
    },

    // Encoding-corruption / OCR-garbage screening (r15): the filter
    // stage that removes mojibake (double-decoded UTF-8), binary spill,
    // and consonant-soup OCR noise BEFORE quality scoring — rules:
    // (a) non-printable-ASCII density ≥ 5‰ of chars, or (b) vowel rate
    // under 250‰ of letters (clean English runs ~380‰; OCR consonant
    // soup collapses toward 0). Counting kernels are the
    // engine-parity-safe length-difference forms (codepoint counts in
    // both engines). The synthetic corpus is clean lowercase prose, so
    // the thresholds are exercised by three in-plan fixture documents
    // (mojibake / vowelless / clean — the text_code_detect pattern):
    // their hash-pinned rows must flag 1/1/0. SCALE: one
    // map-side-combined aggregate per source; per-doc work is a few
    // replace/length passes.
    QueryDef.sql(
      "text_garbled_detect", {
        val vow = Seq("a", "e", "i", "o", "u")
          .map(v => s"(length(text) - length(replace(text, '$v', '')))")
          .mkString(" + ")
        val fixturesSql = garbledFixtures
          .map { case (src, t) => s"('$src', '$t')" }.mkString(",\n    ")
        s"""WITH corpus AS (
          |  SELECT source, text FROM documents
          |  UNION ALL SELECT * FROM (VALUES
          |    $fixturesSql) fx(source, text)),
          |f AS (
          |  SELECT source, length(text) AS n,
          |    length(regexp_replace(text, '[ -~]', '', 'g')) AS bad,
          |    length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))
          |      AS letters,
          |    $vow AS vowels
          |  FROM corpus WHERE length(text) > 0),
          |d AS (
          |  SELECT source, n, bad, letters, vowels,
          |    CASE WHEN bad * 1000 >= 5 * n
          |           OR (letters > 0 AND vowels * 1000 < 250 * letters)
          |         THEN 1 ELSE 0 END AS is_garbled,
          |    ${halfUp4Sql("1000 * bad", "n")} AS bad_k
          |  FROM f)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(is_garbled) AS BIGINT) AS n_garbled,
          |  ${halfUp4Sql("1000 * SUM(bad)", "SUM(n)")} AS bad_per_kchar,
          |  ${halfUp4Sql("1000 * SUM(vowels)", "SUM(letters)")}
          |    AS vowel_per_kletter,
          |  MAX(bad_k) AS max_bad_per_kchar
          |FROM d GROUP BY source ORDER BY source""".stripMargin
      }) { (s, d) =>
      val vow = Seq("a", "e", "i", "o", "u")
        .map(v => expr(s"(length(text) - length(replace(text, '$v', '')))"))
        .reduce(_ + _)
      val corpus = Tables.documents(s, d).select("source", "text")
        .unionAll(s.createDataFrame(garbledFixtures).toDF("source", "text"))
      val f = corpus.filter(length(col("text")) > 0)
        .select(col("source"), length(col("text")).as("n"),
          length(regexp_replace(col("text"), "[ -~]", "")).as("bad"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[a-z]", ""))).as("letters"),
          vow.as("vowels"))
      val dd = f.select(col("source"), col("n"), col("bad"),
        col("letters"), col("vowels"),
        when(col("bad") * 1000 >= col("n") * 5 ||
          (col("letters") > 0 && col("vowels") * 1000 < col("letters") * 250),
          1).otherwise(0).as("is_garbled"),
        halfUp4("1000 * bad", "n").as("bad_k"))
      dd.groupBy("source")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("is_garbled").cast("bigint").as("n_garbled"),
          halfUp4("1000 * SUM(bad)", "SUM(n)").as("bad_per_kchar"),
          halfUp4("1000 * SUM(vowels)", "SUM(letters)")
            .as("vowel_per_kletter"),
          max("bad_k").as("max_bad_per_kchar"))
        .orderBy("source")
    },

    // Frequency-thresholded boilerplate strip — the OTHER production
    // span-dedup rule next to text_dedup_spans' keep-first-occurrence:
    // a span occurring in MORE THAN 2 DISTINCT documents is template
    // content (headers, navigation, license banners) and is removed
    // from EVERY document including the first (the CCNet/RefinedWeb
    // line-dedup convention, over the same 10-word span tiling since
    // this corpus has no newlines). The two rules differ exactly where
    // it matters: keep-first preserves one copy of duplicated prose;
    // the frequency rule deletes systematic boilerplate everywhere.
    // clean_md5 certifies the exact reconstructed post-strip text per
    // document, not just counts. SCALE: span-hash aggregate with
    // map-side combine (distinct-doc count per span), one equi-join
    // back (the boilerplate dictionary is corpus-frequency-bounded —
    // AQE broadcasts it while small, shuffles when not), and a per-doc
    // reassembly whose state is bounded by document length. The
    // distinct-doc counting is exact here; at 100 TB the same shape
    // runs with approx_count_distinct per span (mergeable sketch) and
    // an identical downstream plan.
    QueryDef.sql(
      "text_boilerplate_strip",
      """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_boiler,
        |  md5(coalesce(string_agg(CASE WHEN NOT boiler THEN span END,
        |    ' ' ORDER BY si), '')) AS clean_md5
        |FROM (
        |  SELECT s.doc_id, s.si, s.span, f.span IS NOT NULL AS boiler
        |  FROM (
        |    SELECT doc_id, si,
        |      array_to_string(w[1 + (si - 1) * 10 : si * 10], ' ') AS span
        |    FROM (
        |      SELECT doc_id, w,
        |        unnest(range(1, CAST(ceil(len(w) / 10.0) AS BIGINT) + 1)) AS si
        |      FROM (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents))) s
        |  LEFT JOIN (
        |    SELECT span FROM (
        |      SELECT span, COUNT(DISTINCT doc_id) AS dc
        |      FROM (
        |        SELECT doc_id,
        |          array_to_string(w[1 + (si - 1) * 10 : si * 10], ' ') AS span
        |        FROM (
        |          SELECT doc_id, w,
        |            unnest(range(1, CAST(ceil(len(w) / 10.0) AS BIGINT) + 1)) AS si
        |          FROM (SELECT doc_id, string_split(text, ' ') AS w
        |                FROM documents)))
        |      GROUP BY span) WHERE dc > 2) f ON s.span = f.span)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // persisted (r15): both the boilerplate-dictionary aggregate and
      // the join-back consume this frame — without the persist the
      // tokenize + span-tile pass over the corpus ran TWICE per query
      val spans = graft.CacheRegistry.ensurePersisted(
        Tables.documentsPar(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), col("w"),
            posexplode(sequence(lit(1L),
              ceil(size(col("w")).cast("double") / 10.0).cast("bigint"))))
          .select(col("doc_id"), (col("pos") + 1).as("si"),
            array_join(slice(col("w"),
              (col("pos") * 10 + 1).cast("int"), lit(10)), " ").as("span")))
      val boiler = spans.groupBy("span")
        .agg(countDistinct(col("doc_id")).as("dc"))
        .filter(col("dc") > 2)
        .select(col("span"), lit(true).as("boiler_flag"))
      spans.join(boiler, Seq("span"), "left")
        .withColumn("boiler", col("boiler_flag").isNotNull)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
          md5(array_join(transform(
            array_sort(collect_list(when(!col("boiler"),
              struct(col("si"), col("span"))))),
            x => x("span")), " ")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // IN-ENGINE CLASSIFIER TRAINING (r15) — full-batch gradient-descent
    // logistic regression, the training step behind every
    // CCNet/fastText-style quality classifier (the scoring half is
    // text_quality_classifier; this is where such weights COME FROM).
    // Task: DISTILL the hand-written gopher-quality rule into a
    // differentiable model — label = text_gopher_quality's keep bit,
    // features = stopword ratio and distinct-word ratio (two of the
    // rule's own signals), the production rule→classifier pattern
    // (bootstrap a scalable scorer from a rule-labeled corpus). Both
    // features are halfUp4 integer ratios CENTERED by their integer
    // half-up corpus means (conditioning — uncentered GD stalls on the
    // bias), so every input to the float path is an exact integer
    // difference over 1e4. Each GD step (η = 8, 6 updates) is ONE
    // map-side-combined aggregate over the persisted feature frame
    // (3 gradient sums + loss + accuracy in a single pass); weights are
    // a 3-number driver scalar between steps — the per-iteration
    // convergence-scalar pattern (7 bounded collects). Cross-engine
    // determinism follows the text_drift_psi rounding law: sigmoids
    // round to 8dp then clamp to [1e-8, 1-1e-8] (log-loss never sees
    // ln(0)), per-doc gradient/loss terms are 6dp exact decimals summed
    // exactly, weight updates round to 6dp, readouts to 4dp. Output:
    // one row per step (0 = init) with the weights AFTER that many
    // updates and loss/accuracy AT those weights — the gate pins the
    // whole optimization trajectory, not just the final model (loss
    // falls 0.693 → ~0.35 at every SF; accuracy reports the honest
    // base-rate story on this 86/14-imbalanced rule). SCALE: at 100 TB
    // each step is still one aggregate (the shuffle carries 6 numbers
    // per partition); steps are sequential by nature, state is 3
    // doubles.
    QueryDef.sql(
      "text_logreg_train", {
        val swIn = stopwords.map(w => s"'$w'").mkString(", ")
        def evalCte(i: Int): String =
          s"""e$i AS (
            |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |    CAST(SUM(t0) AS DOUBLE) AS g0,
            |    CAST(SUM(t1) AS DOUBLE) AS g1,
            |    CAST(SUM(t2) AS DOUBLE) AS g2,
            |    round(CAST(SUM(lt) AS DOUBLE) / COUNT(*), 4) AS loss,
            |    ${halfUp4Sql("SUM(at)", "COUNT(*)")} AS acc
            |  FROM (
            |    SELECT y,
            |      CAST(round((y - sig) * 1.0, 6) AS DECIMAL(18,6)) AS t0,
            |      CAST(round((y - sig) * x1, 6) AS DECIMAL(18,6)) AS t1,
            |      CAST(round((y - sig) * x2, 6) AS DECIMAL(18,6)) AS t2,
            |      CAST(round(-(y * ln(sig) + (1 - y) * ln(1 - sig)), 6)
            |        AS DECIMAL(18,6)) AS lt,
            |      CASE WHEN (z >= 0) = (y = 1) THEN 1 ELSE 0 END AS at
            |    FROM (
            |      SELECT y, x1, x2, z,
            |        least(greatest(round(1 / (1 + exp(-z)), 8),
            |          0.00000001), 0.99999999) AS sig
            |      FROM (
            |        SELECT y, x1, x2, w0 + w1 * x1 + w2 * x2 AS z
            |        FROM fc, s$i))))""".stripMargin
        def stepCte(i: Int): String =
          s"""s${i + 1} AS (
            |  SELECT round(w0 + 8.0 * g0 / n, 6) AS w0,
            |    round(w1 + 8.0 * g1 / n, 6) AS w1,
            |    round(w2 + 8.0 * g2 / n, 6) AS w2
            |  FROM s$i, e$i)""".stripMargin
        val ctes = (0 to 6).map(evalCte) ++ (0 to 5).map(stepCte)
        val rows = (0 to 6).map(i =>
          s"SELECT $i AS step, s$i.w0, s$i.w1, s$i.w2, e$i.loss, " +
            s"e$i.acc FROM s$i, e$i")
        s"""WITH wc AS (
          |  SELECT doc_id, word, COUNT(*) AS cnt
          |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          |        FROM documents)
          |  GROUP BY doc_id, word),
          |f AS (
          |  SELECT doc_id,
          |    (2 * SUM(CASE WHEN word IN ($swIn) THEN cnt ELSE 0 END)
          |       * 10000 + SUM(cnt)) // (2 * SUM(cnt)) AS x1i,
          |    (2 * COUNT(*) * 10000 + SUM(cnt)) // (2 * SUM(cnt)) AS x2i,
          |    CAST(SUM(cnt) >= 20
          |      AND CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) < 0.2
          |      AND CAST(COUNT(*) AS DOUBLE) / SUM(cnt) > 0.2
          |      AND SUM(CASE WHEN word IN ($swIn) THEN cnt ELSE 0 END) > 0
          |      AS INTEGER) AS y
          |  FROM wc GROUP BY doc_id),
          |m AS (
          |  SELECT (2 * SUM(x1i) + COUNT(*)) // (2 * COUNT(*)) AS m1,
          |    (2 * SUM(x2i) + COUNT(*)) // (2 * COUNT(*)) AS m2
          |  FROM f),
          |fc AS (
          |  SELECT y, CAST(x1i - m1 AS DOUBLE) / 10000.0 AS x1,
          |    CAST(x2i - m2 AS DOUBLE) / 10000.0 AS x2
          |  FROM f, m),
          |s0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
          |${ctes.mkString(",\n")}
          |${rows.mkString("\nUNION ALL ")}
          |ORDER BY step""".stripMargin
      }) { (s, d) =>
      val sws = stopwords
      val wc = Tables.documentsPar(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      val sums = wc.groupBy("doc_id").agg(
        sum(when(col("word").isin(sws: _*), col("cnt")).otherwise(0L))
          .as("swc"),
        count(lit(1)).as("dn"), sum("cnt").as("n"), max("cnt").as("mx"))
      // exact integer half-up ratios ×1e4 (the halfUp4 integer form)
      val rawF = sums.select(
        expr("(2 * swc * 10000 + n) div (2 * n)").cast("bigint").as("x1i"),
        expr("(2 * dn * 10000 + n) div (2 * n)").cast("bigint").as("x2i"),
        (col("n") >= 20 &&
          col("mx").cast("double") / col("n") < 0.2 &&
          col("dn").cast("double") / col("n") > 0.2 &&
          col("swc") > 0).cast("int").as("y"))
      // integer half-up means for centering: one bounded collect
      val mRow = rawF.agg(
        expr("(2 * sum(x1i) + count(1)) div (2 * count(1))")
          .cast("bigint").as("m1"),
        expr("(2 * sum(x2i) + count(1)) div (2 * count(1))")
          .cast("bigint").as("m2")).collect()(0)
      val (m1, m2) = (mRow.getAs[Long]("m1"), mRow.getAs[Long]("m2"))
      val f = graft.CacheRegistry.register(rawF
        .select(col("y"),
          ((col("x1i") - m1).cast("double") / 10000.0).as("x1"),
          ((col("x2i") - m2).cast("double") / 10000.0).as("x2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      def round6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      var w = Array(0.0, 0.0, 0.0)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Double, Double, Double, Double, Double)]
      (0 to 6).foreach { step =>
        val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
        val sig = least(greatest(
          round(lit(1.0) / (lit(1.0) + exp(-z)), 8), lit(0.00000001)),
          lit(0.99999999))
        def t(x: Column) =
          round((col("y") - sig) * x, 6).cast("decimal(18,6)")
        val lt = round(-(col("y") * log(sig) +
          (lit(1) - col("y")) * log(lit(1.0) - sig)), 6)
          .cast("decimal(18,6)")
        val at = ((z >= 0) === (col("y") === 1)).cast("int")
        // ONE pass per step: gradient sums + loss + accuracy together
        // (a 1-row convergence aggregate, collected — 7 bounded rounds)
        val r = f.select(t(lit(1.0)).as("t0"), t(col("x1")).as("t1"),
            t(col("x2")).as("t2"), lt.as("lt"), at.as("at"))
          .agg(count(lit(1)).as("n"),
            sum("t0").cast("double").as("g0"),
            sum("t1").cast("double").as("g1"),
            sum("t2").cast("double").as("g2"),
            round(sum("lt").cast("double") / count(lit(1)), 4).as("loss"),
            sum("at").cast("bigint").as("ca"))
          .collect()(0)
        val n = r.getAs[Long]("n")
        // accuracy via the exact halfUp4 integer form
        val acc = ((2L * r.getAs[Long]("ca") * 10000L + n) / (2L * n))
          .toDouble / 10000
        out += ((step, w(0), w(1), w(2), r.getAs[Double]("loss"), acc))
        if (step < 6) {
          w = Array(
            round6(w(0) + 8.0 * r.getAs[Double]("g0") / n),
            round6(w(1) + 8.0 * r.getAs[Double]("g1") / n),
            round6(w(2) + 8.0 * r.getAs[Double]("g2") / n))
        }
      }
      import s.implicits._
      out.toSeq.toDF("step", "w0", "w1", "w2", "loss", "acc")
        .orderBy("step")
    },

    // Hashed linear quality classifier (fasttext-style): each token is
    // hashed into one of 64 buckets, a fixed md5-seeded integer weight
    // per bucket is summed exactly, and the mean margin goes through a
    // sigmoid. This is how production quality filters score trillions of
    // tokens: a single codegen'd narrow projection, the model broadcast
    // as a literal (a real deployment broadcasts a few-MB weight table).
    // The weights are seeded from md5 (same trick as the JL sign matrix)
    // so the oracle regenerates the identical model; the raw score is an
    // integer sum — exact in both engines — and `keep` compares the raw
    // integer against 0 (margin >= 0 ⟺ prob >= 0.5), immune to float
    // boundary effects.
    QueryDef.sql(
      "text_quality_classifier",
      s"""WITH wl AS (SELECT ${qcWeights.mkString("[", ", ", "]")} AS w),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts
        |      FROM documents),
        |r AS (
        |  SELECT doc_id, len(ts) AS ntok,
        |    CAST(list_sum(list_transform(ts, s ->
        |      w[1 + CAST(${fpSql("s")} % 64 AS INTEGER)]
        |    )) AS BIGINT) AS score_raw
        |  FROM t, wl)
        |SELECT doc_id, score_raw,
        |  round(1 / (1 + exp(-(CAST(score_raw AS DOUBLE) / ntok))), 4) AS prob,
        |  CAST(score_raw >= 0 AS INTEGER) AS keep
        |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokens(lower(col("text")))
      Tables.documentsPar(s, d)
        .select(col("doc_id"), qualityScoreRaw(col("text")).as("score_raw"),
          size(toks).cast("double").as("ntok"))
        .select(col("doc_id"), col("score_raw"),
          round(lit(1.0) / (lit(1.0) +
            exp(-(col("score_raw").cast("double") / col("ntok")))), 4)
            .as("prob"),
          (col("score_raw") >= 0).cast("int").as("keep"))
        .orderBy("doc_id")
    },

    // Count-min sketch heavy-hitter estimation (Cormode & Muthukrishnan
    // 2005): d=4 hash rows × w=256 buckets. THE mergeable-sketch scale
    // path for frequency queries: the sketch is a groupBy over (row,
    // bucket) — map-side combined, at most 1024 cells regardless of
    // corpus size — so at 100 TB the shuffle carries 256 rows per
    // partition, never the token stream. Probes ride a broadcast join
    // against the tiny cell table; est = min over the 4 rows. The exact
    // counts + error bound are computed alongside as the certification
    // columns (overestimates: CM never underestimates; within_bound:
    // err*128 <= N ⟺ err <= 2N/w). Fully integer → bit-exact oracle.
    QueryDef.sql(
      "text_count_min",
      s"""WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
        |              FROM documents),
        |h AS (SELECT * FROM (VALUES ${cmHashRows.zipWithIndex
          .map { case ((a, b), r) => s"($r, $a, $b)" }
          .mkString(", ")}) t(r, a, b)),
        |fp AS (SELECT tok, ${fpSql("tok")} AS f FROM toks),
        |cells AS (
        |  SELECT r, (f * a + b) % 2147483629 % 256 AS bucket, COUNT(*) AS c
        |  FROM fp, h
        |  GROUP BY 1, 2),
        |probes AS (SELECT unnest([${cmProbeToks
          .map(t => s"'$t'").mkString(", ")}]) AS tok),
        |pfp AS (SELECT tok, ${fpSql("tok")} AS f FROM probes),
        |pcell AS (
        |  SELECT p.tok, h.r, (p.f * h.a + h.b) % 2147483629 % 256 AS bucket
        |  FROM pfp p, h),
        |est AS (SELECT pc.tok, MIN(coalesce(c.c, 0)) AS est_count
        |        FROM pcell pc LEFT JOIN cells c
        |          ON c.r = pc.r AND c.bucket = pc.bucket
        |        GROUP BY pc.tok),
        |ex AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT SUM(c) AS n FROM cells WHERE r = 0)
        |SELECT e.tok AS tok, CAST(e.est_count AS BIGINT) AS est_count,
        |  CAST(coalesce(x.cnt, 0) AS BIGINT) AS exact_count,
        |  CAST(e.est_count >= coalesce(x.cnt, 0) AS INTEGER) AS overestimates,
        |  CAST((e.est_count - coalesce(x.cnt, 0)) * 128 <= t.n AS INTEGER)
        |    AS within_bound
        |FROM est e LEFT JOIN ex x USING (tok), tot t
        |ORDER BY tok""".stripMargin) { (s, d) =>
      val P = 2147483629L
      def buckets(f: Column): Column = array(cmHashRows.map { case (a, b) =>
        pmod(f * a + b, lit(P)) % 256 }: _*)
      // repartition BEFORE the 4-row hash fan-out: the corpus arrives as
      // one parquet split and everything up to the first aggregation
      // shuffle (explode → fingerprint → 4 bucket hashes) would run on
      // ONE core (the simhashPairs CPU-bound-projection rule)
      val tokDf = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(tokens(lower(col("text")))).as("tok"))
      // cells feeds the probe join AND the total — persist the <=1024
      // post-aggregation rows so the corpus is sketched exactly once
      val cells = graft.CacheRegistry.register(tokDf
        .select(posexplode(buckets(rollingFingerprint(col("tok"))))
          .as(Seq("r", "bucket")))
        .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val probes = s.range(1)
        .select(explode(array(cmProbeToks.map(lit): _*)).as("tok"))
      val est = probes
        .select(col("tok"), posexplode(buckets(rollingFingerprint(col("tok"))))
          .as(Seq("r", "bucket")))
        .join(broadcast(cells), Seq("r", "bucket"), "left")
        .groupBy("tok").agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
      val exact = tokDf.filter(col("tok").isin(cmProbeToks: _*))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      // N = sum of any single hash row of the sketch — free, no pass
      val total = cells.filter(col("r") === 0).agg(sum(col("c")).as("n"))
      est.join(broadcast(exact), Seq("tok"), "left")
        .crossJoin(broadcast(total))
        .select(col("tok"), col("est_count"),
          coalesce(col("cnt"), lit(0L)).as("exact_count"),
          (col("est_count") >= coalesce(col("cnt"), lit(0L))).cast("int")
            .as("overestimates"),
          ((col("est_count") - coalesce(col("cnt"), lit(0L))) * 128 <= col("n"))
            .cast("int").as("within_bound"))
        .orderBy("tok")
    },

    // Top pointwise-mutual-information collocations — the standard
    // phrase-mining / tokenizer-merge signal. Two map-side-combined
    // aggregations (bigrams, unigrams); the unigram vocabulary table is
    // broadcast-joined onto the bigram counts twice; the global top-20
    // is TakeOrdered on the rounded PMI with the bigram string as the
    // unique tiebreak. Totals derive from the count tables (no extra
    // corpus pass). PMI argument is evaluated in one pinned order of
    // IEEE double ops so both engines see bit-identical inputs to ln.
    QueryDef.sql(
      "text_pmi_bigrams",
      """WITH toks AS (SELECT string_split(lower(text), ' ') AS ts
        |              FROM documents),
        |uc AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS cw
        |       FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
        |un AS (SELECT CAST(SUM(cw) AS DOUBLE) AS n FROM uc),
        |bc AS (
        |  SELECT p['w1'] AS w1, p['w2'] AS w2,
        |    CAST(COUNT(*) AS DOUBLE) AS cab
        |  FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
        |      i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS p
        |    FROM toks WHERE len(ts) >= 2)
        |  GROUP BY 1, 2),
        |bn AS (SELECT CAST(SUM(cab) AS DOUBLE) AS m FROM bc)
        |SELECT w1 || ' ' || w2 AS bigram, CAST(cab AS BIGINT) AS n_pair,
        |  round(ln((cab / m) / ((a.cw / un.n) * (b.cw / un.n))), 4) AS pmi
        |FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w, bn, un
        |WHERE cab >= 5
        |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
      // two consumers (unigram + bigram counts) — persist the token
      // arrays once, same pattern as text_repetition
      val toks = graft.CacheRegistry.register(Tables.documentsPar(s, d)
        .select(tokens(lower(col("text"))).as("ts"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // uc feeds three consumers (total + two broadcast joins) and bc
      // two (total + main pipeline) — persist both post-aggregation
      // tables (vocabulary-sized, tiny next to the corpus) so the
      // unigram aggregation and the dominant bigram explode+aggregate
      // each run exactly once, same pattern as text_count_min's cells
      val uc = graft.CacheRegistry.register(toks
        .select(explode(col("ts")).as("w"))
        .groupBy("w").agg(count(lit(1)).cast("double").as("cw"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val un = uc.agg(sum("cw").as("n"))
      val bc = graft.CacheRegistry.register(toks
        .filter(size(col("ts")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).cast("double").as("cab"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val bn = bc.agg(sum("cab").as("m"))
      bc.filter(col("cab") >= 5)
        .join(broadcast(uc.select(col("w").as("w1"), col("cw").as("cwa"))),
          "w1")
        .join(broadcast(uc.select(col("w").as("w2"), col("cw").as("cwb"))),
          "w2")
        .crossJoin(broadcast(bn)).crossJoin(broadcast(un))
        .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
          col("cab").cast("bigint").as("n_pair"),
          round(log((col("cab") / col("m")) /
            ((col("cwa") / col("n")) * (col("cwb") / col("n")))), 4)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("bigram")).limit(20)
    },

    // Curriculum difficulty deciles: per-SOURCE ntile(10) over the
    // quality score — the domain-stratified ordering used to schedule
    // training data from easy to hard. Deciles are per-source (not
    // global) deliberately: a global exact decile is a total sort at
    // 100 TB, while per-domain windows parallelize across sources (a
    // global curriculum would bin against approx-quantile thresholds
    // instead). The (quality DESC, doc_id) order is total, so ntile
    // bucket assignment is engine-independent.
    QueryDef.sql(
      "text_difficulty_curriculum",
      s"""WITH q AS (
        |  SELECT doc_id, source, $qualityExprSql AS quality
        |  FROM (
        |    SELECT doc_id, source, $qualityFeaturesSql
        |    FROM (SELECT doc_id, source, text,
        |          string_split(text, ' ') AS rtoks FROM documents))),
        |d AS (SELECT source, quality,
        |        ntile(10) OVER (PARTITION BY source
        |                        ORDER BY quality DESC, doc_id) AS decile
        |      FROM q)
        |SELECT source, decile, CAST(COUNT(*) AS BIGINT) AS n,
        |  ${halfUp4Sql("SUM(CAST(round(quality * 10000) AS BIGINT))",
          "COUNT(*) * 10000")} AS mean_quality
        |FROM d GROUP BY source, decile
        |ORDER BY source, decile""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          qualityScore(col("text")).as("quality"))
        .withColumn("decile", ntile(10).over(w))
        .groupBy("source", "decile")
        // mean at 4 decimals via the shared exact-integer half-up law:
        // decile cells are tiny (n≈2-3), so sum/n lands on exact .xxxx5
        // halves — the case that actually split the engines at sf0.001.
        // quality*10000 is k±1e-12, never near .5, so the inner round
        // is engine-stable.
        .agg(count(lit(1)).as("n"),
          sum(round(col("quality") * 10000).cast("long")).as("sq"))
        .select(col("source"), col("decile"), col("n"),
          halfUp4("sq", "n * 10000").as("mean_quality"))
        .orderBy("source", "decile")
    },

    // Distribution-drift monitor: Population Stability Index between two
    // ingestion cohorts over the quality-score histogram — the check a
    // production pipeline runs between yesterday's and today's batch
    // before training on the merge (PSI > 0.2 is the classic alarm).
    // Cohorts here are the deterministic doc_id parity halves. Shape at
    // 100 TB: ONE corpus pass reduces to ≤10 (bin × cohort-count) cells
    // (map-side combined); the PSI arithmetic runs on that persisted
    // 10-row frame with a broadcast 1-row total — the corpus is never
    // touched again. Laplace-smoothed shares ((n+1)/(N+10)) keep ln
    // finite for one-sided bins; each float step is a single op on
    // identical inputs, rounded before comparison, so the oracle is
    // value-exact.
    QueryDef.sql(
      "text_drift_psi",
      s"""WITH q AS (
        |  SELECT doc_id, $qualityExprSql AS quality
        |  FROM (
        |    SELECT doc_id, $qualityFeaturesSql
        |    FROM (SELECT doc_id, text,
        |          string_split(text, ' ') AS rtoks FROM documents))),
        |c AS (
        |  SELECT LEAST(9, CAST(floor(quality * 10) AS BIGINT)) AS bin,
        |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM q GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS na,
        |        CAST(SUM(n_b) AS BIGINT) AS nb FROM c),
        |p AS (
        |  SELECT bin, n_a, n_b,
        |    round(CAST(n_a + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE), 8) AS pa,
        |    round(CAST(n_b + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE), 8) AS pb
        |  FROM c, t)
        |SELECT bin, n_a, n_b,
        |  round((pa - pb) * ln(pa / pb), 6) AS psi_contrib
        |FROM p ORDER BY bin""".stripMargin) { (s, d) =>
      val q = Tables.documents(s, d)
        .select(col("doc_id"), qualityScore(col("text")).as("quality"))
      // the corpus reduces to <=10 cells here; persist them so the
      // 1-row totals frame doesn't trigger a second corpus pass
      val cells = graft.CacheRegistry.register(q
        .groupBy(least(lit(9L), floor(col("quality") * 10).cast("long"))
          .as("bin"))
        .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val totals = cells.agg(sum("n_a").as("na"), sum("n_b").as("nb"))
      cells.crossJoin(broadcast(totals))
        .withColumn("pa", round((col("n_a") + 1).cast("double") /
          (col("na") + 10).cast("double"), 8))
        .withColumn("pb", round((col("n_b") + 1).cast("double") /
          (col("nb") + 10).cast("double"), 8))
        .select(col("bin"), col("n_a"), col("n_b"),
          round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 6)
            .as("psi_contrib"))
        .orderBy("bin")
    },

    // Zipf-law fit: least-squares slope of ln(frequency) vs ln(rank)
    // over the top-256 terms — natural-language corpora sit near −1,
    // so the slope is a cheap corpus-health signal (template/spam
    // corpora flatten it). One map-side-combined term count, a
    // TakeOrdered top-256 (never a full vocabulary sort), and the
    // closed-form regression from exact decimal sums: each ln is
    // rounded to 6dp FIRST (absorbing libm ulp differences, the
    // text_unigram_logprob trick), the Σx/Σy/Σxy/Σx² run as exact
    // decimals, and only the final slope arithmetic is double.
    QueryDef.sql(
      "text_zipf_slope",
      """WITH tf AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS tok
        |    FROM documents)
        |  WHERE len(tok) > 0 GROUP BY tok),
        |ranked AS (
        |  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rk
        |  FROM tf ORDER BY n DESC, tok LIMIT 256),
        |pts AS (
        |  SELECT CAST(round(ln(rk), 6) AS DECIMAL(18,6)) AS x,
        |         CAST(round(ln(n), 6) AS DECIMAL(18,6)) AS y
        |  FROM ranked),
        |sm AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM pts)
        |SELECT k AS n_terms,
        |  round((k * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (k * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS zipf_slope
        |FROM sm""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("n"))
      // top-256 via TakeOrdered, then rank WITHIN the tiny frame
      val top = tf.orderBy(col("n").desc, col("tok")).limit(256)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("n").desc, col("tok"))))
      val pts = top.select(
        round(log(col("rk").cast("double")), 6).cast("decimal(18,6)").as("x"),
        round(log(col("n").cast("double")), 6).cast("decimal(18,6)").as("y"))
      pts.agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("k").as("n_terms"),
          round((col("k") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
            / (col("k") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")), 4)
            .as("zipf_slope"))
    },

    // N-gram novelty vs the already-ingested corpus (arrival order =
    // doc_id): per doc, the fraction of its distinct word-3-shingles
    // whose FIRST corpus occurrence is this doc — the curation signal
    // for "adds new content" vs "re-treads what we have" (exact dups
    // score 0 against their earlier copy). Scale shape: the inverted
    // index — one gram-keyed min aggregate + one gram-keyed join, no
    // pairwise anything; grams ride as 31-bit hashes (the dedup-oracle
    // collision argument applies).
    QueryDef.sql(
      "text_ngram_novelty",
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(words) - 1),
        |      i -> array_to_string(words[i:i+2], ' '))) AS shs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words
        |        FROM documents)
        |  WHERE len(words) >= 3),
        |ex AS (SELECT doc_id, unnest(shs) AS g FROM sh),
        |fst AS (SELECT g, MIN(doc_id) AS first_doc FROM ex GROUP BY g)
        |SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0
        |    END) AS DOUBLE) / COUNT(*), 4) AS novelty
        |FROM ex e JOIN fst f USING (g)
        |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin) { (s, d) =>
      // two consumers (the min aggregate and the join) — persist so the
      // shingle pass runs once
      val ex = graft.CacheRegistry.register(Tables.documentsPar(s, d)
        .select(col("doc_id"),
          explode(Dedup.shingleHashes(col("text"), 3)).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val fst = ex.groupBy("g").agg(min("doc_id").as("first_doc"))
      ex.join(fst, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_grams"), 4))
        .orderBy("doc_id")
    },

    // Character-entropy quality filter: byte-level Shannon entropy +
    // distinct-char count per document. NOTE the engine computes BYTE
    // entropy (the production definition — codecs and binary payloads
    // have no chars) while the oracle folds over CHARACTERS; the two
    // are equal on this ASCII corpus (the same documented equivalence
    // as the mm_* byte/char windows) and would diverge on multi-byte
    // UTF-8 — a non-ASCII deployment drops the SQL oracle and keeps
    // the byte semantics. Via the one-pass codegen'd
    // [[graft.functions.ByteEntropyStats]] kernel — a narrow projection
    // at any corpus size. The naive shape (explode one row per char,
    // groupBy doc) shuffles |corpus chars| rows; the oracle takes that
    // shape because DuckDB only sees it once at gate scale. Determinism:
    // per-byte terms rounded to 9dp and summed exactly on both sides
    // (order-free; the text_zipf_slope convention). is_low_entropy uses
    // the rounded value so the cut is reproducible across engines.
    QueryDef.sql(
      "text_entropy",
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c,
        |    length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |f AS (
        |  SELECT doc_id, n, c, COUNT(*) AS cnt
        |  FROM ch GROUP BY doc_id, n, c),
        |ent AS (
        |  SELECT doc_id,
        |    round(CAST(SUM(CAST(round(
        |      -(CAST(cnt AS DOUBLE) / n) * log2(CAST(cnt AS DOUBLE) / n),
        |      9) AS DECIMAL(18,9))) AS DOUBLE), 4) AS char_entropy,
        |    CAST(COUNT(*) AS INTEGER) AS n_distinct_chars
        |  FROM f GROUP BY doc_id)
        |SELECT doc_id, char_entropy, n_distinct_chars,
        |  CAST(char_entropy < 3.5 AS INTEGER) AS is_low_entropy
        |FROM ent ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.byteEntropy(col("text")).as("st"))
        .select(col("doc_id"),
          round(col("st.entropy"), 4).as("char_entropy"),
          col("st.n_distinct").as("n_distinct_chars"))
        .withColumn("is_low_entropy", (col("char_entropy") < 3.5).cast("int"))
        .orderBy("doc_id")
    },

    // ------------------------------------------------------------------
    // DSIR-style importance weights (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every doc
    // by the log-likelihood ratio of a TARGET unigram LM (here the
    // English cohort) vs the RAW-corpus LM, add-one smoothed over the
    // corpus vocabulary — the standard recipe for reweighting a crawl
    // toward a target domain. Two vocabulary-sized TF frames (broadcast
    // at 100 TB), one token-stream join, one doc re-aggregation: the
    // same two-shuffle shape as text_unigram_logprob. Determinism: each
    // ln is rounded to 6dp BEFORE the subtraction (absorbs last-ulp
    // libm differences), per-token log-ratios sum as exact decimals.
    QueryDef.sql(
      "text_dsir_weights",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |raw AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cr
        |        FROM tok GROUP BY term),
        |tgt AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS ct FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term
        |    FROM documents WHERE lang = 'en') GROUP BY term),
        |consts AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS v,
        |    CAST(SUM(cr) AS BIGINT) AS nr,
        |    (SELECT CAST(coalesce(SUM(ct), 0) AS BIGINT) FROM tgt) AS nt
        |  FROM raw)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(
        |      CAST(round(ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)
        |          / CAST(nt + v AS DOUBLE)), 6) AS DECIMAL(18,6))
        |      - CAST(round(ln(CAST(cr + 1 AS DOUBLE)
        |          / CAST(nr + v AS DOUBLE)), 6) AS DECIMAL(18,6)))
        |    AS DOUBLE), 4) AS dsir_logw
        |FROM tok JOIN raw USING (term) LEFT JOIN tgt USING (term)
        |CROSS JOIN consts
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documentsPar(s, d)
      val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val raw = tok.groupBy("term").agg(count(lit(1)).as("cr"))
      val tgt = docs.filter(col("lang") === "en")
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("ct"))
      val consts = raw.agg(count(lit(1)).as("v"), sum("cr").cast("bigint").as("nr"))
        .crossJoin(tgt.agg(coalesce(sum("ct"), lit(0L)).cast("bigint").as("nt")))
      val lpT = round(log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
        (col("nt") + col("v")).cast("double")), 6).cast("decimal(18,6)")
      val lpR = round(log((col("cr") + 1).cast("double") /
        (col("nr") + col("v")).cast("double")), 6).cast("decimal(18,6)")
      tok.join(raw, "term").join(tgt, Seq("term"), "left")
        .crossJoin(broadcast(consts))
        .withColumn("lr", lpT - lpR)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(sum(col("lr")).cast("double"), 4).as("dsir_logw"))
        .orderBy("doc_id")
    },

    // ------------------------------------------------------------------
    // Per-source corpus drift: KL(P_source ‖ P_corpus) over the SHARED
    // vocabulary with add-one smoothing — the distribution-shift monitor
    // run between crawl snapshots / ingest cohorts (the unigram-LM
    // counterpart of the numeric text_drift_psi). The sum runs over the
    // full |sources|×|vocab| grid (absent terms still carry smoothed
    // mass), built as a cross-join of two vocabulary-bounded frames —
    // never touches the token stream a second time. Determinism: the
    // only libm op (ln) is rounded at 6dp per value; each cell's
    // contribution p_s·(ln p_s − ln p_c) is rounded at 9dp and summed
    // exactly.
    QueryDef.sql(
      "text_kl_divergence",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cc
        |          FROM tok GROUP BY term),
        |srccnt AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cs
        |           FROM tok GROUP BY source, term),
        |srctot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
        |           FROM tok GROUP BY source),
        |consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
        |    CAST(SUM(cc) AS BIGINT) AS nc FROM vocab),
        |grid AS (
        |  SELECT st.source, st.ns, vb.cc, coalesce(sc.cs, 0) AS cs, c.v, c.nc
        |  FROM srctot st CROSS JOIN vocab vb CROSS JOIN consts c
        |  LEFT JOIN srccnt sc ON sc.source = st.source AND sc.term = vb.term)
        |SELECT source, ns AS n_tokens,
        |  round(CAST(SUM(CAST(round(
        |      (CAST(cs + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE))
        |      * (round(ln(CAST(cs + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE)), 6)
        |        - round(ln(CAST(cc + 1 AS DOUBLE) / CAST(nc + v AS DOUBLE)), 6)),
        |      9) AS DECIMAL(18,9))) AS DOUBLE), 4) AS kl
        |FROM grid GROUP BY source, ns ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.documentsPar(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("term"))
      val vocab = tok.groupBy("term").agg(count(lit(1)).as("cc"))
      val srccnt = tok.groupBy("source", "term").agg(count(lit(1)).as("cs"))
      val srctot = tok.groupBy("source").agg(count(lit(1)).as("ns"))
      val consts = vocab.agg(count(lit(1)).as("v"),
        sum("cc").cast("bigint").as("nc"))
      val ps = (col("cs") + 1).cast("double") / (col("ns") + col("v")).cast("double")
      val contrib = round(ps *
        (round(log(ps), 6) -
          round(log((col("cc") + 1).cast("double") /
            (col("nc") + col("v")).cast("double")), 6)), 9)
        .cast("decimal(18,9)")
      broadcast(srctot).crossJoin(vocab).crossJoin(broadcast(consts))
        .join(srccnt, Seq("source", "term"), "left")
        .na.fill(0L, Seq("cs"))
        .groupBy(col("source"), col("ns").as("n_tokens"))
        .agg(round(sum(contrib).cast("double"), 4).as("kl"))
        .orderBy("source")
    },

    // ------------------------------------------------------------------
    // Jensen–Shannon divergence per source vs the corpus — the SYMMETRIC,
    // bounded ([0, ln 2]) sibling of text_kl_divergence, preferred when
    // the drift score must be comparable across snapshots (KL explodes
    // on vocabulary the reference lacks; JSD cannot). Identical scale
    // shape: the |sources|×|vocab| smoothed grid from two vocabulary-
    // bounded frames; per-cell ½p·(ln p−ln m)+½q·(ln q−ln m) with each
    // ln rounded 6dp, cells rounded 9dp and summed exactly.
    QueryDef.sql(
      "text_jsd",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cc
        |          FROM tok GROUP BY term),
        |srccnt AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cs
        |           FROM tok GROUP BY source, term),
        |srctot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
        |           FROM tok GROUP BY source),
        |consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
        |    CAST(SUM(cc) AS BIGINT) AS nc FROM vocab),
        |grid AS (
        |  SELECT st.source, st.ns, vb.cc, coalesce(sc.cs, 0) AS cs, c.v, c.nc
        |  FROM srctot st CROSS JOIN vocab vb CROSS JOIN consts c
        |  LEFT JOIN srccnt sc ON sc.source = st.source AND sc.term = vb.term)
        |SELECT source, ns AS n_tokens,
        |  round(CAST(SUM(CAST(round(
        |      0.5 * (CAST(cs + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE))
        |        * (round(ln(CAST(cs + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE)), 6)
        |          - round(ln((CAST(cs + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE)
        |            + CAST(cc + 1 AS DOUBLE) / CAST(nc + v AS DOUBLE)) / 2), 6))
        |      + 0.5 * (CAST(cc + 1 AS DOUBLE) / CAST(nc + v AS DOUBLE))
        |        * (round(ln(CAST(cc + 1 AS DOUBLE) / CAST(nc + v AS DOUBLE)), 6)
        |          - round(ln((CAST(cs + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE)
        |            + CAST(cc + 1 AS DOUBLE) / CAST(nc + v AS DOUBLE)) / 2), 6)),
        |      9) AS DECIMAL(18,9))) AS DOUBLE), 4) AS jsd
        |FROM grid GROUP BY source, ns ORDER BY source""".stripMargin) {
      (s, d) =>
      val tok = Tables.documentsPar(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("term"))
      val vocab = tok.groupBy("term").agg(count(lit(1)).as("cc"))
      val srccnt = tok.groupBy("source", "term").agg(count(lit(1)).as("cs"))
      val srctot = tok.groupBy("source").agg(count(lit(1)).as("ns"))
      val consts = vocab.agg(count(lit(1)).as("v"),
        sum("cc").cast("bigint").as("nc"))
      val ps = (col("cs") + 1).cast("double") /
        (col("ns") + col("v")).cast("double")
      val qs = (col("cc") + 1).cast("double") /
        (col("nc") + col("v")).cast("double")
      val ms = (ps + qs) / 2
      val contrib = round(
        lit(0.5) * ps * (round(log(ps), 6) - round(log(ms), 6))
          + lit(0.5) * qs * (round(log(qs), 6) - round(log(ms), 6)), 9)
        .cast("decimal(18,9)")
      broadcast(srctot).crossJoin(vocab).crossJoin(broadcast(consts))
        .join(srccnt, Seq("source", "term"), "left")
        .na.fill(0L, Seq("cs"))
        .groupBy(col("source"), col("ns").as("n_tokens"))
        .agg(round(sum(contrib).cast("double"), 4).as("jsd"))
        .orderBy("source")
    },

    // ------------------------------------------------------------------
    // Bigram language-model scoring — the stronger fluency filter one
    // step up from text_unigram_logprob: per-doc mean NLL under the
    // add-one-smoothed conditional P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V).
    // Same scale shape with one extra vocabulary-bounded frame: bigram
    // TF + unigram TF (both ≪ corpus, broadcast in production) joined
    // onto the bigram stream, then a doc re-aggregation. Determinism:
    // per-bigram ln rounded 6dp, summed as exact decimals.
    QueryDef.sql(
      "text_bigram_logprob",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |bgi AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks) - 1)) AS i
        |  FROM d),
        |bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM bgi),
        |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
        |       FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
        |         SELECT unnest(toks) AS term FROM d) GROUP BY term),
        |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(-SUM(CAST(round(ln(
        |      CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS nll
        |FROM bg
        |JOIN c2 USING (w1, w2)
        |JOIN c1 ON c1.term = bg.w1
        |CROSS JOIN vv
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documentsPar(s, d)
      val toks = tokens(col("text"))
      val bgPairs = filter(
        zip_with(toks, slice(toks, lit(2), greatest(size(toks), lit(1))),
          (x, y) => struct(x.as("w1"), y.as("w2"))),
        p => p("w2").isNotNull)
      val bg = docs.select(col("doc_id"), explode(bgPairs).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = docs.select(explode(toks).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c1"))
      val vv = c1.agg(count(lit(1)).cast("bigint").as("v"))
      val lp = round(log((col("c2") + 1).cast("double") /
        (col("c1") + col("v")).cast("double")), 6).cast("decimal(18,6)")
      bg.join(c2, Seq("w1", "w2"))
        .join(c1, bg("w1") === c1("term"))
        .crossJoin(broadcast(vv))
        .withColumn("lp", lp)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round((-sum(col("lp"))).cast("double") / count(lit(1)), 4)
            .as("nll"))
        .orderBy("doc_id")
    },

    // ------------------------------------------------------------------
    // Flesch-style readability score — the curriculum/quality signal
    // ("reading ease") production filters compute per document. Words =
    // whitespace tokens, sentences = terminal-punctuation runs (floor
    // 1), syllables ≈ vowel-group runs (the standard cheap proxy).
    // Score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    // words). A single narrow codegen'd projection (two regexp counts +
    // a split) — embarrassingly parallel at any corpus size.
    // Determinism: all three inputs are exact integers; the score is
    // one fixed closed-form double expression over them.
    QueryDef.sql(
      "text_readability",
      """SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round(206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
        |    AS flesch
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS INTEGER) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS INTEGER) AS n_syllables
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("int").as("n_words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("int").as("n_sentences"),
          regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("int")
            .as("n_syllables"))
        .withColumn("flesch",
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
            4))
        .orderBy("doc_id")
    },

    // ------------------------------------------------------------------
    // Feature hashing ("hashing trick", Weinberger 2009): every token
    // maps to one of 16 signed buckets — bucket = h(tok) mod 16, sign =
    // bit 4 of h(tok) — and the per-(doc, bucket) signed counts are the
    // sparse feature vector a linear model trains on without ever
    // materializing a vocabulary. THE vectorizer shape for trillion-
    // token corpora: no dictionary build, no OOV path, a two-stage
    // hash aggregate (per-doc partials map-side combine; the bucket
    // roll-up shuffles ≤ 16 rows per partition). Output is the GLOBAL
    // per-bucket profile (doc support, signed mass, absolute mass) —
    // bounded at 16 rows forever; fully integer ⇒ bit-exact oracle.
    QueryDef.sql(
      "text_hashed_features",
      s"""WITH t AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, ${fpSql("tok")} AS f FROM t),
        |db AS (
        |  SELECT doc_id, CAST(f % 16 AS BIGINT) AS bucket,
        |    CAST(SUM(CASE WHEN f % 32 < 16 THEN 1 ELSE -1 END)
        |      AS BIGINT) AS w
        |  FROM h GROUP BY 1, 2)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS sum_w,
        |  CAST(SUM(abs(w)) AS BIGINT) AS sum_abs
        |FROM db GROUP BY bucket ORDER BY bucket""".stripMargin) {
      (s, d) =>
      val f = rollingFingerprint(col("tok"))
      val db = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(tokens(lower(col("text")))).as("tok"))
        .select(col("doc_id"), pmod(f, lit(16L)).cast("bigint").as("bucket"),
          when(pmod(f, lit(32L)) < 16, 1L).otherwise(-1L).as("sgn"))
        .groupBy("doc_id", "bucket").agg(sum("sgn").as("w"))
      db.groupBy("bucket")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("w").cast("bigint").as("sum_w"),
          sum(abs(col("w"))).cast("bigint").as("sum_abs"))
        .orderBy("bucket")
    },

    // ------------------------------------------------------------------
    // Heaps'-law vocabulary-growth curve: cumulative distinct vocabulary
    // after each decile of the corpus (ingestion order = doc rank), plus
    // the fitted Heaps exponent β (V(n) ≈ K·n^β) — the "is this corpus
    // still yielding new vocabulary or has novelty saturated?" curation
    // report. SCALE SHAPE: first occurrence is min(doc_id) per bigram —
    // a two-stage hash aggregate over the token stream, never a sort;
    // doc ranks come from the range-repartition GlobalRank recipe (no
    // single-partition rank); everything after lives on the 10-row
    // decile grid, where the β OLS uses the 6dp-ln + exact-decimal-sum
    // convention of graph_degree_powerlaw.
    QueryDef.sql(
      "text_heaps_law",
      s"""WITH docs AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rk
        |  FROM documents),
        |dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM docs),
        |dd AS (SELECT doc_id, CAST((rk * 10) // nd AS BIGINT) AS decile
        |       FROM docs, dtot),
        |ft AS (
        |  SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS fd
        |  FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(ts) - 1),
        |        i -> ts[i] || ' ' || ts[i + 1])) AS tok
        |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts
        |          FROM documents)
        |    WHERE len(ts) >= 2)
        |  GROUP BY tok),
        |fo AS (
        |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS new_grams
        |  FROM ft JOIN dd ON ft.fd = dd.doc_id GROUP BY decile),
        |dc AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS docs_in
        |       FROM dd GROUP BY decile),
        |grid AS (
        |  SELECT g.decile, coalesce(fo.new_grams, 0) AS new_grams,
        |    dc.docs_in
        |  FROM (SELECT unnest(range(0, 10)) AS decile) g
        |  LEFT JOIN fo ON g.decile = fo.decile
        |  JOIN dc ON g.decile = dc.decile),
        |cum AS (
        |  SELECT decile, new_grams,
        |    CAST(SUM(docs_in) OVER (ORDER BY decile) AS BIGINT) AS docs_cum,
        |    CAST(SUM(new_grams) OVER (ORDER BY decile) AS BIGINT)
        |      AS vocab_cum
        |  FROM grid),
        |pts AS (
        |  SELECT round(ln(CAST(docs_cum AS DOUBLE)), 6) AS lx,
        |    round(ln(CAST(greatest(vocab_cum, 1) AS DOUBLE)), 6) AS ly
        |  FROM cum),
        |fit AS (
        |  SELECT round(${LogLogFit.slopeSql}, 4) + 0 AS beta
        |  FROM (${LogLogFit.aggSql("pts")}))
        |SELECT decile, new_grams, docs_cum, vocab_cum, beta
        |FROM cum, fit ORDER BY decile""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val ranked = graft.operators.GlobalRank.withRank(docs,
        Seq(col("doc_id")))
      val dtot = ranked.agg(count(lit(1)).cast("bigint").as("nd"))
      val dd = ranked.crossJoin(broadcast(dtot))
        .select(col("doc_id"),
          expr("(rk * 10) div nd").cast("bigint").as("decile"))
      // BIGRAM vocabulary (unigram vocab saturates in one decile on any
      // small-alphabet corpus; bigrams give the curve room to grow)
      val first = Tables.documentsPar(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ts")) - 1),
            i => concat(element_at(col("ts"), i), lit(" "),
              element_at(col("ts"), i + 1)))).as("tok"))
        .groupBy("tok").agg(min("doc_id").cast("bigint").as("fd"))
      val fo = first.join(dd, col("fd") === col("doc_id"))
        .groupBy("decile").agg(count(lit(1)).cast("bigint").as("new_grams"))
      val dc = dd.groupBy("decile")
        .agg(count(lit(1)).cast("bigint").as("docs_in"))
      val grid = s.range(0, 10).toDF("decile")
        .join(fo, Seq("decile"), "left").na.fill(0L, Seq("new_grams"))
        .join(dc, "decile")
      val wCum = Window.orderBy("decile")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.select(col("decile"), col("new_grams"),
        sum("docs_in").over(wCum).cast("bigint").as("docs_cum"),
        sum("new_grams").over(wCum).cast("bigint").as("vocab_cum"))
      // greatest(,1): a slice whose first decile yields no bigrams
      // would hit ln(0) — an ERROR in DuckDB but NULL in Spark, so the
      // engines would diverge structurally, not just numerically
      val pts = cum.select(
        round(log(col("docs_cum").cast("double")), 6).as("lx"),
        round(log(greatest(col("vocab_cum"), lit(1L)).cast("double")), 6)
          .as("ly"))
      val fit = LogLogFit.fit(pts)
        .select((round(LogLogFit.slope, 4) + 0).as("beta"))
      cum.crossJoin(broadcast(fit))
        .select("decile", "new_grams", "docs_cum", "vocab_cum", "beta")
        .orderBy("decile")
    },

    // Lexical-diversity profile: per-doc type-token ratio (distinct
    // words / words) and hapax-legomenon share, rolled into a TTR-decile
    // histogram — the vocabulary-richness cut of corpus curation
    // (low-TTR docs are boilerplate/repetition; a high hapax share marks
    // OCR noise or code). TTR is half-up rounded to an exact integer
    // percent BEFORE bucketing, so bucket boundaries are engine-free.
    // SCALE: one doc-keyed (doc,term) count + one doc-keyed reduce —
    // the same two-shuffle shape as TF-IDF — then a 11-row histogram;
    // no vocabulary frame is ever collected.
    QueryDef.sql(
      "text_lexical_diversity",
      s"""WITH tc AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |per AS (
        |  SELECT doc_id,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax
        |  FROM tc GROUP BY doc_id)
        |SELECT
        |  CAST((2 * n_types * 100 + n_tokens) // (2 * n_tokens) // 10
        |    AS BIGINT) AS ttr_decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  ${halfUp4Sql("SUM(n_types)", "COUNT(*)")} AS avg_types,
        |  ${halfUp4Sql("SUM(n_hapax)", "SUM(n_types)")} AS hapax_share
        |FROM per GROUP BY 1 ORDER BY ttr_decile""".stripMargin) { (s, d) =>
      val tc = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      val per = tc.groupBy("doc_id").agg(
        sum("c").cast("bigint").as("n_tokens"),
        count(lit(1)).cast("bigint").as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("bigint")
          .as("n_hapax"))
      per.groupBy(
          expr("(2 * n_types * 100 + n_tokens) div (2 * n_tokens) div 10")
            .cast("bigint").as("ttr_decile"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_tokens").cast("bigint").as("sum_tokens"),
          halfUp4("SUM(n_types)", "COUNT(*)").as("avg_types"),
          halfUp4("SUM(n_hapax)", "SUM(n_types)").as("hapax_share"))
        .orderBy("ttr_decile")
    }
  )

  /** Count-min sketch model: the d=4 pairwise-independent hash rows
    * (a, b) and the probe vocabulary, shared between the Spark builder
    * and the DuckDB oracle (both render from THESE values) so the
    * sketch can never silently diverge between the engines. */
  val cmHashRows: Seq[(Long, Long)] =
    Seq((3L, 17L), (5L, 29L), (7L, 47L), (11L, 83L))
  val cmProbeToks: Seq[String] =
    Seq("the", "a", "data", "table", "row", "hash", "join", "spark", "zzxq")

  /** Quality-classifier model: one small integer weight in [-4, 4] per
    * hash bucket, seeded from md5 so ANY engine regenerates the same
    * model from the seed strings alone (the oracle embeds the literal
    * list; same determinism trick as Similarity.rpSign). */
  val qcWeights: IndexedSeq[Int] = (0 until 64).map { b =>
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"qw_$b".getBytes("UTF-8"))
    ((h(0) & 0xff) % 9) - 4
  }

  /** Raw quality-classifier margin (exact BIGINT; keep ⟺ ≥ 0) — the
    * text_quality_classifier model as a reusable Column, so pipeline
    * compositions (connector_incremental_curation) filter with the
    * IDENTICAL model the gated classifier query certifies. */
  def qualityScoreRaw(text: Column): Column = {
    val wlit = lit(qcWeights.toArray)
    aggregate(tokens(lower(text)), lit(0L), (acc, t) =>
      acc + element_at(wlit,
        pmod(rollingFingerprint(t), lit(64L)).cast("int") + 1).cast("bigint"))
  }

  /** DuckDB replay of [[qualityScoreRaw]] over a `text` column. The
    * calling FROM clause must cross-join [[qcWeightsCteSql]]'s `qc_wl`
    * so `w` is a plain in-scope column (DuckDB rejects subqueries
    * inside lambdas). */
  def qualityScoreRawSql(textExpr: String): String =
    s"""CAST(list_sum(list_transform(string_split(lower($textExpr), ' '),
       |      s -> w[1 + CAST(${fpSql("s")} % 64 AS INTEGER)]))
       |  AS BIGINT)""".stripMargin

  /** The weight-list CTE [[qualityScoreRawSql]] reads (`qc_wl(w)`). */
  def qcWeightsCteSql: String =
    s"qc_wl AS (SELECT ${qcWeights.mkString("[", ", ", "]")} AS w)"
}
