package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: treat media payloads as opaque `binary`
  * columns with typed metadata, and run decode / feature-extraction as a
  * partition-parallel pass with a real schema contract.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic stub (`fakeDecodeFeatures`); everything
  * around it — binary column handling, schema, batch-shaped mapPartitions,
  * partition sizing — is the real 100 TB design: media bytes never hit the
  * driver, each partition streams its blobs through the decoder, and
  * metadata (byte size, content hash, mime guess) is computed with
  * codegen'd expressions before the expensive decode so corrupt/oversized
  * payloads can be filtered early.
  */
object Multimodal {

  /** e3-scaled integer DCT-II coefficient table for the 16→8 transform:
    * K(u,r) = round(1000·cos(π(2r+1)u/32)), u∈[0,8), r∈[0,16). Rendered
    * from this ONE definition into both engines (the q_ewma_forecast
    * pre-rounded-weight recipe), so the 2D DCT below is exact integer
    * arithmetic everywhere — no libm call at query time in either
    * engine. */
  // rendered from the fused kernel's single-source table (the
  // AfpFrameSymbols convention) so the two engines can never drift
  private val dctK: Seq[(Int, Int, Long)] =
    for { u <- 0 until 8; r <- 0 until 16 }
      yield (u, r, graft.functions.PhashDct.K(u * 16 + r))

  private val dctKValuesSql: String =
    dctK.map { case (u, r, kv) => s"($u, $r, $kv)" }.mkString(", ")

  /** 31^j coefficients (j = 0..7) of the content-defined-chunking
    * rolling hash h(i) = Σ_j byte(i−j)·31^j — ONE definition rendered
    * into both engines (the [[dctK]] recipe). Exact in BIGINT: max term
    * 255·31^7 ≈ 7.0e12, eight of them ≈ 5.6e13 ≪ 2^63. */
  private val cdcPow: Seq[Long] =
    Iterator.iterate(1L)(_ * 31L).take(8).toSeq

  /** e3-scaled integer DFT tables for the 16-sample audio frames of
    * mm_audio_fingerprint: band b = frequency k=b+1 cycles/frame,
    * C(b,j) = round(1000·cos(2πkj/16)), S(b,j) = round(1000·sin(·)),
    * j∈[0,16), b∈[0,7). The single definition lives in
    * [[graft.functions.AfpFrameSymbols]] (the fused Spark kernel) and is
    * rendered into the oracle SQL here (the [[dctK]] / q_ewma_forecast
    * pre-rounded-weight recipe), so the per-frame spectra are exact
    * integer arithmetic everywhere and the two engines cannot drift. */
  private def afC(b: Int): Int => Long = j =>
    graft.functions.AfpFrameSymbols.C(b * 16 + j)
  private def afS(b: Int): Int => Long = j =>
    graft.functions.AfpFrameSymbols.S(b * 16 + j)

  private val afBandsValuesSql: String = (0 until 7).map { b =>
    val cs = (0 until 16).map(afC(b)).mkString("[", ", ", "]")
    val ss = (0 until 16).map(afS(b)).mkString("[", ", ", "]")
    s"($b, $cs, $ss)"
  }.mkString(",\n  ")

  /** Shared oracle CTE prefix of mm_audio_fingerprint and
    * mm_afp_prebuilt: byte-clamped sample decode (kind 0 = original,
    * kind 1 = 16-sample-shifted + requantized variant) → per-frame
    * 7-bin integer DFT → frame symbols (top-3 band ranking +
    * digit-lengths) → landmark hashes (sym_t, sym_{t+dt}, dt). ONE
    * definition so the two gates can never drift on the fingerprint
    * itself. */
  private def afpCommonCtesSql: String =
    s"""bands AS (SELECT * FROM (VALUES $afBandsValuesSql)
      |  t(b, cv, sv)),
      |fr AS (
      |  SELECT doc_id, kind, f, b,
      |    CAST(list_sum(list_transform(range(1, 17),
      |      i -> smp[i] * cv[i])) AS BIGINT) AS cr,
      |    CAST(list_sum(list_transform(range(1, 17),
      |      i -> smp[i] * sv[i])) AS BIGINT) AS ci
      |  FROM (
      |    SELECT doc_id, k.kind, t.f,
      |      list_transform(range(1, 17), i ->
      |        CASE WHEN k.kind = 0 THEN
      |          CASE WHEN length(text) >= t.f*16 + i
      |               THEN least(CAST(unicode(substring(text,
      |                 CAST(t.f*16 + i AS INTEGER), 1)) AS BIGINT), 255)
      |                 - 64
      |               ELSE 0 END
      |        ELSE
      |          CASE WHEN length(text) >= t.f*16 + i + 16
      |               THEN (least(CAST(unicode(substring(text,
      |                 CAST(t.f*16 + i + 16 AS INTEGER), 1)) AS BIGINT),
      |                 255) // 4) * 4 - 64
      |               ELSE 0 END END) AS smp
      |    FROM documents, generate_series(0, 19) t(f),
      |         (SELECT unnest([0, 1]) AS kind) k), bands),
      |rk AS (
      |  SELECT doc_id, kind, f, b, e,
      |    row_number() OVER (PARTITION BY doc_id, kind, f
      |      ORDER BY e DESC, b ASC) AS rn
      |  FROM (SELECT doc_id, kind, f, b, cr*cr + ci*ci AS e FROM fr)),
      |pk AS MATERIALIZED (
      |  SELECT a.doc_id, a.kind, a.f,
      |    ((((a.b * 7 + c.b) * 7 + d.b) * 16
      |      + length(CAST(a.e AS VARCHAR))) * 16
      |      + length(CAST(c.e AS VARCHAR))) AS sym
      |  FROM rk a
      |  JOIN rk c ON c.doc_id = a.doc_id AND c.kind = a.kind
      |    AND c.f = a.f AND c.rn = 2
      |  JOIN rk d ON d.doc_id = a.doc_id AND d.kind = a.kind
      |    AND d.f = a.f AND d.rn = 3
      |  WHERE a.rn = 1 AND a.e > 0),
      |ch AS MATERIALIZED (
      |  SELECT a.doc_id * 2 + a.kind AS mid, a.f,
      |    (a.sym * 87809 + c.sym) * 4 + dt.dt AS hv
      |  FROM pk a JOIN (VALUES (1), (2), (3)) dt(dt) ON TRUE
      |  JOIN pk c ON c.doc_id = a.doc_id AND c.kind = a.kind
      |    AND c.f = a.f + dt.dt)""".stripMargin

  /** Documents-as-binary view: the corpus text re-encoded as UTF-8 blobs
    * stands in for image/audio payloads (same column shape: id + binary +
    * metadata). */
  def binaryView(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      struct(
        length(col("text").cast("binary")).cast("bigint").as("n_bytes"),
        col("source").as("origin"),
        lit("text/plain").as("mime")).as("meta"))

  /** STUB — stands in for a real image/audio decoder (no codec libs in
    * this container). Deterministic fake: 4 "features" derived from byte
    * statistics. The seam (Iterator[Row] => Iterator[Row], executed per
    * partition) is exactly where a JNI/onnx decoder would slot in. */
  def fakeDecodeFeatures(payload: Array[Byte]): Array[Double] = {
    var s0 = 0L; var s1 = 0L
    var i = 0
    while (i < payload.length) {
      s0 += payload(i) & 0xff
      s1 += (payload(i) & 0xff).toLong * ((i % 97) + 1)
      i += 1
    }
    val n = math.max(payload.length, 1)
    Array(payload.length.toDouble, s0.toDouble / n, (s1 % 10007).toDouble,
      ((s0 ^ s1) % 4093).toDouble)
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  /** Partition-parallel decode pass (mapPartitions, batch-shaped): the
    * Scala equivalent of a `mapInPandas` decode UDF. */
  def decodeFeatures(binary: DataFrame): DataFrame = {
    val spark = binary.sparkSession
    val rdd = binary.select("media_id", "payload", "meta.n_bytes").rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          Row(r.getAs[Long]("media_id"), r.getAs[Long]("n_bytes"),
            fakeDecodeFeatures(payload))
        }
      }
    spark.createDataFrame(rdd, featureSchema)
  }

  def defs: Seq[QueryDef] = Seq(
    // Binary metadata extraction — expression-level (no decode), oracle-
    // checked: byte length + sha256 + mime routing.
    QueryDef.sql(
      "mm_binary_meta",
      """SELECT doc_id AS media_id,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  sha256(text) AS payload_sha, 'text/plain' AS mime
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      binaryView(Tables.documents(s, d)).select(
        col("media_id"),
        col("meta.n_bytes").as("n_bytes"),
        sha2(col("payload"), 256).as("payload_sha"),
        col("meta.mime").as("mime"))
        .orderBy("media_id")
    },

    // Frame sampling: fixed-offset byte windows from each payload (the
    // video-frame / audio-clip sampling shape: k offsets per blob, never
    // the whole payload downstream), hashed for verification. Byte
    // windows on the Spark side, character windows in the oracle — equal
    // because the corpus is ASCII; real media bytes would keep the
    // Spark-side semantics and drop the SQL oracle.
    QueryDef.sql(
      "mm_frame_sample",
      """SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
        |  md5(substring(text, CAST(1 + i*100 AS INTEGER), 16)) AS frame_md5
        |FROM documents, generate_series(0, 2) t(i)
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
      binaryView(Tables.documents(s, d))
        .select(col("media_id"), posexplode(array((0 until 3).map(i =>
          md5(expr(s"substring(payload, ${1 + i * 100}, 16)"))): _*)))
        .select(col("media_id"), col("pos").cast("int").as("frame_idx"),
          col("col").as("frame_md5"))
        .orderBy("media_id", "frame_idx")
    },

    // Stubbed decode + feature extraction through the partition-parallel
    // seam. The fake decoder is plain byte arithmetic and the corpus is
    // ASCII (byte i == codepoint of char i+1), so the oracle replicates
    // it exactly — proving the mapPartitions seam itself, not just the
    // stub, preserves row identity and values. A real JNI/onnx decoder
    // would drop the oracle and keep the seam. MultimodalSpec pins the
    // stub's outputs independently.
    QueryDef.sql(
      "mm_decode_features",
      """SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  round(CAST(s0 AS DOUBLE) / greatest(length(text), 1), 4) AS mean_byte,
        |  CAST(s1 % 10007 AS DOUBLE) AS weighted_mod
        |FROM (
        |  SELECT doc_id, text,
        |    coalesce(list_sum(list_transform(range(1, length(text)+1),
        |      i -> CAST(unicode(text[i]) AS BIGINT))), 0) AS s0,
        |    coalesce(list_sum(list_transform(range(1, length(text)+1),
        |      i -> CAST(unicode(text[i]) AS BIGINT) * (((i-1) % 97) + 1))), 0) AS s1
        |  FROM documents)
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      decodeFeatures(binaryView(Tables.documents(s, d)))
        .select(col("media_id"), col("n_bytes"),
          round(element_at(col("features"), 2), 4).as("mean_byte"),
          element_at(col("features"), 3).as("weighted_mod"))
        .orderBy("media_id")
    },

    // ViT-style patch extraction: tile the WHOLE payload into 64-byte
    // patches with raster-order grid coordinates (4 patches per pretend
    // row) — the tokenization step of an image-transformer ingest, where
    // each patch becomes one input token. Unlike mm_frame_sample (fixed
    // probe offsets), this is the complete tiling: the tail patch is
    // clipped, never padded, and n_bytes records the clip. Narrow
    // ~len/64 fan-out, no shuffle before the sink. Byte windows on the
    // Spark side, char windows in the oracle — equal on the ASCII
    // corpus.
    QueryDef.sql(
      "mm_image_patches",
      """SELECT doc_id AS media_id, CAST(pi AS INTEGER) AS patch_idx,
        |  CAST(pi // 4 AS INTEGER) AS prow, CAST(pi % 4 AS INTEGER) AS pcol,
        |  CAST(length(substring(text, CAST(1 + pi*64 AS INTEGER), 64)) AS INTEGER) AS n_bytes,
        |  md5(substring(text, CAST(1 + pi*64 AS INTEGER), 64)) AS patch_md5
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(CAST(ceil(length(text) / 64.0) AS BIGINT), 1))) AS pi
        |  FROM documents)
        |ORDER BY media_id, patch_idx""".stripMargin) { (s, d) =>
      val nPatches = greatest(
        ceil(length(col("payload")).cast("double") / 64.0).cast("bigint"), lit(1L))
      binaryView(Tables.documents(s, d))
        .select(col("media_id"), col("payload"),
          posexplode(sequence(lit(0L), nPatches - 1)))
        .select(col("media_id"), col("col").cast("int").as("patch_idx"),
          floor(col("col") / 4).cast("int").as("prow"),
          pmod(col("col"), lit(4)).cast("int").as("pcol"),
          length(expr("substring(payload, CAST(1 + col*64 AS INT), 64)"))
            .cast("int").as("n_bytes"),
          md5(expr("substring(payload, CAST(1 + col*64 AS INT), 64)"))
            .as("patch_md5"))
        .orderBy("media_id", "patch_idx")
    },

    // Audio-shaped feature extraction: the payload interpreted as 8-bit
    // PCM (centered at 64), windowed into 160-sample frames, each frame
    // reduced to energy (Σ s²) + zero-crossing count — the classic VAD /
    // silence-trim features, through the SAME partition-parallel decode
    // seam as mm_decode_features (a real pipeline would swap the byte
    // interpretation for an actual codec and keep the window/feature
    // shape). All features are exact integers, so the oracle replays the
    // arithmetic verbatim — no float anywhere. The tail window is
    // clipped, never padded (n_samples records it).
    QueryDef.sql(
      "mm_audio_energy",
      """SELECT doc_id AS media_id, CAST(wi AS INTEGER) AS window_idx,
        |  CAST(length(w) AS INTEGER) AS n_samples,
        |  CAST(coalesce(list_sum(list_transform(range(1, length(w) + 1),
        |    i -> CAST((unicode(w[i]) - 64) * (unicode(w[i]) - 64)
        |      AS BIGINT))), 0) AS BIGINT) AS energy,
        |  CAST(coalesce(list_sum(list_transform(range(1, length(w)),
        |    i -> CASE WHEN (unicode(w[i]) - 64) * (unicode(w[i+1]) - 64) < 0
        |      THEN 1 ELSE 0 END)), 0) AS INTEGER) AS zero_crossings
        |FROM (
        |  SELECT doc_id, wi,
        |    substring(text, CAST(1 + wi*160 AS INTEGER), 160) AS w
        |  FROM (
        |    SELECT doc_id, text,
        |      unnest(range(0, greatest(CAST(ceil(length(text) / 160.0)
        |        AS BIGINT), 1))) AS wi
        |    FROM documents))
        |ORDER BY media_id, window_idx""".stripMargin) { (s, d) =>
      audioWindowFeatures(binaryView(Tables.documents(s, d)), win = 160)
        .orderBy("media_id", "window_idx")
    },

    // Voice-activity segmentation (r15) — the silence-trim/segmentation
    // stage an audio curation pipeline runs between decode and
    // transcription: per media, a window is ACTIVE iff 2·energy ≥ the
    // media's max window energy (an integer compare against a
    // data-derived floor — no magic constant, and every media keeps at
    // least its loudest window), and consecutive active windows merge
    // into segments via gaps-islands. Windows/energies come through the
    // SAME decode seam as mm_audio_energy (a real pipeline swaps in a
    // codec, keeps the window/segment shape); clipped tail windows have
    // genuinely lower energy, so trailing-silence trim is exercised on
    // every media. All-integer features ⇒ the oracle replays verbatim.
    // SCALE: windows per media are payload-bounded (the per-media
    // max/row_number windows run over ≤ ceil(len/160) rows after a
    // media_id-keyed shuffle); segment assembly is one groupBy.
    QueryDef.sql(
      "mm_audio_vad",
      """WITH w AS (
        |  SELECT doc_id AS media_id, CAST(wi AS INTEGER) AS window_idx,
        |    CAST(coalesce(list_sum(list_transform(range(1, length(w) + 1),
        |      i -> CAST((unicode(w[i]) - 64) * (unicode(w[i]) - 64)
        |        AS BIGINT))), 0) AS BIGINT) AS energy
        |  FROM (
        |    SELECT doc_id, wi,
        |      substring(text, CAST(1 + wi*160 AS INTEGER), 160) AS w
        |    FROM (
        |      SELECT doc_id, text,
        |        unnest(range(0, greatest(CAST(ceil(length(text) / 160.0)
        |          AS BIGINT), 1))) AS wi
        |      FROM documents))),
        |mx AS (SELECT media_id, max(energy) AS mx FROM w GROUP BY 1),
        |act AS (
        |  SELECT w.media_id, w.window_idx, w.energy
        |  FROM w JOIN mx ON mx.media_id = w.media_id
        |  WHERE w.energy * 2 >= mx.mx),
        |isl AS (
        |  SELECT media_id, window_idx, energy,
        |    window_idx - row_number() OVER (
        |      PARTITION BY media_id ORDER BY window_idx) AS isl
        |  FROM act),
        |seg AS (
        |  SELECT media_id, isl,
        |    CAST(min(window_idx) AS INTEGER) AS start_w,
        |    CAST(max(window_idx) AS INTEGER) AS end_w,
        |    CAST(COUNT(*) AS INTEGER) AS n_windows,
        |    CAST(SUM(energy) AS BIGINT) AS seg_energy
        |  FROM isl GROUP BY 1, 2)
        |SELECT media_id, CAST(row_number() OVER (
        |    PARTITION BY media_id ORDER BY start_w) AS INTEGER) AS seg_idx,
        |  start_w, end_w, n_windows, seg_energy
        |FROM seg ORDER BY media_id, seg_idx""".stripMargin) { (s, d) =>
      val wmx = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id")
      val ord = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id").orderBy("window_idx")
      val act = audioWindowFeatures(binaryView(Tables.documents(s, d)),
          win = 160)
        .select(col("media_id"), col("window_idx"), col("energy"))
        .withColumn("mx", max("energy").over(wmx))
        .filter(col("energy") * 2 >= col("mx"))
      act
        .withColumn("isl", col("window_idx") - row_number().over(ord))
        .groupBy("media_id", "isl")
        .agg(min("window_idx").cast("int").as("start_w"),
          max("window_idx").cast("int").as("end_w"),
          count(lit(1)).cast("int").as("n_windows"),
          sum("energy").as("seg_energy"))
        .withColumn("seg_idx", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("media_id").orderBy("start_w")).cast("int"))
        .select("media_id", "seg_idx", "start_w", "end_w", "n_windows",
          "seg_energy")
        .orderBy("media_id", "seg_idx")
    },

    // Scene-cut detection on the video-shaped payload: frames = 256-byte
    // windows through the SAME decode seam (a real pipeline swaps in a
    // codec and keeps the frame/feature shape), per-frame integer energy,
    // and a cut wherever consecutive-frame energy jumps by ≥ 50000 — the
    // shot-boundary primitive behind frame-sampling curricula. One lag
    // window PER MEDIA (shuffle keyed by media_id; frames of one medium
    // sort locally), all-integer features ⇒ the oracle replays verbatim.
    QueryDef.sql(
      "mm_scene_cut",
      """WITH fr AS (
        |  SELECT doc_id AS media_id, CAST(wi AS INTEGER) AS frame_idx,
        |    CAST(coalesce(list_sum(list_transform(range(1, length(w) + 1),
        |      i -> CAST((unicode(w[i]) - 64) * (unicode(w[i]) - 64)
        |        AS BIGINT))), 0) AS BIGINT) AS energy
        |  FROM (
        |    SELECT doc_id, wi,
        |      substring(text, CAST(1 + wi*256 AS INTEGER), 256) AS w
        |    FROM (
        |      SELECT doc_id, text,
        |        unnest(range(0, greatest(CAST(ceil(length(text) / 256.0)
        |          AS BIGINT), 1))) AS wi
        |      FROM documents)))
        |SELECT media_id, frame_idx, energy,
        |  energy - lag(energy) OVER w AS d_energy,
        |  CAST(abs(energy - lag(energy) OVER w) >= 50000 AS INTEGER)
        |    AS is_cut
        |FROM fr WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id").orderBy("frame_idx")
      audioWindowFeatures(binaryView(Tables.documents(s, d)), win = 256)
        .select(col("media_id"), col("window_idx").as("frame_idx"),
          col("energy"))
        .withColumn("d_energy", col("energy") - lag("energy", 1).over(w))
        .withColumn("is_cut",
          (abs(col("d_energy")) >= 50000).cast("int"))
        .orderBy("media_id", "frame_idx")
    },

    // Caption-to-frame alignment (r15): the cross-modal pairing grid a
    // caption/audio training pipeline produces — each whitespace token's
    // char START offset maps it onto the 256-byte frame (the
    // mm_scene_cut window) of the SAME media's payload, yielding per
    // (media, frame): token count + first/last token index (the
    // forced-alignment anchors subtitle/ASR pairing starts from; a real
    // pipeline swaps char offsets for timestamps, keeps the grid
    // shape). Offsets are an exact integer prefix sum (Σ len+1 of prior
    // tokens), so the oracle replays verbatim. SCALE: the running sum
    // is a PER-MEDIA window (payload-bounded rows after one media-keyed
    // shuffle — never a corpus-wide window); the rollup is the same
    // shuffle's aggregate.
    QueryDef.sql(
      "mm_caption_align",
      """WITH tk AS (
        |  SELECT media_id, CAST(i - 1 AS BIGINT) AS ti,
        |    CAST(length(toks[i]) AS BIGINT) AS ln
        |  FROM (
        |    SELECT doc_id AS media_id,
        |      unnest(range(1, len(toks) + 1)) AS i, toks
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |          FROM documents))),
        |off AS (
        |  SELECT media_id, ti,
        |    coalesce(SUM(ln + 1) OVER (PARTITION BY media_id ORDER BY ti
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS start
        |  FROM tk),
        |f AS (
        |  SELECT media_id, CAST(start // 256 AS INTEGER) AS frame_idx, ti
        |  FROM off)
        |SELECT media_id, frame_idx, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(MIN(ti) AS BIGINT) AS first_tok,
        |  CAST(MAX(ti) AS BIGINT) AS last_tok
        |FROM f GROUP BY media_id, frame_idx
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id").orderBy("ti")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          posexplode(split(col("text"), " ")).as(Seq("ti", "tok")))
        .select(col("media_id"), col("ti").cast("bigint").as("ti"),
          (length(col("tok")) + 1).cast("bigint").as("ln"))
        .withColumn("start", coalesce(sum("ln").over(w), lit(0L)))
        .select(col("media_id"),
          expr("start div 256").cast("int").as("frame_idx"), col("ti"))
        .groupBy("media_id", "frame_idx")
        .agg(count(lit(1)).cast("bigint").as("n_tokens"),
          min("ti").cast("bigint").as("first_tok"),
          max("ti").cast("bigint").as("last_tok"))
        .orderBy("media_id", "frame_idx")
    },

    // Dominant-color / palette extraction (r15): consecutive 3-byte
    // groups read as (r,g,b) pixels, each channel quantized to its top
    // 2 bits → a 64-entry palette; per media: the modal palette bucket
    // (ties → smallest bucket id), its share, and the distinct-bucket
    // count — the thumbnail-palette / near-solid-image screen of an
    // image ingest (a near-solid image concentrates mass in one
    // bucket). All-integer until the 4dp share. SCALE: the pixel
    // explode is len/3 rows per media feeding ONE (media, bucket)
    // map-side-combined aggregate; the per-media argmax is a
    // payload-bounded (≤64-row) window after the same shuffle.
    QueryDef.sql(
      "mm_dominant_color",
      """WITH px AS (
        |  SELECT doc_id AS media_id,
        |    (unicode(text[CAST(3 * p + 1 AS INTEGER)]) // 64) * 16
        |      + (unicode(text[CAST(3 * p + 2 AS INTEGER)]) // 64) * 4
        |      + (unicode(text[CAST(3 * p + 3 AS INTEGER)]) // 64)
        |      AS bucket
        |  FROM (
        |    SELECT doc_id, text,
        |      unnest(range(0, CAST(length(text) // 3 AS BIGINT))) AS p
        |    FROM documents WHERE length(text) >= 3)),
        |cnt AS (
        |  SELECT media_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM px GROUP BY media_id, bucket),
        |top AS (
        |  SELECT media_id, bucket, n,
        |    row_number() OVER (PARTITION BY media_id
        |      ORDER BY n DESC, bucket) AS rk,
        |    CAST(SUM(n) OVER (PARTITION BY media_id) AS BIGINT)
        |      AS n_pixels,
        |    CAST(COUNT(*) OVER (PARTITION BY media_id) AS BIGINT)
        |      AS n_buckets
        |  FROM cnt)
        |SELECT media_id, CAST(bucket AS INTEGER) AS dominant_bucket,
        |  n_pixels, n_buckets,
        |  CAST((2 * n * 10000 + n_pixels) // (2 * n_pixels) AS DOUBLE)
        |    / 10000 AS dominant_share
        |FROM top WHERE rk = 1 ORDER BY media_id""".stripMargin) { (s, d) =>
      // r15 opt 2 (guide §2.4 — remove shuffles outright): the palette
      // is per-media-bounded (≤64 buckets), so the modal bucket, pixel
      // and bucket counts and the share are all per-row functions of
      // the pixel-bucket array — computed IN-ROW. Modal count = longest
      // equal-run of the SORTED bucket array; the strictly-greater run
      // replacement keeps the smallest bucket on ties, matching the old
      // window's ORDER BY n DESC, bucket. The previous shape exploded
      // ~len/3 pixel rows per media through a (media, bucket) aggregate
      // exchange plus two window passes over the same shuffle; this is
      // one map-only projection plus the output sort.
      val bArr = expr(
        """transform(sequence(0L, CAST(length(text) div 3 AS BIGINT) - 1),
          |  p -> CAST(
          |    (ascii(substring(text, CAST(3 * p + 1 AS INT), 1)) div 64) * 16
          |    + (ascii(substring(text, CAST(3 * p + 2 AS INT), 1)) div 64) * 4
          |    + (ascii(substring(text, CAST(3 * p + 3 AS INT), 1)) div 64)
          |    AS INT))""".stripMargin)
      val best = expr(
        """aggregate(array_sort(ba),
          |  named_struct('p', CAST(-1 AS INT), 'r', CAST(0 AS BIGINT),
          |    'm', CAST(0 AS BIGINT), 'mb', CAST(-1 AS INT)),
          |  (a, x) -> named_struct(
          |    'p', x,
          |    'r', IF(x = a.p, a.r + 1, CAST(1 AS BIGINT)),
          |    'm', GREATEST(a.m, IF(x = a.p, a.r + 1, CAST(1 AS BIGINT))),
          |    'mb', IF(IF(x = a.p, a.r + 1, CAST(1 AS BIGINT)) > a.m,
          |      x, a.mb)),
          |  a -> named_struct('n', a.m, 'b', a.mb))""".stripMargin)
      // repartition BEFORE the per-row kernel work (the simhashPairs
      // fingerprint rule): the corpus arrives as one parquet split and
      // the bucket/sort/run pass is CPU-bound per row
      Tables.documentsPar(s, d).filter(length(col("text")) >= 3)
        .select(col("doc_id").as("media_id"), bArr.as("ba"))
        .select(col("media_id"), best.as("t"),
          size(col("ba")).cast("bigint").as("n_pixels"),
          size(array_distinct(col("ba"))).cast("bigint").as("n_buckets"))
        .select(col("media_id"),
          col("t.b").cast("int").as("dominant_bucket"),
          col("n_pixels"), col("n_buckets"),
          (expr("(2 * t.n * 10000 + n_pixels) div (2 * n_pixels)")
            .cast("double") / 10000).as("dominant_share"))
        .orderBy("media_id")
    },

    // Blur / sharpness screening (r15): variance of the 3×3 Laplacian
    // over each 8×8 tile — THE classic sharpness statistic (variance of
    // Laplacian, Pech-Pacheco et al.) used to drop defocused/blank
    // images before vision training. Per full 64-byte patch the seam
    // returns (ΣL, ΣL²); sharp_e = 36·ΣL² − (ΣL)² (= 36²·var) stays an
    // exact integer end-to-end, so the oracle replays it verbatim. A
    // media is blurry iff even its SHARPEST patch sits under the
    // threshold (max-based: one in-focus region rescues a mostly-flat
    // frame). The synthetic text corpus is uniformly "sharp", so the
    // rule is exercised by two in-plan fixtures: a constant payload
    // (sharp_e = 0 → blurry) and an alternating checkerboard (large
    // sharp_e → not). Media under 64 bytes have no full tile and are
    // excluded in both engines. SCALE: the decode is repartitioned
    // across the cluster (mm_phash pixel rule); the rollup is one
    // media-keyed map-side-combined aggregate; output is one row per
    // media.
    QueryDef.sql(
      "mm_image_blur", {
        def lap(sq: String) = {
          val center = "4 * unicode(w[CAST((1 + k // 6) * 8 + (1 + k % 6) + 1 AS INTEGER)])"
          val up = "unicode(w[CAST((k // 6) * 8 + (1 + k % 6) + 1 AS INTEGER)])"
          val down = "unicode(w[CAST((2 + k // 6) * 8 + (1 + k % 6) + 1 AS INTEGER)])"
          val left = "unicode(w[CAST((1 + k // 6) * 8 + (k % 6) + 1 AS INTEGER)])"
          val right = "unicode(w[CAST((1 + k // 6) * 8 + (2 + k % 6) + 1 AS INTEGER)])"
          val l = s"($center - $up - $down - $left - $right)"
          val term = if (sq == "sq") s"CAST($l AS BIGINT) * CAST($l AS BIGINT)"
            else s"CAST($l AS BIGINT)"
          s"CAST(list_sum(list_transform(range(0, 36), k -> $term)) AS BIGINT)"
        }
        s"""WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT * FROM (VALUES
          |    (900000001, '${"m" * 70}'),
          |    (900000002, '${"az" * 40}')) fx(doc_id, text)),
          |p AS (
          |  SELECT doc_id AS media_id, pi,
          |    substring(text, CAST(1 + pi * 64 AS INTEGER), 64) AS w
          |  FROM (
          |    SELECT doc_id, text,
          |      unnest(range(0, CAST(length(text) // 64 AS BIGINT))) AS pi
          |    FROM corpus WHERE length(text) >= 64)),
          |l AS (
          |  SELECT media_id, ${lap("lin")} AS sl, ${lap("sq")} AS sl2
          |  FROM p),
          |m AS (
          |  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_patches,
          |    CAST(SUM(36 * sl2 - sl * sl) AS BIGINT) AS tot_sharp_e,
          |    CAST(MAX(36 * sl2 - sl * sl) AS BIGINT) AS max_sharp_e
          |  FROM l GROUP BY media_id)
          |SELECT media_id, n_patches,
          |  ${TextAnalysis.halfUp4Sql("tot_sharp_e", "n_patches")}
          |    AS mean_sharp_e,
          |  max_sharp_e,
          |  CAST(max_sharp_e < 20000 AS INTEGER) AS blurry
          |FROM m ORDER BY media_id""".stripMargin
      }) { (s, d) =>
      val fixtures = s.createDataFrame(Seq(
        (900000001L, "m" * 70), (900000002L, "az" * 40)))
        .toDF("media_id", "text")
      val corpus = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"), col("text"))
        .unionAll(fixtures)
        .select(col("media_id"), col("text").cast("binary").as("payload"))
        // CPU-bound decode: spread the corpus across the cluster before
        // the per-byte kernel (the mm_phash pixel rule)
        .repartition(s.sparkContext.defaultParallelism)
      val sharp = (col("sl2") * 36 - col("sl") * col("sl"))
      laplacianPatches(corpus)
        .groupBy("media_id")
        .agg(count(lit(1)).cast("bigint").as("n_patches"),
          sum(sharp).cast("bigint").as("tot_sharp_e"),
          max(sharp).cast("bigint").as("max_sharp_e"))
        .select(col("media_id"), col("n_patches"),
          TextAnalysis.halfUp4("tot_sharp_e", "n_patches")
            .as("mean_sharp_e"),
          col("max_sharp_e"),
          (col("max_sharp_e") < 20000).cast("int").as("blurry"))
        .orderBy("media_id")
    },

    // Near-duplicate media by shared patch hashes: the mm_image_patches
    // tiling, distinct patch digests per media, pairs generated PER
    // PATCH BUCKET with boilerplate patches dropped by a deterministic
    // cap (a patch shared by > 16 media is template content, not
    // duplication signal — the LSH stop-shingle convention), then pairs
    // sharing ≥ 3 patches scored by patch-set Jaccard. Never all-pairs:
    // the bucket join is bounded by cap² per patch.
    QueryDef.sql(
      "mm_patch_dedup",
      """WITH patches AS (
        |  SELECT DISTINCT doc_id AS media_id,
        |    md5(substring(text, CAST(1 + pi*64 AS INTEGER), 64)) AS ph
        |  FROM (
        |    SELECT doc_id, text,
        |      unnest(range(0, greatest(CAST(ceil(length(text) / 64.0)
        |        AS BIGINT), 1))) AS pi
        |    FROM documents)),
        |np AS (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS np
        |       FROM patches GROUP BY media_id),
        |keep AS (
        |  SELECT ph FROM patches GROUP BY ph HAVING COUNT(*) <= 16),
        |pairs AS (
        |  SELECT a.media_id AS ma, b.media_id AS mb,
        |    CAST(COUNT(*) AS BIGINT) AS shared
        |  FROM patches a
        |  JOIN keep USING (ph)
        |  JOIN patches b ON a.ph = b.ph AND a.media_id < b.media_id
        |  GROUP BY a.media_id, b.media_id
        |  HAVING COUNT(*) >= 3)
        |SELECT ma, mb, shared,
        |  round(CAST(shared AS DOUBLE) / (na.np + nb.np - shared), 4)
        |    AS patch_jaccard
        |FROM pairs JOIN np na ON pairs.ma = na.media_id
        |JOIN np nb ON pairs.mb = nb.media_id
        |ORDER BY ma, mb""".stripMargin) { (s, d) =>
      val nPatches = greatest(
        ceil(length(col("payload")).cast("double") / 64.0).cast("bigint"),
        lit(1L))
      val patches = graft.CacheRegistry.register(
        binaryView(Tables.documents(s, d))
          .select(col("media_id"), col("payload"),
            explode(sequence(lit(0L), nPatches - 1)).as("pi"))
          .select(col("media_id"),
            md5(expr("substring(payload, CAST(1 + pi*64 AS INT), 64)"))
              .as("ph"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val np = patches.groupBy("media_id").agg(count(lit(1)).as("np"))
      // r15 (guide §2.4, the q_itemset_pairs recipe): stop-patch cap +
      // pair generation in ONE ph-keyed aggregate — collect each patch
      // bucket's member list (≤16 by the cap; media_ids unique per
      // bucket because `patches` is distinct), explode the ordered
      // positional pairs IN-TASK into the map-side-combined shared
      // count. The previous shape paid a cap groupBy plus a two-sided
      // self-join on ph.
      val pairs = patches
        .groupBy("ph")
        .agg(sort_array(collect_list(col("media_id"))).as("ms"))
        .filter(size(col("ms")) <= 16)
        .select(posexplode(col("ms")).as(Seq("i", "ma")), col("ms"))
        .select(col("ma"),
          explode(slice(col("ms"), col("i") + 2, lit(16))).as("mb"))
        .groupBy("ma", "mb").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 3)
      pairs
        .join(broadcast(np.select(col("media_id").as("ma"),
          col("np").as("npa"))), "ma")
        .join(broadcast(np.select(col("media_id").as("mb"),
          col("np").as("npb"))), "mb")
        .select(col("ma"), col("mb"), col("shared"),
          round(col("shared").cast("double")
            / (col("npa") + col("npb") - col("shared")), 4)
            .as("patch_jaccard"))
        .orderBy("ma", "mb")
    },

    // ------------------------------------------------------------------
    // CONTENT-DEFINED CHUNKING near-dup (the rsync/LBFS primitive —
    // the third independent media near-dup axis next to the exact
    // 64-byte grid and the DCT pHash): mm_patch_dedup's fixed grid is
    // PROVABLY BLIND to a duplicate trimmed by any non-multiple of 64
    // (every patch boundary lands 37 bytes off, so ZERO exact patches
    // survive — certified in-plan via grid_blind_ok), and pHash only
    // covers the first 256 bytes. CDC fixes trim-blindness at the
    // chunking layer: boundaries are placed where a 31-ary polynomial
    // rolling hash over the trailing 8 bytes ≡ 0 (mod 32) — boundary
    // positions are CONTENT-anchored, so a leading trim perturbs only
    // the first partial chunk and every later chunk is byte-identical.
    // Each media gets a 37-byte-trimmed variant (deliberately NOT
    // 64-aligned); candidate pairs come from a chunk-hash bucket join
    // with the 16-per-bucket stop-chunk cap (the mm_patch_dedup
    // boilerplate convention), best match per variant by shared-chunk
    // count (ties → min id), and `caught` compares TEXT fingerprints so
    // exact-duplicate cliques count any clique member as a correct
    // catch. In-plan certification: catch_ok pins self-variant catch
    // ≥ 0.85 over the ≥120-char cohort (measured .962/.942 at
    // sf0.01/0.1), grid_blind_ok pins the fixed grid's shared-patch
    // count at exactly 0. CAVEAT (r14 ADVICE): grid_blind_ok is a
    // single global cert and is DATA-DEPENDENT, not a proof — a
    // degenerate periodic document (a repeated ≤64-char pattern) would
    // make its 37-byte-trimmed variant share bit-identical 64-byte
    // patches with its source and flip the cert to 0 (in both engines
    // together, so the gate stays green). The synthetic corpus has no
    // such periodic texts; on a real corpus the cert reads "the grid
    // missed every one of THESE trims", not a structural guarantee.
    // SCALE: the chunk fan-out is ~len/32 rows per
    // media (narrow, repartitioned before the CPU-bound hash — the
    // documentsPar rule); the pair join is cap²-bounded per chunk
    // bucket; no window wider than per-variant candidates. At the 10×
    // replicated corpus, exact-dup cliques push common chunks over the
    // stop-chunk cap by design — same class contract as the LSH
    // oversized-bucket caps, re-oracled by the sf0.1 gate.
    QueryDef.sql(
      "mm_cdc_dedup", {
        val hashSumDuck = (0 to 7).map(j =>
          s"CAST(least(unicode(substring(t, CAST(i - $j AS INTEGER), 1)), " +
            s"255) AS BIGINT) * ${cdcPow(j)}").mkString(" + ")
        s"""WITH media AS (
          |  SELECT * FROM (
          |    SELECT doc_id, kind,
          |      CASE WHEN kind = 0 THEN text
          |           ELSE substring(text, 38) END AS t
          |    FROM documents, (SELECT unnest([0, 1]) AS kind) k)
          |  WHERE length(t) >= 8),
          |bpos AS (
          |  SELECT doc_id, kind, t,
          |    [CAST(0 AS BIGINT)] ||
          |    list_filter(list_transform(range(8, length(t) + 1),
          |      i -> CASE WHEN ($hashSumDuck) % 32 = 0
          |           THEN i ELSE NULL END), p -> p IS NOT NULL) ||
          |    [CAST(length(t) AS BIGINT)] AS bp
          |  FROM media),
          |chunks AS MATERIALIZED (
          |  SELECT DISTINCT doc_id, kind,
          |    md5(substring(t, CAST(bp[k] + 1 AS INTEGER),
          |      CAST(bp[k+1] - bp[k] AS INTEGER))) AS ch
          |  FROM (SELECT doc_id, kind, t, bp, unnest(range(1, len(bp))) AS k
          |        FROM bpos)
          |  WHERE bp[k+1] > bp[k]),
          |nch AS (SELECT doc_id, kind, CAST(COUNT(*) AS BIGINT) AS nc
          |        FROM chunks GROUP BY 1, 2),
          |keep AS (SELECT ch FROM chunks GROUP BY ch
          |         HAVING COUNT(*) <= 16),
          |cand AS (
          |  SELECT v.doc_id AS vid, o.doc_id AS oid,
          |    CAST(COUNT(*) AS BIGINT) AS shared
          |  FROM chunks v JOIN keep USING (ch)
          |  JOIN chunks o ON o.ch = v.ch AND o.kind = 0
          |  WHERE v.kind = 1 GROUP BY 1, 2),
          |best AS (
          |  SELECT vid, oid, shared FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vid
          |      ORDER BY shared DESC, oid ASC) AS rn FROM cand)
          |  WHERE rn = 1),
          |tm AS (SELECT doc_id, md5(text) AS tm5 FROM documents),
          |scored AS MATERIALIZED (
          |  SELECT b.vid AS media_id, b.oid AS best_match, b.shared,
          |    nv.nc AS n_chunks,
          |    round(CAST(b.shared AS DOUBLE)
          |      / (nv.nc + no2.nc - b.shared), 4) AS chunk_jaccard,
          |    CAST(ta.tm5 = tb.tm5 AS INTEGER) AS caught
          |  FROM best b
          |  JOIN nch nv ON nv.doc_id = b.vid AND nv.kind = 1
          |  JOIN nch no2 ON no2.doc_id = b.oid AND no2.kind = 0
          |  JOIN tm ta ON ta.doc_id = b.vid
          |  JOIN tm tb ON tb.doc_id = b.oid),
          |gp AS (
          |  SELECT DISTINCT doc_id, kind,
          |    md5(substring(t, CAST(1 + pi*64 AS INTEGER), 64)) AS ph
          |  FROM (SELECT doc_id, kind, t,
          |        unnest(range(0, greatest(CAST(ceil(length(t) / 64.0)
          |          AS BIGINT), 1))) AS pi
          |        FROM media)),
          |g64 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n64
          |        FROM gp a JOIN gp b ON b.doc_id = a.doc_id
          |          AND b.kind = 0 AND b.ph = a.ph
          |        WHERE a.kind = 1),
          |cohort AS (SELECT doc_id FROM documents
          |           WHERE length(text) >= 120),
          |cert AS (
          |  SELECT CAST(
          |      (SELECT coalesce(SUM(caught), 0) FROM scored
          |       JOIN cohort ON scored.media_id = cohort.doc_id) * 100
          |      >= (SELECT COUNT(*) FROM cohort) * 85 AS INTEGER)
          |      AS catch_ok,
          |    CAST((SELECT n64 FROM g64) = 0 AS INTEGER) AS grid_blind_ok)
          |SELECT s.media_id, s.best_match, s.shared, s.n_chunks,
          |  s.chunk_jaccard, s.caught, c.catch_ok, c.grid_blind_ok
          |FROM scored s, cert c ORDER BY s.media_id""".stripMargin
      }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val media = graft.CacheRegistry.register(
        Tables.documentsPar(s, d)
          .select(col("doc_id"),
            explode(array(lit(0), lit(1))).as("kind"), col("text"))
          .select(col("doc_id"), col("kind"),
            when(col("kind") === 0, col("text"))
              .otherwise(expr("substring(text, 38)")).as("t"))
          .filter(length(col("t")) >= 8)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // one-loop fused kernel (boundary scan + chunk digests); the HOF
      // stack it replaces ran 8 substring probes per codepoint — the
      // oracle keeps the spelled-out formulation, so the gate pins the
      // kernel's parity byte for byte
      val chunks = graft.CacheRegistry.register(media
        .select(col("doc_id"), col("kind"),
          explode(graft.functions.GraftFunctions.cdcChunks(col("t")))
            .as("ch"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val nch = chunks.groupBy("doc_id", "kind").agg(count(lit(1)).as("nc"))
      // r15 (guide §2.4, the q_itemset_pairs recipe): bucket cap + the
      // variant×original candidate pairing in ONE ch-keyed aggregate —
      // collect each chunk bucket's vid/oid membership (≤16 total by the
      // cap), explode the cross IN-TASK into the map-side-combined
      // shared-count aggregate. The previous shape paid a groupBy for
      // the cap, then a 3-way equi-join on ch that re-exchanged the
      // chunk frame twice.
      val cand = chunks
        .groupBy("ch")
        .agg(collect_list(when(col("kind") === 1, col("doc_id")))
            .as("vids"),
          collect_list(when(col("kind") === 0, col("doc_id")))
            .as("oids"),
          count(lit(1)).as("bs"))
        .filter(col("bs") <= 16)
        .select(explode(col("vids")).as("vid"), col("oids"))
        .select(col("vid"), explode(col("oids")).as("oid"))
        .groupBy("vid", "oid").agg(count(lit(1)).as("shared"))
      // best match per variant as one map-side-combinable max-struct agg
      // ((shared, -oid) lexicographic max = shared desc, oid asc) — the
      // row_number window sorted every candidate group (r15)
      val best = cand.groupBy("vid")
        .agg(max(struct(col("shared"), (-col("oid")).as("noid"))).as("m"))
        .select(col("vid"), (-col("m.noid")).as("oid"),
          col("m.shared").as("shared"))
      val tm = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("tm5"))
      val scored = graft.CacheRegistry.ensurePersisted(best
        .join(nch.filter(col("kind") === 1)
          .select(col("doc_id").as("vid"), col("nc").as("nv")), "vid")
        .join(nch.filter(col("kind") === 0)
          .select(col("doc_id").as("oid"), col("nc").as("no2")), "oid")
        .join(tm.select(col("doc_id").as("vid"), col("tm5").as("tma")),
          "vid")
        .join(tm.select(col("doc_id").as("oid"), col("tm5").as("tmo")),
          "oid")
        .select(col("vid").as("media_id"), col("oid").as("best_match"),
          col("shared"), col("nv").as("n_chunks"),
          round(col("shared").cast("double")
            / (col("nv") + col("no2") - col("shared")), 4)
            .as("chunk_jaccard"),
          (col("tma") === col("tmo")).cast("int").as("caught")))
      // fixed-64-grid blindness proof: variant vs its own source shares
      // ZERO exact grid patches (37 is not a multiple of 64)
      val gp = media
        .select(col("doc_id"), col("kind"), col("t"),
          explode(sequence(lit(0L),
            greatest(ceil(length(col("t")).cast("double") / 64.0)
              .cast("bigint"), lit(1L)) - 1)).as("pi"))
        .select(col("doc_id"), col("kind"),
          md5(expr("substring(t, CAST(1 + pi*64 AS INT), 64)")).as("ph"))
      // (no separate distinct — g64's (doc_id, ph) groupBy absorbs it)
      // a grid patch is "shared" iff both kinds of the SAME doc produced
      // it — one (doc_id, ph)-keyed aggregate with kind flags (the
      // mm_phash shp recipe) instead of a distinct + self-join (r15)
      val g64 = gp.groupBy("doc_id", "ph")
        .agg(max(when(col("kind") === 0, 1).otherwise(0)).as("h0"),
          max(when(col("kind") === 1, 1).otherwise(0)).as("h1"))
        .filter(col("h0") === 1 && col("h1") === 1)
        .agg(count(lit(1)).as("n64"))
      val cohort = Tables.documents(s, d)
        .filter(length(col("text")) >= 120).select("doc_id")
      val nCohort = cohort.agg(count(lit(1)).as("ncoh"))
      val nCaught = scored
        .join(cohort.withColumnRenamed("doc_id", "media_id"), "media_id")
        .agg(coalesce(sum("caught"), lit(0L)).as("ncaught"))
      val cert = nCaught.crossJoin(broadcast(nCohort))
        .crossJoin(broadcast(g64))
        .select(
          (col("ncaught") * 100 >= col("ncoh") * 85).cast("int")
            .as("catch_ok"),
          (col("n64") === 0L).cast("int").as("grid_blind_ok"))
      scored.crossJoin(broadcast(cert))
        .orderBy("media_id")
    },

    // ------------------------------------------------------------------
    // PERCEPTUAL media near-dup (r12 verdict ask #3): mm_patch_dedup
    // keys on exact 64-byte digests, so a re-encoded/requantized
    // duplicate — which shares ZERO exact patches — escapes it. This is
    // the standard fix: a DCT perceptual hash (pHash). Luma proxy = the
    // first 256 payload bytes as a 16×16 grid (0-padded); integer 8×8
    // 2D DCT via the pre-rounded e3 coefficient table [[dctK]]
    // (separable: row pass then column pass, two broadcast joins + two
    // map-side-combined aggregates); hash bit(u,v) = D(u,v) > 0 (sign
    // bits — balanced on real content, unlike mean-threshold bits which
    // collapse under the DC term), packed into two 32-bit halves so no
    // engine ever shifts into the sign bit. Each media also gets a
    // REQUANTIZED variant (byte → (b div 4)·4, the JPEG-requant
    // stand-in; media_id·2+kind keys the union). Candidate pairs come
    // from the dedup_simhash pigeonhole recipe widened to the measured
    // band: 6 disjoint chunks (11/11/10/11/11/10 bits) guarantee every
    // Hamming-≤5 pair shares a chunk (measured requant distance ≤5 at
    // every SF, cross-media p1 = 21 — a 4× gap), with a deterministic
    // 64-per-bucket boilerplate cap (observed max 15 — replayed by the
    // oracle, same class contract as mm_patch_dedup's stop-patch rule).
    // Output per media: both fingerprints (hash-certifying the integer
    // DCT end-to-end), the requant Hamming distance, whether the BANDED
    // join caught the requant pair, and the shared-exact-patch count
    // (0 ⇒ patch dedup provably blind to this duplicate). SCALE: pixel
    // fan-out is a fixed 512 rows/media; everything joins against the
    // 128-row broadcast table; the pair join is band-bucket-bounded.
    QueryDef.sql(
      "mm_phash_dedup",
      s"""WITH kt AS (SELECT * FROM (VALUES $dctKValuesSql) t(u, r, kv)),
        |px AS (
        |  SELECT doc_id, kind, i, i // 16 AS r, i % 16 AS c,
        |    CASE WHEN kind = 1 THEN (p0 // 4) * 4 ELSE p0 END AS p
        |  FROM (
        |    SELECT doc_id, k.kind, t.i,
        |      CASE WHEN length(w) >= t.i + 1
        |           THEN CAST(unicode(substring(w, CAST(t.i + 1 AS INTEGER), 1))
        |                AS BIGINT)
        |           ELSE 0 END AS p0
        |    FROM (SELECT doc_id, substring(text, 1, 256) AS w FROM documents),
        |      generate_series(0, 255) t(i),
        |      (SELECT unnest([0, 1]) AS kind) k)),
        |rstage AS (
        |  SELECT doc_id, kind, kt.u, px.c,
        |    CAST(SUM(px.p * kt.kv) AS BIGINT) AS rv
        |  FROM px JOIN kt ON kt.r = px.r
        |  GROUP BY 1, 2, 3, 4),
        |dstage AS (
        |  SELECT doc_id, kind, rs.u, kt.u AS v,
        |    CAST(SUM(rs.rv * kt.kv) AS BIGINT) AS dv
        |  FROM rstage rs JOIN kt ON kt.r = rs.c
        |  GROUP BY 1, 2, 3, 4),
        |fp AS (
        |  SELECT doc_id, kind,
        |    CAST(COALESCE(SUM(CASE WHEN dv > 0 AND u*8 + v < 32
        |      THEN CAST(1 AS BIGINT) << (u*8 + v) ELSE 0 END), 0)
        |      AS BIGINT) AS fp_lo,
        |    CAST(COALESCE(SUM(CASE WHEN dv > 0 AND u*8 + v >= 32
        |      THEN CAST(1 AS BIGINT) << (u*8 + v - 32) ELSE 0 END), 0)
        |      AS BIGINT) AS fp_hi
        |  FROM dstage GROUP BY 1, 2),
        |ch AS (
        |  SELECT doc_id*2 + kind AS mid, fp_lo, fp_hi, t.ci,
        |    CASE t.ci WHEN 0 THEN fp_lo & 2047
        |              WHEN 1 THEN (fp_lo >> 11) & 2047
        |              WHEN 2 THEN (fp_lo >> 22) & 1023
        |              WHEN 3 THEN fp_hi & 2047
        |              WHEN 4 THEN (fp_hi >> 11) & 2047
        |              ELSE (fp_hi >> 22) & 1023 END AS cv
        |  FROM fp, generate_series(0, 5) t(ci)),
        |bucketok AS (
        |  SELECT ci, cv FROM ch GROUP BY ci, cv HAVING COUNT(*) <= 64),
        |hp AS (
        |  SELECT ma, mb FROM (
        |    SELECT DISTINCT a.mid AS ma, b.mid AS mb, a.fp_lo AS lo_a,
        |      a.fp_hi AS hi_a, b.fp_lo AS lo_b, b.fp_hi AS hi_b
        |    FROM ch a JOIN bucketok USING (ci, cv)
        |    JOIN ch b ON a.ci = b.ci AND a.cv = b.cv AND a.mid < b.mid)
        |  WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 5),
        |base AS (
        |  SELECT o.doc_id AS media_id,
        |    o.fp_hi AS fp_hi_o, o.fp_lo AS fp_lo_o,
        |    r.fp_hi AS fp_hi_r, r.fp_lo AS fp_lo_r,
        |    CAST(bit_count(xor(o.fp_lo, r.fp_lo)) +
        |         bit_count(xor(o.fp_hi, r.fp_hi)) AS INTEGER) AS hamming
        |  FROM fp o JOIN fp r ON o.doc_id = r.doc_id
        |    AND o.kind = 0 AND r.kind = 1),
        |caught AS (
        |  SELECT ma // 2 AS media_id FROM hp
        |  WHERE mb = ma + 1 AND ma % 2 = 0),
        |pat AS (
        |  SELECT doc_id, kind, i // 64 AS pi,
        |    md5(string_agg(CAST(p AS VARCHAR), '-' ORDER BY i)) AS ph
        |  FROM px GROUP BY 1, 2, 3),
        |shp AS (
        |  SELECT a.doc_id, CAST(COUNT(DISTINCT a.ph) AS BIGINT)
        |    AS shared_patches
        |  FROM (SELECT DISTINCT doc_id, ph FROM pat WHERE kind = 0) a
        |  JOIN (SELECT DISTINCT doc_id, ph FROM pat WHERE kind = 1) b
        |    ON a.doc_id = b.doc_id AND a.ph = b.ph
        |  GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_total FROM hp)
        |SELECT b.media_id, b.fp_hi_o, b.fp_lo_o, b.fp_hi_r, b.fp_lo_r,
        |  b.hamming,
        |  CAST(c.media_id IS NOT NULL AS INTEGER) AS caught,
        |  COALESCE(s.shared_patches, 0) AS shared_patches,
        |  t.n_pairs_total
        |FROM base b
        |LEFT JOIN caught c USING (media_id)
        |LEFT JOIN shp s ON s.doc_id = b.media_id, tot t
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      // Media frame: one row per (doc, kind) — the requant variant is a
      // kind flag, never a materialized copy. Pixels are computed INLINE
      // from the window string wherever needed (Spark's substring
      // returns '' past the end and ascii('') = 0, which IS the
      // zero-padding rule), so no 512-rows/media pixel frame ever
      // materializes — the first plan's pixel explode + two 8×-exploded
      // broadcast joins benched 13.0 s at sf0.1; this shape is ~2 s.
      // One PIXEL ARRAY per (doc, kind) row, computed in a single pass
      // and persisted (10k rows × 1 KB): every downstream consumer reads
      // pixels with O(1) element_at. The first shape recomputed
      // ascii(substring(w, i, 1)) per use — substring re-scans the
      // string per call, which made the row pass 5 G byte-ops (7.4 s at
      // sf0.1, measured by stage bisect); this is ~20× less. Spark's
      // substring returns '' past the end and ascii('') = 0, which IS
      // the zero-padding rule; the requant variant is applied to the
      // array once, never a materialized media copy.
      // repartition BEFORE the pixel decode: the corpus arrives as one
      // parquet split, and the decode (an interpreted higher-order
      // transform) is CPU-bound per row — without the spread it runs on
      // ONE core (the simhashPairs fingerprint rule)
      val docsW = graft.CacheRegistry.ensurePersisted(
        Tables.documents(s, d)
          .select(col("doc_id"), substring(col("text"), 1, 256).as("w"))
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            explode(array(lit(0), lit(1))).as("kind"), col("w"))
          .select(col("doc_id"), col("kind"),
            when(col("kind") === 1, expr(
              "transform(sequence(1, 256)," +
                " i -> (ascii(substring(w, i, 1)) div 4) * 4)"))
              .otherwise(expr(
                "transform(sequence(1, 256), i -> ascii(substring(w, i, 1)))"))
              .as("pv")))
      // Separable 2D DCT + sign-bit packing fused into ONE codegen'd
      // kernel call per (doc, kind) row (graft_phash_dct,
      // ImageExpressions.scala — the AfpFrameSymbols recipe; integer
      // addition is order-independent, so this is value-identical to
      // the oracle's row/column two-pass aggregates). r15 opt 2: the
      // spelled-out formulation exploded 16 row-pass rows per media and
      // pushed them through a 64-column map-side-combined aggregate —
      // an exchange of a 16×-fanned frame per run; the fingerprint is
      // now a map-only projection over the persisted pixel arrays.
      graft.functions.GraftFunctions.register(s)
      val fp = graft.CacheRegistry.register(docsW
        .select(col("doc_id"), col("kind"),
          graft.functions.GraftFunctions.phashDct(col("pv")).as("f"))
        .select(col("doc_id"), col("kind"),
          col("f.fp_lo").as("fp_lo"), col("f.fp_hi").as("fp_hi"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val ch = fp
        .select((col("doc_id") * 2 + col("kind")).as("mid"),
          col("fp_lo"), col("fp_hi"),
          explode(sequence(lit(0), lit(5))).as("ci"))
        .withColumn("cv", expr(
          """CASE ci WHEN 0 THEN fp_lo & 2047
            |        WHEN 1 THEN shiftright(fp_lo, 11) & 2047
            |        WHEN 2 THEN shiftright(fp_lo, 22) & 1023
            |        WHEN 3 THEN fp_hi & 2047
            |        WHEN 4 THEN shiftright(fp_hi, 11) & 2047
            |        ELSE shiftright(fp_hi, 22) & 1023 END""".stripMargin))
      // ch is a cheap 6-row fan-out of the PERSISTED 10k-row fp frame —
      // recomputing it per consumer is cheaper than another persist job
      // (this query's floor is orchestration, not data)
      val bucketok = ch.groupBy("ci", "cv")
        .agg(count(lit(1)).as("bs")).filter(col("bs") <= 64)
        .select("ci", "cv")
      val hp = graft.CacheRegistry.ensurePersisted(
        ch.join(bucketok, Seq("ci", "cv"))
          .select(col("ci"), col("cv"), col("mid").as("ma"),
            col("fp_lo").as("lo_a"), col("fp_hi").as("hi_a"))
          .join(ch.select(col("ci"), col("cv"), col("mid").as("mb"),
            col("fp_lo").as("lo_b"), col("fp_hi").as("hi_b")),
            Seq("ci", "cv"))
          .filter(col("ma") < col("mb"))
          .select("ma", "mb", "lo_a", "hi_a", "lo_b", "hi_b")
          .distinct()
          .filter(bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
            bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) <= 5)
          .select("ma", "mb"))
      // both kinds' fingerprints per media via ONE pivot aggregation
      // (a self-join of fp would add a shuffle join for 10k rows)
      val base = fp.groupBy(col("doc_id").as("media_id"))
        .agg(
          max(when(col("kind") === 0, col("fp_hi"))).as("fp_hi_o"),
          max(when(col("kind") === 0, col("fp_lo"))).as("fp_lo_o"),
          max(when(col("kind") === 1, col("fp_hi"))).as("fp_hi_r"),
          max(when(col("kind") === 1, col("fp_lo"))).as("fp_lo_r"))
        .withColumn("hamming",
          (bit_count(col("fp_lo_o").bitwiseXOR(col("fp_lo_r"))) +
            bit_count(col("fp_hi_o").bitwiseXOR(col("fp_hi_r"))))
            .cast("int"))
      val caught = hp
        .filter(col("mb") === col("ma") + 1 && col("ma") % 2 === 0)
        .select(expr("ma div 2").as("media_id"), lit(1).as("cf"))
      // exact patch digests, also inline from the string: one codegen'd
      // projection over 4 patch rows per (doc, kind) — no pixel
      // collection/sort anywhere
      val pat = docsW
        .select(col("doc_id"), col("kind"),
          explode(sequence(lit(0), lit(3))).as("pi"), col("pv"))
        .select(col("doc_id"), col("kind"),
          md5(expr("array_join(transform(slice(pv, pi * 64 + 1, 64)," +
            " x -> CAST(x AS STRING)), '-')")).as("ph"))
      // shared digests in ONE shuffle: a digest is shared iff both kinds
      // produced it (distinct-per-kind via bool_or, no self-join)
      val shp = pat.groupBy("doc_id", "ph")
        .agg(max(when(col("kind") === 0, 1).otherwise(0)).as("h0"),
          max(when(col("kind") === 1, 1).otherwise(0)).as("h1"))
        .filter(col("h0") === 1 && col("h1") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("bigint").as("shared_patches"))
      val tot = hp.agg(count(lit(1)).cast("bigint").as("n_pairs_total"))
      base
        .join(broadcast(caught), Seq("media_id"), "left")
        .join(broadcast(shp.withColumnRenamed("doc_id", "media_id")),
          Seq("media_id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("media_id"), col("fp_hi_o"), col("fp_lo_o"),
          col("fp_hi_r"), col("fp_lo_r"), col("hamming"),
          coalesce(col("cf"), lit(0)).cast("int").as("caught"),
          coalesce(col("shared_patches"), lit(0L)).as("shared_patches"),
          col("n_pairs_total"))
        .orderBy("media_id")
    },

    // Thumbnail RESIZE through the decode seam — the north-star
    // multimodal verb (decode / feature-extract / RESIZE / frame-sample)
    // not yet covered: an integer 2×2 average-pooling pyramid
    // 16×16 → 8×8 → 4×4 over the luma-proxy grid (floor average — the
    // exact arithmetic of a uint8 box-filter downsampler). Per media:
    // both thumbnail digests + per-level pixel sums, with an IN-PLAN
    // mass-conservation certification: floor pooling loses at most 3
    // units per 2×2 block, so 0 ≤ sum16 − 4·sum8 ≤ 3·64 and
    // 0 ≤ sum8 − 4·sum4 ≤ 3·16 — a wrong index map, a transposed
    // block, or an overflow breaks the band loudly in both engines.
    // SCALE: one row in, one row out, all per-row codegen'd array
    // transforms — no shuffle, no join; a real decoder slots in at the
    // pv seam exactly as in mm_phash_dedup.
    QueryDef.sql(
      "mm_image_resize",
      """WITH px AS (
        |  SELECT doc_id,
        |    list_transform(range(1, 257), i ->
        |      CASE WHEN length(text) >= i
        |           THEN CAST(unicode(substring(text, CAST(i AS INTEGER),
        |             1)) AS BIGINT)
        |           ELSE 0 END) AS pv
        |  FROM documents),
        |r8 AS (
        |  SELECT doc_id, pv,
        |    list_transform(range(0, 64), k ->
        |      (pv[32*(k//8) + 2*(k%8) + 1] + pv[32*(k//8) + 2*(k%8) + 2]
        |       + pv[32*(k//8) + 2*(k%8) + 17]
        |       + pv[32*(k//8) + 2*(k%8) + 18]) // 4) AS t8
        |  FROM px),
        |r4 AS (
        |  SELECT doc_id, pv, t8,
        |    list_transform(range(0, 16), k ->
        |      (t8[16*(k//4) + 2*(k%4) + 1] + t8[16*(k//4) + 2*(k%4) + 2]
        |       + t8[16*(k//4) + 2*(k%4) + 9]
        |       + t8[16*(k//4) + 2*(k%4) + 10]) // 4) AS t4
        |  FROM r8)
        |SELECT doc_id AS media_id,
        |  md5(array_to_string(list_transform(t8,
        |    x -> CAST(x AS VARCHAR)), '-')) AS thumb8_md5,
        |  md5(array_to_string(list_transform(t4,
        |    x -> CAST(x AS VARCHAR)), '-')) AS thumb4_md5,
        |  CAST(list_sum(pv) AS BIGINT) AS sum16,
        |  CAST(list_sum(t8) AS BIGINT) AS sum8,
        |  CAST(list_sum(t4) AS BIGINT) AS sum4,
        |  CAST(list_sum(pv) - 4*list_sum(t8) BETWEEN 0 AND 192
        |   AND list_sum(t8) - 4*list_sum(t4) BETWEEN 0 AND 48
        |   AS INTEGER) AS pool_ok
        |FROM r4 ORDER BY media_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 256).as("w"))
        .repartition(s.sparkContext.defaultParallelism)
        // ascii('') = 0 past the end IS the zero-pad rule (mm_phash)
        .select(col("doc_id"), expr(
          "transform(sequence(1, 256)," +
            " i -> CAST(ascii(substring(w, i, 1)) AS BIGINT))").as("pv"))
        .withColumn("t8", expr(
          "transform(sequence(0, 63), k -> (pv[32*(k div 8) + 2*(k % 8)]" +
            " + pv[32*(k div 8) + 2*(k % 8) + 1]" +
            " + pv[32*(k div 8) + 2*(k % 8) + 16]" +
            " + pv[32*(k div 8) + 2*(k % 8) + 17]) div 4)"))
        .withColumn("t4", expr(
          "transform(sequence(0, 15), k -> (t8[16*(k div 4) + 2*(k % 4)]" +
            " + t8[16*(k div 4) + 2*(k % 4) + 1]" +
            " + t8[16*(k div 4) + 2*(k % 4) + 8]" +
            " + t8[16*(k div 4) + 2*(k % 4) + 9]) div 4)"))
        .select(col("doc_id").as("media_id"),
          md5(expr("array_join(transform(t8, x -> CAST(x AS STRING)), '-')"))
            .as("thumb8_md5"),
          md5(expr("array_join(transform(t4, x -> CAST(x AS STRING)), '-')"))
            .as("thumb4_md5"),
          expr("aggregate(pv, CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("sum16"),
          expr("aggregate(t8, CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("sum8"),
          expr("aggregate(t4, CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("sum4"))
        .withColumn("pool_ok",
          ((col("sum16") - col("sum8") * 4).between(0, 192) &&
            (col("sum8") - col("sum4") * 4).between(0, 48)).cast("int"))
        .orderBy("media_id")
    },

    // ------------------------------------------------------------------
    // TRANSLATION-robust audio near-dup: constellation fingerprinting
    // (the Shazam landmark scheme, Wang 2003). mm_phash_dedup survives
    // requantization but NOT time shift — a recording that starts 16
    // samples later produces a completely different pHash grid, and
    // mm_patch_dedup's exact 64-byte digests shift out of alignment too.
    // The constellation fix: per-frame SPECTRAL PEAKS are shift-
    // covariant (a shifted signal has the same peak sequence at shifted
    // frame indices), so hashes built from (peak_t, peak_{t+dt}, dt)
    // survive translation, and the vote histogram over the frame-offset
    // delta both detects the match and RECOVERS the shift.
    //
    // All-integer, replayed verbatim by the oracle:
    //  - signal proxy = first 320 payload bytes as PCM samples
    //    (byte-64, the mm_audio_energy convention), silence-padded;
    //  - 20 non-overlapping 16-sample frames; per frame an exact integer
    //    7-bin DFT via the pre-rounded e3 cos/sin tables [[afTrig]]
    //    (the dctK recipe), energy e_b = cr² + ci²;
    //  - frame symbol = (top-3 band ranking, digit-lengths of the top-2
    //    energies) — ranking and digit-count survive the ±1.6% energy
    //    perturbation of requantization (measured symbol agreement ≥91%
    //    on aligned frames), unlike raw magnitudes;
    //  - landmark hash = (sym_t, sym_{t+dt}, dt), dt ∈ {1,2,3};
    //  - candidate pairs from a bucket join on the hash with a 160-row
    //    deterministic boilerplate cap (the mm_patch_dedup stop-patch
    //    convention; 160 is the measured knee — cap 256 buys +1.3pp
    //    catch for +75% join volume); best offset per pair by vote
    //    count (ties → min offset); candidates ≥5 votes are VERIFIED by
    //    exact aligned-symbol ratio ≥0.7 at that offset (two-stage
    //    candidates→verify, the dedup_minhash_lsh shape).
    // Each media also gets a SHIFTED (16 samples) + REQUANTIZED (byte
    // div 4 ·4) variant — the re-encoded-and-trimmed duplicate that
    // escapes both patch and pHash dedup; media key = doc_id·2 + kind.
    // In-plan certification: self-variant catch rate over docs with
    // ≥120 chars, floor 0.85 (measured 0.970 / 0.966 / 0.931 at
    // sf0.001/0.01/0.1 — the sf0.1 value is the tightest; a dip into
    // [0.75, 0.85) on regenerated data is drift, a collapse toward 0 is
    // an index bug — the sim_ivf_pq triage convention).
    // SCALE: per media a FIXED 40 frame symbols and ≤114 hashes; the
    // pair join is cap²-bounded per bucket; verify touches only
    // candidate pairs; no unbounded window (best-offset ranking is
    // per-pair); the sample decode is a repartitioned single-pass
    // array transform (the mm_phash pixel rule).
    QueryDef.sql(
      "mm_audio_fingerprint",
      s"""WITH $afpCommonCtesSql,
        |keep AS (SELECT hv FROM ch GROUP BY hv HAVING COUNT(*) <= 160),
        |pairs AS (
        |  SELECT a.mid AS ma, b.mid AS mb, a.f - b.f AS off,
        |    CAST(COUNT(*) AS BIGINT) AS votes
        |  FROM ch a JOIN keep USING (hv)
        |  JOIN ch b ON b.hv = a.hv AND a.mid < b.mid
        |  GROUP BY 1, 2, 3),
        |best AS MATERIALIZED (
        |  SELECT ma, mb, votes, off FROM (
        |    SELECT *, row_number() OVER (PARTITION BY ma, mb
        |      ORDER BY votes DESC, off ASC) rn
        |    FROM pairs) WHERE rn = 1 AND votes >= 5),
        |mk AS MATERIALIZED (
        |  SELECT doc_id * 2 + kind AS mid, f, sym FROM pk),
        |nfr AS (SELECT mid, CAST(count(*) AS BIGINT) AS nf
        |        FROM mk GROUP BY mid),
        |ver AS (
        |  SELECT best.ma, best.mb, best.votes, best.off,
        |    CAST(count(*) FILTER (a.sym = b.sym) AS BIGINT) AS aligned,
        |    na.nf AS nfa, nb.nf AS nfb
        |  FROM best
        |  JOIN mk a ON a.mid = best.ma
        |  JOIN mk b ON b.mid = best.mb AND a.f - b.f = best.off
        |  JOIN nfr na ON na.mid = best.ma
        |  JOIN nfr nb ON nb.mid = best.mb
        |  GROUP BY 1, 2, 3, 4, 6, 7),
        |fin AS MATERIALIZED (
        |  SELECT * FROM ver
        |  WHERE aligned * 1.0 / least(nfa, nfb) >= 0.7),
        |cohort AS (SELECT doc_id FROM documents
        |           WHERE length(text) >= 120),
        |cert AS (SELECT CAST(
        |    (SELECT COUNT(*) FROM fin f JOIN cohort ct
        |       ON f.ma = ct.doc_id * 2 AND f.mb = ct.doc_id * 2 + 1) * 100
        |    >= (SELECT COUNT(*) FROM cohort) * 85 AS INTEGER) AS catch_ok)
        |SELECT fin.ma AS media_a, fin.mb AS media_b,
        |  CAST(fin.off AS INTEGER) AS off, fin.votes, fin.aligned,
        |  fin.nfa AS nf_a, fin.nfb AS nf_b,
        |  round(fin.aligned * 1.0 / least(fin.nfa, fin.nfb), 4)
        |    AS match_ratio,
        |  cert.catch_ok
        |FROM fin, cert ORDER BY media_a, media_b""".stripMargin) { (s, d) =>
      audioFingerprintFrames(s, d)("out")
    },

    // AMORTIZED audio-fingerprint serving (r13 verdict ask #3 — the
    // sim_ivf_prebuilt recipe applied to the heaviest bench row): the
    // landmark index over the CORPUS media (kind 0) is built once,
    // bucket-capped at build time (160, corpus-bucket sizes — boilerplate
    // hashes never enter the files), and WRITTEN partitioned by
    // hb = hv % 64 alongside a symbol table partitioned by mg = mid % 32.
    // Probe media (the shifted+requantized kind-1 variants) are then
    // served FROM THE FILES: the tiny probe-hash frame broadcasts into a
    // (hb, hv) equi-join so the scan prunes to probed hash buckets, the
    // offset vote is the same max-struct aggregate, and verification
    // reads ONLY candidate media's symbol partitions (broadcast
    // candidate frame keyed on the partition column). At 100 TB the
    // serve plan reads ~|probe hashes| · cap index rows + candidate
    // symbol partitions — not the corpus; index maintenance is an
    // append of new media's hashes into their hb partitions.
    // parity_ok pins served results == the in-memory build-and-serve
    // EXACTLY (write/read round-trip is lossless, no hidden session
    // state); catch_ok keeps the ≥0.85 self-variant catch floor over
    // the ≥120-char cohort. Index cached per (JVM, corpus fingerprint),
    // deleted on exit (the sim_ivf_prebuilt cache convention).
    QueryDef.sql(
      "mm_afp_prebuilt",
      s"""WITH $afpCommonCtesSql,
        |ci AS MATERIALIZED (SELECT hv, mid, f FROM ch WHERE mid % 2 = 0),
        |cp AS MATERIALIZED (SELECT hv, mid, f FROM ch WHERE mid % 2 = 1),
        |keep AS (SELECT hv FROM ci GROUP BY hv HAVING COUNT(*) <= 160),
        |pairs AS (
        |  SELECT a.mid AS ma, b.mid AS mb, a.f - b.f AS off,
        |    CAST(COUNT(*) AS BIGINT) AS votes
        |  FROM ci a JOIN keep USING (hv)
        |  JOIN cp b ON b.hv = a.hv
        |  GROUP BY 1, 2, 3),
        |best AS MATERIALIZED (
        |  SELECT ma, mb, votes, off FROM (
        |    SELECT *, row_number() OVER (PARTITION BY ma, mb
        |      ORDER BY votes DESC, off ASC) rn
        |    FROM pairs) WHERE rn = 1 AND votes >= 5),
        |mka AS MATERIALIZED (
        |  SELECT doc_id * 2 AS mid, f, sym FROM pk WHERE kind = 0),
        |mkb AS MATERIALIZED (
        |  SELECT doc_id * 2 + 1 AS mid, f, sym FROM pk WHERE kind = 1),
        |nfra AS (SELECT mid, CAST(count(*) AS BIGINT) AS nf
        |         FROM mka GROUP BY mid),
        |nfrb AS (SELECT mid, CAST(count(*) AS BIGINT) AS nf
        |         FROM mkb GROUP BY mid),
        |ver AS (
        |  SELECT best.ma, best.mb, best.votes, best.off,
        |    CAST(count(*) FILTER (a.sym = b.sym) AS BIGINT) AS aligned,
        |    na.nf AS nfa, nb.nf AS nfb
        |  FROM best
        |  JOIN mka a ON a.mid = best.ma
        |  JOIN mkb b ON b.mid = best.mb AND a.f - b.f = best.off
        |  JOIN nfra na ON na.mid = best.ma
        |  JOIN nfrb nb ON nb.mid = best.mb
        |  GROUP BY 1, 2, 3, 4, 6, 7),
        |fin AS MATERIALIZED (
        |  SELECT * FROM ver
        |  WHERE aligned * 1.0 / least(nfa, nfb) >= 0.7),
        |cohort AS (SELECT doc_id FROM documents
        |           WHERE length(text) >= 120),
        |cert AS (SELECT CAST(
        |    (SELECT COUNT(*) FROM fin f JOIN cohort ct
        |       ON f.ma = ct.doc_id * 2 AND f.mb = ct.doc_id * 2 + 1) * 100
        |    >= (SELECT COUNT(*) FROM cohort) * 85 AS INTEGER) AS catch_ok)
        |SELECT fin.ma AS media_a, fin.mb AS media_b,
        |  CAST(fin.off AS INTEGER) AS off, fin.votes, fin.aligned,
        |  fin.nfa AS nf_a, fin.nfb AS nf_b,
        |  round(fin.aligned * 1.0 / least(fin.nfa, fin.nfb), 4)
        |    AS match_ratio,
        |  cert.catch_ok, 1 AS parity_ok
        |FROM fin, cert ORDER BY media_a, media_b""".stripMargin) { (s, d) =>
      val frames = audioFingerprintFrames(s, d)
      val pk = frames("pk")
      val ch = frames("ch")
      // probe side: the kind-1 variant media's hashes + symbols, in
      // memory (they are the per-run queries); persisted because both
      // the files serve and the in-memory parity serve consume them
      val probeHashes = graft.CacheRegistry.ensurePersisted(
        ch.filter(col("mid") % 2 === 1)
          .withColumn("hb", pmod(col("hv"), lit(64L))))
      val mkB = graft.CacheRegistry.ensurePersisted(
        pk.filter(col("kind") === 1)
          .select((col("doc_id") * 2 + 1).as("mb"), col("f").as("fb"),
            col("sym").as("sym_b")))
      val (corpusCapped, corpusSyms) = afpCorpusIndexFrames(ch, pk)
      val idxDir = afpEnsureIndexDir(d, corpusCapped, corpusSyms)
      def serve(idxHashes: DataFrame, idxSyms: DataFrame): DataFrame =
        afpServe(idxHashes, idxSyms, probeHashes, mkB)
      val served = graft.CacheRegistry.ensurePersisted(
        serve(afpReadHashes(s, idxDir), afpReadSyms(s, idxDir)))
      val mem = serve(corpusCapped, corpusSyms)
      val mismatch = served.exceptAll(mem).unionAll(mem.exceptAll(served))
        .agg(count(lit(1)).as("nm"))
      val cohort = Tables.documents(s, d)
        .filter(length(col("text")) >= 120).select("doc_id")
      val caughtN = served
        .filter(col("mb") === col("ma") + 1)
        .select(expr("ma DIV 2").as("doc_id"))
        .join(broadcast(cohort), Seq("doc_id"))
        .agg(count(lit(1)).as("kn"))
      val cohortN = cohort.agg(count(lit(1)).as("cn"))
      val cert = caughtN.crossJoin(cohortN)
        .select((col("kn") * 100 >= col("cn") * 85).cast("int")
          .as("catch_ok"))
      served
        .select(col("ma").as("media_a"), col("mb").as("media_b"),
          col("off").cast("int").as("off"), col("votes"), col("aligned"),
          col("nfa").as("nf_a"), col("nfb").as("nf_b"),
          round(col("aligned") / least(col("nfa"), col("nfb")), 4)
            .as("match_ratio"))
        .crossJoin(broadcast(cert))
        .crossJoin(broadcast(mismatch))
        .select(col("media_a"), col("media_b"), col("off"), col("votes"),
          col("aligned"), col("nf_a"), col("nf_b"), col("match_ratio"),
          col("catch_ok"), (col("nm") === 0L).cast("int").as("parity_ok"))
        .orderBy("media_a", "media_b")
    }
  )

  /** Corpus-side landmark index frames (capped hashes + symbol table) —
    * the in-memory twins of what the persisted index files hold. The
    * bucket cap is the map-side-combinable groupBy→join shape, NOT a
    * hv-partitioned window: a window funnels every row of a hot bucket
    * into one task once exact-dup cliques replicate hashes (the 10×
    * smoke measured skew 36 on exactly that plan), while the groupBy
    * reduces hot buckets to one partial per split and AQE splits any
    * remaining skewed join partition. */
  private def afpCorpusIndexFrames(ch: DataFrame, pk: DataFrame)
      : (DataFrame, DataFrame) = {
    val ch0 = ch.filter(col("mid") % 2 === 0)
    val keepHv = ch0.groupBy("hv").agg(count(lit(1)).as("bs"))
      .filter(col("bs") <= 160).select("hv")
    val corpusCapped = graft.CacheRegistry.ensurePersisted(
      ch0.join(keepHv, "hv")
        .select(col("hv"), col("mid"), col("f"))
        .withColumn("hb", pmod(col("hv"), lit(64L))))
    val corpusSyms = pk.filter(col("kind") === 0)
      .select((col("doc_id") * 2).as("mid"), col("f"), col("sym"))
      .withColumn("mg", pmod(col("mid"), lit(32L)))
    (corpusCapped, corpusSyms)
  }

  /** Build (once per JVM and corpus content; removed on JVM exit) the
    * persisted landmark index: hashes partitioned by hash bucket, the
    * symbol table by media group. */
  private def afpEnsureIndexDir(d: String, corpusCapped: DataFrame,
      corpusSyms: DataFrame): String =
    prebuiltAfpDirs.getOrElseUpdate(
      Similarity.corpusFingerprint(d, "documents"), {
        val dir = Similarity.tempDirCleanedOnExit("graft-afp-idx")
        corpusCapped.write.partitionBy("hb").mode("overwrite")
          .parquet(dir + "/hashes")
        corpusSyms.write.partitionBy("mg").mode("overwrite")
          .parquet(dir + "/syms")
        dir
      })

  private def afpReadHashes(s: SparkSession, idxDir: String): DataFrame =
    s.read.parquet(s"$idxDir/hashes")
      .select(col("hv"), col("mid"), col("f"),
        col("hb").cast("long").as("hb"))

  private def afpReadSyms(s: SparkSession, idxDir: String): DataFrame =
    s.read.parquet(s"$idxDir/syms")
      .select(col("mid"), col("f"), col("sym"),
        col("mg").cast("long").as("mg"))

  /** Serve probe media against a landmark index: bucket equi-join →
    * offset vote (max-struct) → candidate verify against the symbol
    * table (reads prune to candidate media groups when idxSyms is the
    * partitioned files). No explicit broadcast() hints: the probe
    * frames are small per-run queries in production (AQE broadcasts
    * them), but the 10× smoke probes EVERY variant — the candidate
    * frame reaches ~10M rows there (each variant matches its whole
    * exact-dup clique) and a forced broadcast of that was the scale bug
    * the smoke caught (skew 36 / 112 s). */
  private def afpServe(idxHashes: DataFrame, idxSyms: DataFrame,
      probeHashes: DataFrame, mkB: DataFrame): DataFrame = {
    // r16: same fused vote+best TypedImperativeAggregate as the in-plan
    // pipeline (see audioFingerprintFrames) — one ma-grouped exchange of
    // packed vote maps instead of two candidate-cardinality aggregates
    val best = idxHashes
      .join(probeHashes.select(col("hb"), col("hv"),
        col("mid").as("mb"), col("f").as("fb")), Seq("hb", "hv"))
      .groupBy(col("mid").as("ma"))
      .agg(graft.functions.GraftFunctions.voteBest(
        col("mb") * lit(2097152L) + ((col("f") - col("fb")) + lit(1048576L)),
        5).as("vb"))
      .select(col("ma"), explode(col("vb")).as("e"))
      .select(col("ma"), col("e.mb").as("mb"),
        col("e.votes").as("votes"), col("e.off").as("off"))
    // candidate verification frame: every probe frame of every
    // candidate pair, keyed by the symbol table's PARTITION column
    // (mg) so the files read prunes to candidate media groups
    val cand = graft.CacheRegistry.ensurePersisted(best
      .join(mkB, Seq("mb"))
      .withColumn("f", col("fb") + col("off"))
      .withColumn("mg", pmod(col("ma"), lit(32L))))
    val aligned = idxSyms
      .join(cand.select(col("mg"), col("ma").as("mid"),
        col("f"), col("mb"), col("votes"), col("off"),
        col("sym_b")), Seq("mg", "mid", "f"))
      .groupBy(col("mid").as("ma"), col("mb"), col("votes"),
        col("off"))
      .agg(sum(when(col("sym") === col("sym_b"), 1).otherwise(0))
        .as("aligned"))
    val nfa = idxSyms
      .join(cand.select(col("mg"), col("ma").as("mid"))
        .distinct(), Seq("mg", "mid"))
      .groupBy(col("mid").as("ma"))
      .agg(count(lit(1)).as("nfa"))
    val nfb = mkB.groupBy("mb").agg(count(lit(1)).as("nfb"))
    aligned
      .join(nfa, Seq("ma"))
      .join(nfb, Seq("mb"))
      .filter(col("aligned") / least(col("nfa"), col("nfb")) >= 0.7)
      .select(col("ma"), col("mb"), col("off"), col("votes"),
        col("aligned"), col("nfa"), col("nfb"))
  }

  /** Bench-only RAW serve (the Bench.rawBench convention): a bounded
    * probe batch (the doc_id % 10 = 0 variants — 10% of media, the
    * production "queries arrive in batches against a standing index"
    * shape) served FROM the prebuilt files, with none of the gate's
    * certification legs (no in-memory parity twin, no exceptAll, no
    * catch-floor leg — each of which re-runs the whole pipeline and
    * would dominate the timing). The index builds from the FULL corpus
    * on the first call of a JVM and amortizes across runs, exactly as
    * in production. */
  def afpServeBench(s: SparkSession, d: String): DataFrame = {
    val idxDir = prebuiltAfpDirs.get(
        Similarity.corpusFingerprint(d, "documents")) match {
      case Some(dir) => dir
      case None =>
        val full = audioFingerprintFrames(s, d)
        val (capped, syms) = afpCorpusIndexFrames(full("ch"), full("pk"))
        afpEnsureIndexDir(d, capped, syms)
    }
    val probes = audioFingerprintFrames(s, d, col("doc_id") % 10 === 0)
    val probeHashes = graft.CacheRegistry.ensurePersisted(
      probes("ch").filter(col("mid") % 2 === 1)
        .withColumn("hb", pmod(col("hv"), lit(64L))))
    val mkB = graft.CacheRegistry.ensurePersisted(
      probes("pk").filter(col("kind") === 1)
        .select((col("doc_id") * 2 + 1).as("mb"), col("f").as("fb"),
          col("sym").as("sym_b")))
    afpServe(afpReadHashes(s, idxDir), afpReadSyms(s, idxDir),
      probeHashes, mkB)
  }

  /** One persisted landmark index per (JVM, corpus content) for
    * mm_afp_prebuilt — the sim_ivf_prebuilt cache convention. */
  private val prebuiltAfpDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stage frames of the mm_audio_fingerprint pipeline, keyed
    * docsW/pk/ch/pairs/best/fin/out — the gated query consumes "out". */
  private[graft] def audioFingerprintFrames(
      s: SparkSession, d: String,
      docsFilter: Column = lit(true)): Map[String, DataFrame] = {
      // ONE 336-codepoint window per (doc, kind), repartitioned before
      // the CPU-bound decode (the mm_phash pixel rule); silence pad = 0,
      // guarded explicitly inside the kernel. Codepoints are CLAMPED to
      // 255 at the seam (both engines, identically): a non-ASCII char
      // (up to 0x10FFFF) would otherwise overflow e = cr²+ci² in
      // BIGINT — an error in DuckDB but a silent wrap in Spark — and
      // break the digit-length packing behind the 87809
      // hash-injectivity bound (r13 ADVICE). The clamp ENFORCES the
      // byte-64 sample convention instead of assuming an ASCII corpus.
      graft.functions.GraftFunctions.register(s)
      val docsW = Tables.documents(s, d)
          .filter(docsFilter)
          .select(col("doc_id"), substring(col("text"), 1, 336).as("w"))
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            explode(array(lit(0), lit(1))).as("kind"), col("w"))
      // decode → per-frame 7-bin integer DFT → top-3-band ranking →
      // digit-length symbol packing, all fused into ONE codegen'd kernel
      // call per (doc, kind) — graft_afp_syms, AudioExpressions.scala.
      // The previous spelled-out formulation (320-element HOF decode +
      // 14 sixteen-term linear combinations + a sort_array filter that
      // re-inlined all 14 a second time) blew janino's 64 KB method
      // limit, silently disabling whole-stage codegen for the heaviest
      // bench family's decode (r14 verdict #1). Parity: the DuckDB
      // oracle keeps the spelled-out SQL (gate pins the kernel every
      // run); AudioKernelSpec pins parity vs the in-Spark HOF stack.
      // the kernel's per-(doc, kind) symbol ARRAY is the persisted form
      // (r15): both pk (exploded rows for the verify/nf legs) and the
      // landmark hashes derive from it map-only, so the cache holds 10k
      // array rows instead of 154k exploded rows
      val pkArr = graft.CacheRegistry.register(docsW
        .select(col("doc_id"), col("kind"),
          graft.functions.GraftFunctions.afpSyms(
            col("w"), col("kind")).as("fs"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val pk = pkArr
        .select(col("doc_id"), col("kind"), explode(col("fs")).as("e"))
        .select(col("doc_id"), col("kind"),
          col("e").getField("f").as("f"),
          col("e").getField("sym").as("sym"))
      // landmark hashes: (sym_t, sym_{t+dt}, dt); 87809 > max sym 87807.
      // r15 (guide §2.4): adjacent frames pair up IN-ARRAY (each element
      // against the ≤3 following elements, which covers every frame at
      // distance ≤3 because frame indices are strictly increasing) — the
      // previous lead() window exchanged + sorted the 154k-row exploded
      // frame just to look 3 positions ahead inside a 20-row partition.
      // Map-only from the pkArr cache.
      val ch = pkArr
        .select((col("doc_id") * 2 + col("kind")).as("mid"), col("fs"))
        .select(col("mid"), explode(expr(
          """flatten(transform(fs, (a, i) ->
            |  transform(filter(slice(fs, i + 2, 3), x -> x.f - a.f <= 3),
            |    x -> struct(a.f AS f,
            |      (a.sym * 87809 + x.sym) * 4 + (x.f - a.f) AS hv))))"""
            .stripMargin)).as("e"))
        .select(col("mid"), col("e.f").as("f"), col("e.hv").as("hv"))
      // boilerplate cap + pair generation in ONE hv-keyed aggregate
      // (r15, guide §2.4 — the q_itemset_pairs recipe): collect each
      // hash bucket's (mid, f) entries (deterministically bounded at 160
      // by the cap filter), then explode the ma < mb element pairs
      // IN-TASK straight into the map-side-combined vote aggregate. The
      // previous shape paid a count-over-window (exchange + sort) for
      // the cap AND a two-sided self-join on hv for the pairs; this is
      // one exchange of the 400k-row hash frame, and the 4.4M candidate
      // pair rows never cross a shuffle — only the aggregated votes do.
      // es is mid-sorted so the pair explode can be POSITIONAL (element
      // i against elements i+1..n via slice) — plain codegen'd
      // expressions instead of a per-element interpreted HOF filter; the
      // b.mid > a.mid guard (same-mid entries are adjacent after the
      // sort) is an ordinary codegen'd Filter
      val buckets = graft.CacheRegistry.ensurePersisted(ch
        .groupBy("hv")
        .agg(sort_array(collect_list(struct(col("mid"), col("f"))))
          .as("es"))
        .filter(size(col("es")) <= 160))
      val pairs = buckets
        .select(posexplode(col("es")).as(Seq("i", "a")), col("es"))
        .select(col("a"),
          explode(slice(col("es"), col("i") + 2, lit(160))).as("b"))
        .filter(col("b.mid") > col("a.mid"))
        .select(col("a.mid").as("ma"), col("b.mid").as("mb"),
          (col("a.f") - col("b.f")).as("off"))
      // r16 (guide §2.3/§2.4, r15 verdict ask #2): vote count + best-
      // offset selection fused into ONE ma-grouped TypedImperativeAggregate
      // (VoteBestAgg — open-addressing (mb, off)→votes map). The previous
      // shape was two shuffled aggregates (GROUP BY (ma,mb,off) COUNT then
      // GROUP BY (ma,mb) max-struct) whose ~4.4M candidate rows spread
      // over ~4.1M distinct groups, so partial aggregation reduced almost
      // nothing and both exchanges carried candidate-cardinality rows.
      // Now one exchange of ~|media| packed map rows. Semantics pinned
      // bit-identical (votes = count of the (votes desc, off asc) best
      // offset, votes >= 5) by the oracle SQL and VoteBestAggSpec.
      val best = pairs
        .groupBy("ma")
        .agg(graft.functions.GraftFunctions.voteBest(
          col("mb") * lit(2097152L) + (col("off") + lit(1048576L)), 5)
          .as("vb"))
        .select(col("ma"), explode(col("vb")).as("e"))
        .select(col("ma"), col("e.mb").as("mb"),
          col("e.votes").as("votes"), col("e.off").as("off"))
      val mk = pk.select((col("doc_id") * 2 + col("kind")).as("mid"),
        col("f"), col("sym"))
      val nfr = mk.groupBy("mid").agg(count(lit(1)).as("nf"))
      val mkA = mk.select(col("mid").as("ma"), col("f").as("fa"),
        col("sym").as("sym_a"))
      val mkB = mk.select(col("mid").as("mb"), col("f").as("fb"),
        col("sym").as("sym_b"))
      // alignment as a PURE equi-join: the verify frame index on the b
      // side is determined (fb = fa - off), so joining on (mb, fb)
      // keeps the matcher hash-joinable — an expression condition here
      // degrades to an mb-only join with a 40×40 post-filter per pair
      val fin = graft.CacheRegistry.ensurePersisted(best
        .join(mkA, Seq("ma"))
        .withColumn("fb", col("fa") - col("off"))
        .join(mkB, Seq("mb", "fb"))
        .groupBy(col("ma"), col("mb"), col("votes"), col("off"))
        .agg(sum(when(col("sym_a") === col("sym_b"), 1).otherwise(0))
          .as("aligned"))
        .join(broadcast(nfr.select(col("mid").as("ma"),
          col("nf").as("nfa"))), Seq("ma"))
        .join(broadcast(nfr.select(col("mid").as("mb"),
          col("nf").as("nfb"))), Seq("mb"))
        .filter(col("aligned") / least(col("nfa"), col("nfb")) >= 0.7))
      // in-plan certification: self-variant catch over the ≥120-char
      // cohort, floor 0.85 — integer compare (×100), engine-exact
      val cohort = Tables.documents(s, d)
        .filter(length(col("text")) >= 120).select("doc_id")
      val caughtN = fin
        .filter(col("mb") === col("ma") + 1 && col("ma") % 2 === 0)
        .select(expr("ma DIV 2").as("doc_id"))
        .join(broadcast(cohort), Seq("doc_id"))
        .agg(count(lit(1)).as("kn"))
      val cohortN = cohort.agg(count(lit(1)).as("cn"))
      val cert = caughtN.crossJoin(cohortN)
        .select((col("kn") * 100 >= col("cn") * 85).cast("int")
          .as("catch_ok"))
      val out = fin
        .select(col("ma").as("media_a"), col("mb").as("media_b"),
          col("off").cast("int").as("off"), col("votes"), col("aligned"),
          col("nfa").as("nf_a"), col("nfb").as("nf_b"),
          round(col("aligned") / least(col("nfa"), col("nfb")), 4)
            .as("match_ratio"))
        .crossJoin(broadcast(cert))
        .orderBy("media_a", "media_b")
      Map("docsW" -> docsW, "pk" -> pk, "ch" -> ch, "pairs" -> pairs,
        "best" -> best, "fin" -> fin, "out" -> out)
  }

  val audioWindowSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("window_idx", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("energy", LongType, nullable = false),
    StructField("zero_crossings", IntegerType, nullable = false)))

  /** Windowed PCM-style features via the partition-parallel seam (see
    * mm_audio_energy). Samples are (byte & 0xff) - 64; per window:
    * energy = Σ s², zero crossings = adjacent strict sign flips. */
  def audioWindowFeatures(binary: DataFrame, win: Int): DataFrame = {
    val spark = binary.sparkSession
    val rdd = binary.select("media_id", "payload").rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getAs[Long]("media_id")
        val payload = r.getAs[Array[Byte]]("payload")
        val nWin = math.max((payload.length + win - 1) / win, 1)
        (0 until nWin).iterator.map { wi =>
          val from = wi * win
          val until = math.min(from + win, payload.length)
          var energy = 0L
          var zc = 0
          var prev = 0
          var i = from
          while (i < until) {
            val sVal = (payload(i) & 0xff) - 64
            energy += sVal.toLong * sVal
            if (i > from && prev * sVal < 0) zc += 1
            prev = sVal
            i += 1
          }
          Row(id, wi, math.max(until - from, 0), energy, zc)
        }
      }
    }
    spark.createDataFrame(rdd, audioWindowSchema)
  }

  val laplacianPatchSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("patch_idx", IntegerType, nullable = false),
    StructField("sl", LongType, nullable = false),
    StructField("sl2", LongType, nullable = false)))

  /** Per-patch Laplacian moments via the partition-parallel decode seam
    * (see mm_decode_features): each FULL 64-byte window is an 8×8
    * grayscale tile (pixel = byte & 0xff); for the 36 interior pixels,
    * L = 4p − up − down − left − right, returning (Σ L, Σ L²). The
    * sharpness statistic 36·ΣL² − (ΣL)² (36²·var) stays an exact
    * integer — no float anywhere, so the oracle replays it verbatim.
    * Clipped tail windows are skipped (a partial tile has no interior). */
  def laplacianPatches(binary: DataFrame): DataFrame = {
    val spark = binary.sparkSession
    val rdd = binary.select("media_id", "payload").rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getAs[Long]("media_id")
        val p = r.getAs[Array[Byte]]("payload")
        val nFull = p.length / 64
        (0 until nFull).iterator.map { pi =>
          val base = pi * 64
          var sl = 0L
          var sl2 = 0L
          var k = 0
          while (k < 36) {
            val rr = 1 + k / 6
            val cc = 1 + k % 6
            val pos = base + rr * 8 + cc
            val l = 4 * (p(pos) & 0xff) - (p(pos - 8) & 0xff) -
              (p(pos + 8) & 0xff) - (p(pos - 1) & 0xff) - (p(pos + 1) & 0xff)
            sl += l
            sl2 += l.toLong * l
            k += 1
          }
          Row(id, pi, sl, sl2)
        }
      }
    }
    spark.createDataFrame(rdd, laplacianPatchSchema)
  }
}
