package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Vector similarity search over the `embeddings` table
  * (embedding: array<float>, 64-dim). No reference counterpart; designed
  * Spark-first:
  *
  *  - scoring runs through fused native kernels (graft_cosine,
  *    graft_lsh_keys, graft_plane_dots) — no UDFs, no driver collects;
  *  - brute-force top-k broadcasts the (small) query set, scans the
  *    corpus once, and selects per-query top-k with the bounded
  *    aggregator (k-entry state, no candidate sort);
  *  - the scale paths are multi-table hyperplane LSH (candidates only
  *    from matching buckets) and IVF (probe-limited exact search). At
  *    100 TB the bucket join replaces the N×Q cross product with
  *    |bucket| × Q_bucket work, and the signature pass is a single
  *    narrow projection.
  */
object Similarity {

  /** Spread a kernel scan across the cluster ONLY when the source is
    * under-split (the sf0.1 corpus is one parquet split; 32 cores would
    * otherwise scan it on one thread). At 100 TB the scan already has
    * thousands of splits, and an unconditional repartition would be a
    * gratuitous full-corpus exchange before a narrow broadcast-join pass
    * — so this is a no-op there. The decision reads `df.inputFiles`
    * (logical-plan file listing — no physical planning, no RDD
    * conversion; the r13 `.rdd.getNumPartitions` probe forced a full
    * physical plan per call): fewer source files than cores is exactly
    * the under-split case, and at production scale the file count
    * exceeds any core count so the branch is never taken. Non-file
    * sources report no files and are left untouched (they already sit
    * behind their own exchanges). */
  private def ensureParallel(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val nFiles = df.inputFiles.length
    if (nFiles > 0 && nFiles < par) df.repartition(par) else df
  }

  /** Deterministic random hyperplanes (seeded) for LSH signatures —
    * shared generator with the native kernels (same stream ⇒ identical
    * planes ⇒ identical signatures either path). */
  private def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    graft.functions.Hyperplanes.generate(numPlanes, dim, seed).map(_.toSeq).toSeq

  /** Sequential-fold dot product of two float-array columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** n-bit LSH signature: bit p = sign(v · r_p) for seeded hyperplane r_p. */
  def lshSignature(v: Column, numPlanes: Int = 16, dim: Int = 64): Column = {
    val planes = hyperplanes(numPlanes, dim)
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, typedLit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
  }

  /** (query_id, vec_id, sim) rows → the k best per query via the bounded
    * aggregator, in the shared output contract (neighbor_id, sim, rk).
    * One place to change the tiebreak/rounding for all three search
    * paths. Selection ranks on the ROUNDED similarity (ties → smaller
    * id): raw-double ranking would let sub-ulp engine differences pick
    * different neighbors at the k boundary, which is exactly what the
    * cross-engine oracle would flag. */
  private def topKSelect(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAggregator.topK(
        round(col("sim"), 4), col("vec_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk.entries")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("sim"),
        (col("pos") + 1).cast("int").as("rk"))

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * Queries are broadcast; corpus is scanned once; per-query top-k via
    * the bounded [[graft.functions.TopKAggregator]] — the shuffle
    * carries k entries per (query, partition) instead of every scored
    * candidate, and nothing is sorted (same tiebreak as the window
    * formulation: sim desc, then smaller id). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // fused codegen kernel (graft.functions.CosineSimilarityFloat) on the
    // hot path — one loop per row instead of zip_with+aggregate arrays
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    ensureParallel(corpus)
      .select(col("vec_id"), col("embedding"))
      .join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.GraftFunctions.cosine(col("embedding"), col("q_emb"))
          .as("sim"))
      .transform(topKSelect(_, k))
  }

  /** Int8 scalar-quantized top-k (symmetric max-abs scaling, the
    * q_quantize_embeddings codebook): both sides quantize to 8-bit
    * integers and rank on the cosine OF THE QUANTIZED vectors — the
    * per-vector scales cancel, so scoring is an exact integer dot plus
    * two integer norms (one IEEE division at the end). This is the
    * memory/bandwidth lever for billion-vector search: the corpus scan
    * reads 4× fewer bytes than f32 and the kernel is pure int math.
    * Determinism: the integer sums are exact in any order; the final
    * S/(√A·√B) is one correctly-rounded double expression over identical
    * integers in both engines; topKSelect rounds 4dp + id tiebreak. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // fused codegen kernel (graft.functions.Sq8CosineFloat) on the hot
    // path — one loop per row; the HOF formulation below is the parity
    // reference
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    ensureParallel(corpus)
      .select(col("vec_id"), col("embedding"))
      .join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.GraftFunctions.sq8Cosine(
          col("embedding"), col("q_emb")).as("sim"))
      .transform(topKSelect(_, k))
  }

  /** Higher-order-function formulation of the sq8 cosine — kept for
    * kernel-parity tests against [[graft.functions.Sq8CosineFloat]]. */
  def sq8CosineHof(a: Column, b: Column): Column = {
    def q(v: Column) = {
      val ma = array_max(transform(v, x => abs(x.cast("double"))))
      when(ma === 0, transform(v, _ => lit(0L)))
        .otherwise(transform(v,
          x => floor(x.cast("double") / ma * 127.0 + 0.5).cast("long")))
    }
    val qa = q(a); val qb = q(b)
    val na = aggregate(qa, lit(0L), (acc, x) => acc + x * x)
    val nb = aggregate(qb, lit(0L), (acc, x) => acc + x * x)
    val dot = aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L),
      (acc, x) => acc + x)
    when(na === 0 || nb === 0, lit(0.0))
      .otherwise(dot.cast("double")
        / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
  }

  /** Bucket keys for multi-table LSH: `numTables` independent signatures
    * of `bitsPerTable` hyperplane bits each. Two vectors are candidates
    * iff they share a bucket in ANY table (OR-amplification). HOF
    * reference formulation — kept for kernel-parity tests; the pipeline
    * uses [[graft.functions.PackedLshKeys]] via posexplode. */
  def lshTableKeysHof(v: Column, numTables: Int, bitsPerTable: Int,
      dim: Int = 64): Column = {
    val planes = hyperplanes(numTables * bitsPerTable, dim)
    array((0 until numTables).map { t =>
      val sig = (0 until bitsPerTable).map { j =>
        when(dot(v, typedLit(planes(t * bitsPerTable + j))) > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
      struct(lit(t).as("t"), sig.as("sig"))
    }: _*)
  }

  /** id + (t, sig) bucket rows for a vector frame: one fused-kernel
    * projection + posexplode (the table index IS the array position). */
  private def lshKeyed(df: DataFrame, idFrom: String, idAs: String,
      embAs: String, numTables: Int, bitsPerTable: Int): DataFrame = {
    ensureParallel(df)
      .select(col(idFrom).as(idAs), col("embedding").as(embAs),
        posexplode(graft.functions.GraftFunctions.lshKeys(
          col("embedding"), numTables, bitsPerTable, dim = 64, seed = 42L)))
      .withColumnRenamed("pos", "t")
      .withColumnRenamed("col", "sig")
  }

  /** LSH-bucketed approximate top-k (multi-table random-hyperplane LSH).
    *
    * Tuning note: these embeddings are near-isotropic gaussians (top-1
    * cosine ≈ 0.35), the hardest case for LSH. 16 tables × 6 bits gives
    * ~4-5× candidate pruning at ~0.5 recall@5 here; real text-embedding
    * corpora are strongly clustered, where the same machinery prunes
    * 100-1000× at high recall. At 100 TB the bucket join shuffles only
    * (key, id) pairs and the per-bucket work is bounded; numTables scales
    * the duplication factor linearly — the standard cost knob.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numTables: Int = 16, bitsPerTable: Int = 6): DataFrame = {
    val corpusKeys = lshKeyed(corpus, "vec_id", "vec_id", "embedding",
      numTables, bitsPerTable)
    val queryKeys = lshKeyed(queries, "vec_id", "query_id", "q_emb",
      numTables, bitsPerTable)
    // Score BEFORE dedup: a pair found in several tables recomputes the
    // (cheap) cosine, but the multi-table dedup then shuffles only
    // narrow (query, vec, sim) rows — never the embedding arrays. The
    // per-query top-k is the bounded aggregator (no candidate sort).
    broadcast(queryKeys)
      .join(corpusKeys, Seq("t", "sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.GraftFunctions.cosine(col("embedding"), col("q_emb"))
          .as("sim"))
      .groupBy("query_id", "vec_id").agg(max("sim").as("sim"))
      .transform(topKSelect(_, k))
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their
    * nearest of `numCells` centroids once; a query probes only its
    * `nprobe` closest cells and computes exact cosine within them.
    *
    * Centroids here are seeded gaussians (deterministic); at production
    * scale they come from k-means over a sample and the cell assignment
    * is a materialized column — the probe-time work per query is then
    * |corpus| * nprobe / numCells exact comparisons instead of |corpus|.
    * Cell assignment and probing are pure expressions (fused dot-product
    * kernel); candidates flow through one equi-join on the cell id.
    */
  /** 1-bit binary-quantized top-k: sign-bit sketch (two packed 32-bit
    * words — overflow-safe BIGINT packing in both engines), Hamming
    * candidate generation over corpus × broadcast probes via the
    * bounded TopKAggregator (score = 128 − hamming, id tiebreak), exact
    * cosine rerank of the top-`pool` candidates. */
  def binaryQuantTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      pool: Int): DataFrame = {
    // bit i of word w = [component 32w+i >= 0]; sum of shiftleft(1L, i)
    // for i < 32 stays under 2^32 — exact everywhere
    def word(c: String, w: Int): Column = expr(
      s"aggregate(transform(sequence(0, 31), i -> IF($c[${w * 32} + i]" +
        s" >= CAST(0.0 AS FLOAT), shiftleft(1L, i), 0L)), 0L," +
        " (a, x) -> a + x)")
    val c = corpus.select(col("vec_id"),
      word("embedding", 0).as("c0"), word("embedding", 1).as("c1"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      word("embedding", 0).as("q0"), word("embedding", 1).as("q1")))
    val cand = ensureParallel(c)
      .join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (expr("bit_count(c0 ^ q0)") + expr("bit_count(c1 ^ q1)")).as("ham"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAggregator.topK(
        (lit(128) - col("ham")).cast("double"), col("vec_id"), pool).as("tk"))
      .select(col("query_id"), explode(col("tk.entries")).as("e"))
      .select(col("query_id"), col("e.id").as("vec_id"))
    cand
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.GraftFunctions.cosine(col("embedding"), col("q_emb"))
          .as("sim"))
      .transform(topKSelect(_, k))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numCells: Int = 32, nprobe: Int = 4, dim: Int = 64): DataFrame = {
    ivfServe(ivfAssignments(corpus, numCells, dim),
      queries, k, numCells, nprobe, dim)
  }

  /** One fused matrix-vector kernel for all centroid dots, then struct
    * assembly from the result array (position = cell id). */
  private def ivfCellScores(v: Column, numCells: Int, dim: Int): Column =
    transform(
      graft.functions.GraftFunctions.planeDots(v, numCells, dim, seed = 7L),
      (d, i) => struct(d.as("d"), i.cast("int").as("i")))

  /** One persisted IVF index per (JVM, corpus content) for
    * sim_ivf_prebuilt — the build is deterministic, so reuse is
    * value-identical. Keyed on a cheap content fingerprint (file paths
    * + mtime + size) rather than the sfDir string so regenerated data
    * under the same path rebuilds instead of serving a stale index,
    * and every staged dir is registered for deletion on JVM exit
    * (r13 ADVICE: no orphaned corpus copies under /tmp). */
  private val prebuiltIvfDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Fingerprint of the on-disk corpus behind `dir/table.parquet`. */
  private[operators] def corpusFingerprint(dir: String, table: String): String = {
    val root = java.nio.file.Paths.get(dir, s"$table.parquet")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => s"$p:${java.nio.file.Files.getLastModifiedTime(p).toMillis}" +
        s":${java.nio.file.Files.size(p)}")
      .toSeq.sorted.mkString("|")
    finally walk.close()
  }

  /** Create a temp dir whose whole tree is removed on JVM exit. */
  private[operators] def tempDirCleanedOnExit(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.iterator().asScala.foreach(rm) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
        ()
      }
      try rm(dir) catch { case _: Throwable => () }
    }))
    dir.toString
  }

  /** The IVF index frame: every corpus vector with its assigned cell —
    * the artifact sim_ivf_prebuilt persists partitioned by cell. */
  private[graft] def ivfAssignments(corpus: DataFrame,
      numCells: Int, dim: Int): DataFrame = {
    // struct ordering is lexicographic → array_max picks the best-dot cell
    ensureParallel(corpus)
      .select(col("vec_id"), col("embedding"),
        array_max(ivfCellScores(col("embedding"), numCells, dim))
          .getField("i").as("cell"))
  }

  /** Probe-time serve over an (already built) index frame: each query
    * fans out to its `nprobe` best cells, exact cosine inside them. */
  private[operators] def ivfServe(index: DataFrame, queries: DataFrame,
      k: Int, numCells: Int, nprobe: Int, dim: Int): DataFrame = {
    val queryProbes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(transform(
          slice(reverse(array_sort(
            ivfCellScores(col("embedding"), numCells, dim))), 1, nprobe),
          s => s.getField("i"))).as("cell"))
    broadcast(queryProbes)
      .join(index, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.GraftFunctions.cosine(col("embedding"), col("q_emb"))
          .as("sim"))
      .transform(topKSelect(_, k))
  }

  /** Distributed k-means (Lloyd's) over an embedding column — the
    * "semantic clustering" stage of a training-data pipeline (cluster →
    * balance/sample/dedup per cluster). Fully declarative and LAZY: the
    * per-iteration centroid table is a k-row aggregate that stays in the
    * plan (broadcast to the next assignment join), never on the driver —
    * at 100 TB each iteration is one corpus scan + one narrow
    * (cluster, dim) shuffle, and the cross join is k-row broadcast ×
    * corpus, not a real cross product.
    *
    * Cross-engine determinism: initial centroids are the k lowest
    * vec_ids; assignment ranks on the 4-decimal-rounded squared L2
    * distance with a centroid-id tiebreak; recomputed centroid means go
    * through exact DECIMAL sums rounded to 6 decimals — both engines see
    * bit-identical centroid inputs every iteration, so the oracle can
    * replay the whole algorithm.
    */
  private def kmeansCorpus(emb: DataFrame): DataFrame =
    ensureParallel(emb).select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))

  /** Squared L2 over two double arrays (sequential fused fold — the
    * fold order is part of the cross-engine contract). */
  def kmeansDist2(v: Column, cen: Column): Column =
    aggregate(zip_with(v, cen, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  // nearest centroid per vector: min over a struct orders by rounded
  // distance first, centroid id second (the ulp-proof tiebreak).
  // r15 optimization (guide §2.3/§2.4): the old shape crossJoined the
  // corpus against the k-row centroid frame (k× row blowout) and then
  // SHUFFLED corpus×k rows through a groupBy(vec_id) whose first(v)
  // dragged the full 64-dim payload across the exchange — per call.
  // Collapsing the centroids to ONE broadcast row (array of (cid, cen))
  // and taking array_min over an in-row transform computes the same
  // (d, cid)-lexicographic argmin — array_min orders structs exactly
  // like min(struct(...)) — with ZERO exchanges and no row blowup: the
  // assignment becomes a map-only stage at any corpus size. Called 3-4×
  // per k-means consumer (training iterations + final assign + IVF
  // lists), so this removes that many shuffles from sim_kmeans,
  // dedup_semantic, sim_ivf_pq and sim_centroid_drift.
  private def kmeansAssignTo(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(
        cents.agg(collect_list(struct(col("cid"), col("cen"))).as("cents"))))
      .select(col("vec_id"), col("v"),
        array_min(transform(col("cents"), c =>
          struct(round(kmeansDist2(col("v"), c.getField("cen")), 4).as("d"),
            c.getField("cid").as("cid")))).as("best"))
      .select(col("vec_id"), col("v"),
        col("best.cid").as("cluster"), col("best.d").as("dist2"))

  // exact decimal per-dimension means (order-free), rounded to 6dp so
  // the next iteration's distances are computed from identical doubles
  // in both engines
  private def kmeansRecompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("cluster", "i")
      .agg(round(sum(col("x").cast("decimal(18,9)")).cast("double")
        / count(lit(1)), 6).as("m"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("ms"))
      .select(col("cluster").as("cid"),
        transform(col("ms"), s => s.getField("m")).as("cen"))

  /** The centroid frame the FINAL k-means assignment ranks against
    * (`c_{iters-1}` in the oracle CTE chain): k lowest vec_ids as init,
    * then iters−1 Lloyd refinements. Exposed so IVF-style consumers
    * (sim_ivf_pq) probe the SAME centroids the stored assignment used —
    * a k-row frame that broadcasts at any corpus size. */
  def kmeansCentroids(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val corpus = kmeansCorpus(emb)
    var cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"),
        transform(col("embedding"), _.cast("double")).as("cen"))
    for (_ <- 1 until iters)
      cents = kmeansRecompute(kmeansAssignTo(corpus, cents))
    cents
  }

  def kmeansAssign(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    kmeansAssignTo(kmeansCorpus(emb), kmeansCentroids(emb, k, iters))
      .select(col("vec_id"), col("cluster"), col("dist2"))
      .orderBy("vec_id")

  /** Product quantization with asymmetric distance (PQ/ADC, Jégou et al.
    * TPAMI 2011 — public method): 64 dims split into 8 subspaces × 8
    * dims; per subspace a 16-entry codebook (seeded from the 16 lowest
    * vec_ids' sub-vectors, refined by one Lloyd step) encodes every
    * sub-vector as its nearest centroid id — the vector compresses to 8
    * small codes, the memory-compression half of IVF-PQ. Query distance
    * is ADC: one 16-entry table of exact (query-sub, centroid) distances
    * per (query, subspace), summed over the stored codes — the corpus
    * embeddings are never touched at query time.
    *
    * Scale design: the codebook is 128 tiny rows (broadcast), codes are
    * 8 narrow rows per vector, the ADC lookup table is |queries|×128
    * (broadcast); query-time work is one broadcast equi-join on
    * (subspace, code) + a decimal sum + the bounded top-k aggregator —
    * no embedding bandwidth, no sort. Cross-engine determinism mirrors
    * kmeansAssign: rounded distances with centroid-id tiebreaks, exact
    * decimal centroid means and ADC sums — the DuckDB oracle replays the
    * whole train/encode/search pipeline. */
  /** (vec_id, s, sv): the 8-dim sub-vector of every vector × subspace,
    * persisted — it feeds codebook training, encoding, and the LUT. */
  private def pqSub(emb: DataFrame): DataFrame =
    graft.CacheRegistry.register(
      ensureParallel(emb)
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("s"),
          col("v"))
        .select(col("vec_id"), col("s"),
          slice(col("v"), col("s") * 8 + 1, lit(8)).as("sv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // nearest codebook entry per (vector, subspace) — rounded distance,
  // centroid-id tiebreak (the same ulp-proof min-struct as k-means).
  // r15 optimization (guide §2.3/§2.4, the kmeansAssignTo recipe): the
  // old shape joined sub against all 16 per-subspace codebook entries
  // (16× row blowup) and shuffled corpus×8×16 rows through a
  // groupBy(vec_id, s) whose first(sv) dragged the sub-vector across
  // the exchange — twice per PQ consumer (cb0-encode inside codebook
  // training, cb1-encode for the stored codes). Grouping the codebook
  // to 8 one-row-per-subspace arrays and taking the in-row array_min
  // (identical (d, j) lexicographic argmin) makes encoding a map-only
  // pass over the corpus×8 sub-vector frame.
  private def pqEncode(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(
        cb.groupBy("s").agg(collect_list(struct(col("j"), col("cen")))
          .as("cbs"))), "s")
      .select(col("vec_id"), col("s"),
        array_min(transform(col("cbs"), e =>
          struct(round(kmeansDist2(col("sv"), e.getField("cen")), 4).as("d"),
            e.getField("j").as("j")))).getField("j").as("code"),
        col("sv"))

  /** Refined PQ codebook (cb1 in the oracle): 16 seed sub-vectors per
    * subspace, one Lloyd step of exact decimal per-dimension means
    * rounded to 6dp — identical doubles both engines. 128 tiny rows,
    * always broadcast. */
  private def pqCodebook(sub: DataFrame): DataFrame = {
    val cb0 = sub.filter(col("vec_id") < 16)
      .select(col("s"), col("vec_id").cast("int").as("j"),
        col("sv").as("cen"))
    graft.CacheRegistry.register(
      pqEncode(sub, cb0)
        .select(col("s"), col("code").as("j"),
          posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy("s", "j", "i")
        .agg(round(sum(col("x").cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 6).as("m"))
        .groupBy("s", "j")
        .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("ms"))
        .select(col("s"), col("j"),
          transform(col("ms"), t => t.getField("m")).as("cen"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** The trained codebook collapsed to ONE broadcast row — array over
    * the 8 subspaces (sorted by s) of the per-subspace entry array
    * (sorted by j) — for the in-row encode/score kernels (the
    * kmeansAssignTo one-row recipe). */
  private def pqCodebookRow(cb1: DataFrame): DataFrame =
    cb1.groupBy("s")
      .agg(array_sort(collect_list(struct(col("j"), col("cen"))))
        .as("cbs"))
      .agg(array_sort(collect_list(struct(col("s"), col("cbs"))))
        .as("cb"))

  /** In-row PQ codes array (index i ↔ subspace s = i−1) from a full
    * 64-dim vector against the one-row codebook: the identical
    * (d, j)-lexicographic argmin as [[pqEncode]], zero exchanges. */
  private def pqCodesInRow(v: Column, cb: Column): Column =
    transform(cb, sc =>
      array_min(transform(sc.getField("cbs"), e =>
        struct(round(kmeansDist2(
            slice(v, sc.getField("s") * 8 + 1, lit(8)),
            e.getField("cen")), 4).as("d"),
          e.getField("j").as("j")))).getField("j"))

  /** Per-query in-row ADC lookup table: array over subspaces (codebook
    * order) of (j, ld) entries, ld = the identical rounded sub-distance
    * the old broadcast LUT frame carried. */
  private def pqLutInRow(qv: Column, cb: Column): Column =
    transform(cb, sc =>
      transform(sc.getField("cbs"), e =>
        struct(e.getField("j").as("j"),
          round(kmeansDist2(
            slice(qv, sc.getField("s") * 8 + 1, lit(8)),
            e.getField("cen")), 4).as("ld"))))

  /** In-row ADC: the 8 looked-up subspace distances summed as exact
    * decimals (order-free, same arithmetic as the old
    * sum(cast(ld as decimal(18,6))) aggregate) then cast to double and
    * rounded — bit-identical by correct rounding of the same rational. */
  private def pqAdcInRow(lut: Column, codes: Column): Column =
    round((0 until 8).map { s =>
      element_at(
        filter(element_at(lut, s + 1),
          e => e.getField("j") === element_at(codes, s + 1)),
        1).getField("ld").cast("decimal(18,6)")
    }.reduce(_ + _).cast("double"), 4)

  // r15 opt 2 (guide §2.4): scoring is now MAP-ONLY — per-vector codes
  // and the per-query LUT are computed in-row against the one-row
  // broadcast codebook, and each corpus row emits its (query, adc) rows
  // in-task straight into the bounded top-k aggregate. The previous
  // shape exchanged a corpus×|queries| scored frame through a
  // groupBy(query_id, vec_id) before the top-k; only aggregated top-k
  // partials cross the wire now. The exploded sub frame survives solely
  // as codebook-TRAINING input (a corpus-wide mean genuinely needs an
  // aggregate).
  def pqAdcTopK(emb: DataFrame, k: Int = 5, numQueries: Int = 10,
      cbRowOpt: Option[DataFrame] = None): DataFrame = {
    // r16: callers that serve the shared corpus pass the trained one-row
    // codebook (corpusPqCodebookRow) — train-once/serve-many; otherwise
    // train locally (identical arithmetic either way)
    val cbRow = cbRowOpt.getOrElse(pqCodebookRow(pqCodebook(pqSub(emb))))
    val corpus = kmeansCorpus(emb)
    // every query's in-row LUT, collapsed to ONE broadcast row
    val queries = corpus.filter(col("vec_id") < numQueries)
      .crossJoin(broadcast(cbRow))
      .select(struct(col("vec_id").as("query_id"),
        pqLutInRow(col("v"), col("cb")).as("lut")).as("q"))
      .agg(collect_list(col("q")).as("qs"))
    corpus.crossJoin(broadcast(cbRow))
      .select(col("vec_id"), pqCodesInRow(col("v"), col("cb")).as("codes"))
      .crossJoin(broadcast(queries))
      .select(col("vec_id"), col("codes"),
        explode(filter(col("qs"),
          q => q.getField("query_id") =!= col("vec_id"))).as("q"))
      .select(col("q.query_id").as("query_id"), col("vec_id"),
        pqAdcInRow(col("q.lut"), col("codes")).as("adc"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAggregator.topK(
        -col("adc"), col("vec_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk.entries")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (-col("col.score")).as("adc"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** IVF-PQ: the production ANN index composition (Jégou et al. TPAMI
    * 2011 §V — IVFADC): a coarse quantizer prunes the corpus to the
    * query's `nprobe` nearest cells, then PQ/ADC scores ONLY the
    * surviving inverted lists. Both halves already exist and are gated
    * separately (sim_kmeans arithmetic = the coarse quantizer,
    * sim_pq_adc = the rescorer); this is their composition — at 100 TB
    * the probe prunes the ADC join to |corpus|·nprobe/numCells
    * candidates, the inverted lists are a materialized cluster column,
    * and everything the query touches (centroids, codebook, LUT,
    * probes) is a broadcast-sized frame.
    *
    * Cross-engine determinism: the coarse half reuses the EXACT
    * k-means recipe (rounded distances, cid tiebreaks, decimal means)
    * and the fine half the EXACT PQ recipe, so the DuckDB oracle
    * replays train/assign/probe/encode/score end-to-end and every
    * neighbor row is hash-certified — stronger than a recall summary. */
  def ivfPqTopK(emb: DataFrame, k: Int = 5, numQueries: Int = 10,
      nprobe: Int = 3, centsOpt: Option[DataFrame] = None,
      cbRowOpt: Option[DataFrame] = None): DataFrame = {
    val corpus = kmeansCorpus(emb)
    // the trained coarse quantizer is 8 rows but its PLAN is the whole
    // Lloyd pipeline (crossJoin + posexplode chains); it feeds BOTH the
    // inverted-list build and the query probes — callers supply the
    // cross-query shared one (corpusCentroids); otherwise checkpoint a
    // local train once — train-once/probe-many, like a real index build
    val cents = centsOpt.getOrElse(
      kmeansCentroids(emb, k = 8, iters = 2).localCheckpoint())
    val centsRow =
      cents.agg(collect_list(struct(col("cid"), col("cen"))).as("cents"))
    // r16: the trained PQ codebook row is likewise caller-suppliable
    // (corpusPqCodebookRow) — train-once/serve-many
    val cbRow = cbRowOpt.getOrElse(pqCodebookRow(pqCodebook(pqSub(emb))))
    // the coarse-assignment argmin (identical (d, cid) ranking as
    // kmeansAssignTo — the materialized cluster column of a real index)
    def cellOf(v: Column): Column =
      array_min(transform(col("cents"), c =>
        struct(round(kmeansDist2(v, c.getField("cen")), 4).as("d"),
          c.getField("cid").as("cid")))).getField("cid")
    // r15 opt 2 (guide §2.4): each query's nprobe probe cells (in-row
    // array_sort+slice = the old window's ORDER BY d, cid / rn <=
    // nprobe) AND its in-row ADC LUT ride ONE broadcast row; the corpus
    // pass computes cell + PQ codes in-row and emits (query, adc) rows
    // in-task for exactly the probed cells — the lists⋈probes shuffle
    // join, the cands⋈codes shuffle join and the scored
    // groupBy(query_id, vec_id) exchange are all gone; only bounded
    // top-k partials cross the wire.
    val queries = corpus.filter(col("vec_id") < numQueries)
      .crossJoin(broadcast(centsRow))
      .crossJoin(broadcast(cbRow))
      .select(struct(col("vec_id").as("query_id"),
        transform(
          slice(array_sort(transform(col("cents"), c =>
            struct(round(kmeansDist2(col("v"), c.getField("cen")), 4).as("d"),
              c.getField("cid").as("cid")))), 1, nprobe),
          e => e.getField("cid")).as("probes"),
        pqLutInRow(col("v"), col("cb")).as("lut")).as("q"))
      .agg(collect_list(col("q")).as("qs"))
    corpus.crossJoin(broadcast(centsRow))
      .crossJoin(broadcast(cbRow))
      .select(col("vec_id"), cellOf(col("v")).as("cluster"),
        pqCodesInRow(col("v"), col("cb")).as("codes"))
      .crossJoin(broadcast(queries))
      .select(col("vec_id"), col("codes"),
        explode(filter(col("qs"), q =>
          array_contains(q.getField("probes"), col("cluster")) &&
            q.getField("query_id") =!= col("vec_id"))).as("q"))
      .select(col("q.query_id").as("query_id"), col("vec_id"),
        pqAdcInRow(col("q.lut"), col("codes")).as("adc"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAggregator.topK(
        -col("adc"), col("vec_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk.entries")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (-col("col.score")).as("adc"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed candidate
    * generation (multi-table, like annTopK) + exact fused-kernel cosine —
    * the vector-space twin of MinHash dedup. Never an all-pairs product. */
  def cosinePairs(corpus: DataFrame, threshold: Double,
      numTables: Int = 16, bitsPerTable: Int = 6): DataFrame = {
    val keyed = graft.CacheRegistry.register(
      lshKeyed(corpus, "vec_id", "vec_id", "embedding",
          numTables, bitsPerTable)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // score before dedup — the multi-table distinct then handles only
    // narrow (a, b, cos) rows instead of shuffling embedding payloads
    keyed.as("x").join(keyed.as("y"),
        col("x.t") === col("y.t") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        graft.functions.GraftFunctions.cosine(
          col("x.embedding"), col("y.embedding")).as("cos_raw"))
      .groupBy("vec_a", "vec_b").agg(max("cos_raw").as("cos_raw"))
      .withColumn("cos", round(col("cos_raw"), 4))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** DuckDB CTE replaying the deterministic 2-iteration k-means of
    * [[kmeansAssign]] (same seeded init, rounded distances with
    * centroid-id tiebreaks, exact decimal centroid means); `a2` is the
    * final (vec_id, cluster, dist2) assignment. Shared by the sim_kmeans
    * and dedup_semantic oracles so they can never drift apart. */
  private val kmeansOracleCte: String =
    """emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c0 AS (
      |  SELECT CAST(vec_id AS INTEGER) AS cid, v AS cen
      |  FROM emb WHERE vec_id < 8),
      |s1 AS (
      |  SELECT e.vec_id, e.v, c.cid,
      |    round(list_sum(list_transform(generate_series(1, 64),
      |      i -> (e.v[i] - c.cen[i]) * (e.v[i] - c.cen[i]))), 4) AS d
      |  FROM emb e, c0 c),
      |a1 AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT vec_id, v, cid, d,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
      |    FROM s1) WHERE rk = 1),
      |c1 AS (
      |  SELECT cid, list(m ORDER BY i) AS cen FROM (
      |    SELECT cid, i,
      |      round(CAST(SUM(CAST(v[i] AS DECIMAL(18,9))) AS DOUBLE)
      |        / COUNT(*), 6) AS m
      |    FROM a1, generate_series(1, 64) t(i) GROUP BY cid, i)
      |  GROUP BY cid),
      |s2 AS (
      |  SELECT e.vec_id, c.cid,
      |    round(list_sum(list_transform(generate_series(1, 64),
      |      i -> (e.v[i] - c.cen[i]) * (e.v[i] - c.cen[i]))), 4) AS d
      |  FROM emb e, c1 c),
      |a2 AS (
      |  SELECT vec_id, cid AS cluster, d AS dist2 FROM (
      |    SELECT vec_id, cid, d,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
      |    FROM s2) WHERE rk = 1)""".stripMargin

  /** Cross-query shared k-means(k=8, 2 iters) assignment over the
    * corpus embeddings — consumed by sim_kmeans AND dedup_semantic (the
    * SemDeDup cluster stage IS the clustering query; at 100 TB the
    * assignment is computed once and reused, not re-iterated per
    * consumer). Same memo convention as the dedup pair frame. */
  def corpusKmeans(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.sharedFrame(
      s"sim:kmeans:${graft.CacheRegistry.sessionToken(s)}:$d") {
      // assign against the SHARED trained centroids (below) — identical
      // arithmetic to kmeansAssign(emb, 8, 2), which is definitionally
      // assignTo(corpus, kmeansCentroids(emb, 8, 2))
      kmeansAssignTo(kmeansCorpus(Tables.embeddings(s, d)),
        corpusCentroids(s, d))
        .select(col("vec_id"), col("cluster"), col("dist2"))
        .orderBy("vec_id")
    }

  /** Cross-query shared trained coarse quantizer (k=8, 2 Lloyd iters)
    * over the corpus embeddings — the k-row centroid frame consumed by
    * corpusKmeans' assignment AND sim_ivf_pq's probe/list build (r15:
    * previously each consumer re-ran the training pipeline; the 100 TB
    * rule is "train the quantizer ONCE per corpus", the same reasoning
    * as the shared assignment itself). */
  def corpusCentroids(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.sharedFrame(
      s"sim:cents:${graft.CacheRegistry.sessionToken(s)}:$d") {
      kmeansCentroids(Tables.embeddings(s, d), k = 8, iters = 2)
    }

  /** Cross-query shared trained PQ codebook over the corpus embeddings,
    * in the ONE-ROW collapsed broadcast form the in-row encode/LUT
    * kernels consume (r16, the corpusCentroids convention): sim_pq_adc
    * and sim_ivf_pq each re-ran the 16-seed + one-Lloyd-step training
    * aggregate per call; at 100 TB the product quantizer is trained
    * ONCE per corpus and served from the index, so the trained one-row
    * frame is the shared artifact. Within-run reuse only (session+dir
    * keyed, released at JVM end) — identical arithmetic, so consumers'
    * results are bit-unchanged (oracle replays the full training SQL). */
  def corpusPqCodebookRow(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.sharedFrame(
      s"sim:pqcb:${graft.CacheRegistry.sessionToken(s)}:$d") {
      pqCodebookRow(pqCodebook(pqSub(Tables.embeddings(s, d))))
    }

  /** SemDeDup: cluster then within-cluster near-duplicate drop — keep
    * the smallest-id member of every cosine-≥-threshold pair. Returns
    * (vec_id, cluster, kept). `assignedOpt` lets callers supply an
    * existing (vec_id, cluster) assignment (the shared corpus one);
    * otherwise k-means runs here. */
  def semanticDedup(embDf: DataFrame, k: Int = 8, iters: Int = 2,
      threshold: Double = 0.3,
      assignedOpt: Option[DataFrame] = None): DataFrame = {
    // two consumers (pair join input and final keep flags) — persist so
    // the iterative k-means runs once
    val assigned = graft.CacheRegistry.register(
      assignedOpt.getOrElse(kmeansAssign(embDf, k, iters))
        .select("vec_id", "cluster")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cv = assigned
      .join(embDf.select(col("vec_id"), col("embedding")), "vec_id")
    val dropped = cv.as("x").join(cv.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(round(graft.functions.GraftFunctions.cosine(
        col("x.embedding"), col("y.embedding")), 4) >= threshold)
      .select(col("y.vec_id").as("vec_id")).distinct()
    assigned.join(dropped.withColumn("_drop", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
        col("_drop").isNull.cast("int").as("kept"))
      .orderBy("vec_id")
  }

  /** DuckDB CTE producing the exact rounded cosine of every
    * (query, corpus) pair for the 10 standard query vectors — shared by
    * the brute-force oracle and the ANN/IVF quality oracles. */
  private[operators] val bruteScoredCte: String =
    """q AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb
      |  FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    CASE WHEN list_sum(list_transform(e.embedding,
      |             x -> CAST(x AS DOUBLE) * x)) = 0
      |           OR list_sum(list_transform(q.q_emb,
      |             x -> CAST(x AS DOUBLE) * x)) = 0
      |         THEN 0.0
      |         ELSE round(list_cosine_similarity(
      |           CAST(e.embedding AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])), 4)
      |    END AS sim
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id)""".stripMargin

  /** Per-query quality summary for an approximate search result vs the
    * exact brute-force top-k: (query_id, best_sim, recall_ok). `best_sim`
    * (the true top-1 similarity) is oracle-replayable; `recall_ok` pins
    * recall@k ≥ `floor` as a checked output column, so the driver's
    * rows+schema+hash gate certifies retrieval QUALITY, not just shape.
    * The brute frame is persisted — it feeds both the hit join and the
    * best_sim aggregate, and is tiny (k rows/query). */
  private[operators] def searchQuality(brute: DataFrame, approx: DataFrame, k: Int,
      floor: Double): DataFrame = {
    val b = graft.CacheRegistry.register(
      brute.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val hits = b.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    b.groupBy("query_id").agg(max("sim").as("best_sim"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("best_sim"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k >= floor)
          .cast("int").as("recall_ok"))
      .orderBy("query_id")
  }

  /** Maximal-marginal-relevance diversified top-k: greedily pick the
    * candidate maximizing λ·relevance − (1−λ)·max-similarity-to-selected
    * — the standard diversified retrieval/sampling step for training-data
    * curation (don't feed the model k near-copies of the best hit).
    *
    * Scale shape: the DISTRIBUTED work is the relevance scan + bounded
    * top-`pool` (bruteForceTopK — corpus-sized, broadcast query); the
    * inherently sequential greedy loop then runs as k tiny Spark jobs
    * over the pool²-row pair frame (pool = 20 here; pool² = 400 rows at
    * ANY corpus size). Nothing is collected to the driver — each step is
    * an anti-join + max-aggregate + TakeOrdered(1).
    *
    * Determinism: relevances and pairwise sims are 4dp-rounded before
    * any comparison, every argmax carries a vec_id tiebreak, and the λ
    * blend uses the same double constants in both engines (0.3 is an
    * explicit literal — `1 − 0.7` in IEEE is 0.30000000000000004). */
  def mmrDiversify(emb: DataFrame, queryId: Long, pool: Int, k: Int)
      : DataFrame = {
    // localCheckpoint, not persist: the greedy chain references cand/p/
    // result many times per step, so the LOGICAL plan (with the corpus
    // scoring scan inside) would nest multiplicatively and Catalyst
    // re-analysis would dominate the runtime (measured 9 s at sf0.1 for
    // 400-row greedy work). Checkpointing cuts each to a LogicalRDD
    // leaf: the corpus is scored exactly once, the greedy tail is k
    // tiny jobs on constant-size plans.
    val cand = bruteForceTopK(emb, emb.filter(col("vec_id") === queryId), pool)
      .select(col("neighbor_id").as("vec_id"), col("sim").as("rel"))
      .join(emb.select("vec_id", "embedding"), "vec_id")
      .localCheckpoint()
    val p = cand.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(cand.select(col("vec_id").as("ib"), col("embedding").as("eb")),
        col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        round(graft.functions.GraftFunctions.cosine(col("ea"), col("eb")),
          4).as("s"))
      .localCheckpoint()
    var result = cand.orderBy(desc("rel"), col("vec_id")).limit(1)
      .select(col("vec_id"), col("rel").as("score"), lit(1).as("step"))
    for (i <- 2 to k) {
      // the running selection feeds THREE consumers per step (anti-
      // join, sim join, next union) — checkpoint each round or the
      // greedy chain re-analyzes all earlier steps multiplicatively
      result = result.localCheckpoint()
      val selIds = result.select("vec_id")
      val step = cand.join(selIds, Seq("vec_id"), "left_anti")
        .join(p, col("vec_id") === col("ia"))
        .join(selIds.withColumnRenamed("vec_id", "sid"),
          col("ib") === col("sid"))
        .groupBy(col("vec_id"), col("rel"))
        .agg(max("s").as("ms"))
        .select(col("vec_id"),
          round(lit(0.7) * col("rel") - lit(0.3) * col("ms"), 4).as("score"),
          lit(i).as("step"))
        .orderBy(desc("score"), col("vec_id")).limit(1)
      result = result.unionByName(step)
    }
    result.select("step", "vec_id", "score").orderBy("step")
  }

  /** Greedy k-center coreset (farthest-point sampling) over the
    * embedding corpus: start from a deterministic seed, then k−1 times
    * add the vector FARTHEST (max over candidates of min cosine
    * distance) from everything selected so far — the classic diversity
    * coreset for training-data selection (2-approximation of the
    * optimal k-center cover; picks one vector per region of the space
    * instead of k near-copies).
    *
    * Scale shape: this is exactly how distributed farthest-point
    * sampling runs at 100 TB — each round is ONE corpus pass: the
    * selected set (≤ k rows, with embeddings) broadcasts, every
    * candidate computes its min-distance-to-selected in a narrow
    * projection, and the argmax is a TakeOrdered(1). k rounds ⇒ k
    * passes; nothing is ever collected to the driver.
    *
    * Determinism: cosines are 4dp-rounded (the mmrDiversify contract),
    * distances re-rounded after 1−s, every argmax carries a vec_id
    * tiebreak; localCheckpoint per round cuts the plan-nesting blowup
    * (the graph_kcore lesson). */
  def kcenterCoreset(emb: DataFrame, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding")).localCheckpoint()
    // `result` CARRIES the selected embeddings (the argmax row keeps its
    // vector), so each round broadcasts the <=k-row selection directly —
    // never a corpus join to re-fetch vectors. Both per-round joins are
    // explicitly broadcast: the checkpointed frames have no stats, and
    // without the hints Spark would plan corpus-shuffling SMJs.
    var result = e.filter(col("vec_id") === 0L)
      .select(col("vec_id"), col("embedding"),
        lit(0.0).as("dist"), lit(1).as("step"))
    for (i <- 2 to k) {
      result = result.localCheckpoint()
      val step = e
        .join(broadcast(result.select(col("vec_id").as("sid"))),
          col("vec_id") === col("sid"), "left_anti")
        .crossJoin(broadcast(result.select(col("embedding").as("se"))))
        .select(col("vec_id"), col("embedding"),
          round(lit(1.0) - round(graft.functions.GraftFunctions.cosine(
            col("embedding"), col("se")), 4), 4).as("dc"))
        .groupBy("vec_id")
        .agg(min("dc").as("dist"),
          // constant per key (the group IS one vector) — kept through
          // the aggregate so the winner's embedding rides into `result`
          first("embedding").as("embedding"))
        .orderBy(desc("dist"), col("vec_id")).limit(1)
        .select(col("vec_id"), col("embedding"), col("dist"),
          lit(i).as("step"))
      result = result.unionByName(step)
    }
    result.select("step", "vec_id", "dist").orderBy("step")
  }

  /** Matrix-free power iteration for the TOP PRINCIPAL DIRECTION of the
    * (uncentered) embedding second-moment matrix: v ← normalize(Eᵀ(E v)),
    * `iters` rounds from the uniform seed — the whitening/drift-analysis
    * primitive (is the space collapsing onto one direction?) that never
    * materializes the d×d covariance.
    *
    * Scale shape: each round is the canonical distributed mat-vec pair —
    * (1) dotᵢ = eᵢ·v via the exploded (vec_id, dim, comp) frame joined
    * to the BROADCAST 64-row v frame, partial-aggregated per vec_id;
    * (2) w_d = Σᵢ comp·dotᵢ, a dim-keyed aggregate that map-side
    * combines to ≤ d partial rows per partition regardless of corpus
    * size. The iterate v never touches the driver — it stays a 64-row
    * frame, re-broadcast each round.
    *
    * Determinism: both mat-vecs sum EXACT DECIMALS of 8dp-rounded
    * products (order-independent — a float Σ over a shuffled corpus is
    * not reproducible), dots re-round at 6dp, and the normalized
    * components at 6dp; the norm is one sqrt over an exact decimal sum
    * of 8dp-rounded squares. All decimal→double casts stay ≤ 12
    * significant digits at gate scale. */
  def pcaPowerIteration(emb: DataFrame, iters: Int): DataFrame = {
    val ed = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "compf")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"),
        col("compf").cast("double").as("comp"))
      .localCheckpoint()
    val dims = ed.select("dim").distinct()
    var v = dims.select(col("dim"), lit(0.125).as("val"))
    for (_ <- 1 to iters) {
      val dots = ed.join(broadcast(v), "dim")
        .groupBy("vec_id")
        .agg(round(sum(round(col("comp") * col("val"), 8)
          .cast("decimal(28,8)")).cast("double"), 6).as("dot"))
      val w = ed.join(dots, "vec_id")
        .groupBy("dim")
        .agg(sum(round(col("comp") * col("dot"), 8).cast("decimal(28,8)"))
          .as("wraw"))
      val nrm = w.agg(sqrt(sum(round(col("wraw").cast("double")
          * col("wraw").cast("double"), 8).cast("decimal(38,8)"))
        .cast("double")).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("dim"),
          round(col("wraw").cast("double") / col("nrm"), 6).as("val"))
        .localCheckpoint()
    }
    v.select(col("dim"), col("val").as("loading")).orderBy("dim")
  }

  /** DuckDB rendering of [[pcaPowerIteration]]: iterations exactly
    * unrolled, same 8dp-product decimal sums / 6dp rounds. */
  private def pcaOracleSql(dim: Int, iters: Int): String = {
    val its = (1 to iters).map { i =>
      val pv = if (i == 1) "v0" else s"v${i - 1}"
      s"""dots$i AS (
         |  SELECT vec_id, round(CAST(SUM(CAST(round(comp * val, 8)
         |    AS DECIMAL(28,8))) AS DOUBLE), 6) AS dot
         |  FROM ed JOIN $pv USING (dim) GROUP BY vec_id),
         |w$i AS (
         |  SELECT dim, SUM(CAST(round(comp * dot, 8) AS DECIMAL(28,8)))
         |    AS wraw
         |  FROM ed JOIN dots$i USING (vec_id) GROUP BY dim),
         |n$i AS (
         |  SELECT sqrt(CAST(SUM(CAST(round(CAST(wraw AS DOUBLE)
         |    * CAST(wraw AS DOUBLE), 8) AS DECIMAL(38,8))) AS DOUBLE))
         |    AS nrm
         |  FROM w$i),
         |v$i AS (SELECT dim, round(CAST(wraw AS DOUBLE) / nrm, 6) AS val
         |        FROM w$i, n$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (
       |  SELECT vec_id, d.dim,
       |    CAST(embedding[d.dim] AS DOUBLE) AS comp
       |  FROM embeddings, (SELECT unnest(range(1, ${dim + 1})) AS dim) d),
       |v0 AS (SELECT unnest(range(1, ${dim + 1})) AS dim,
       |       CAST(0.125 AS DOUBLE) AS val),
       |$its
       |SELECT dim, val AS loading FROM v$iters ORDER BY dim""".stripMargin
  }

  /** DuckDB rendering of [[kcenterCoreset]]: greedy rounds exactly
    * unrolled (the mmrOracleSql convention), same 4dp rounds and
    * vec_id tiebreaks. */
  private def kcenterOracleSql(k: Int): String = {
    def cos(a: String, b: String) =
      s"""CASE WHEN list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * x)) = 0
         |           OR list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * x)) = 0
         |         THEN 0.0
         |         ELSE round(list_cosine_similarity(
         |           CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])), 4)
         |    END""".stripMargin
    val steps = (2 to k).map { i =>
      s"""s$i AS (
         |  SELECT e.vec_id,
         |    min(round(1 - ${cos("e.embedding", "se.embedding")}, 4))
         |      AS dist, $i AS step
         |  FROM e, e se
         |  WHERE se.vec_id IN (SELECT vec_id FROM sel${i - 1})
         |    AND e.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  GROUP BY e.vec_id ORDER BY dist DESC, e.vec_id LIMIT 1),
         |sel$i AS (SELECT vec_id FROM sel${i - 1}
         |          UNION ALL SELECT vec_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |s1 AS (SELECT vec_id, CAST(0.0 AS DOUBLE) AS dist, 1 AS step
       |       FROM e WHERE vec_id = 0),
       |sel1 AS (SELECT vec_id FROM s1),
       |$steps
       |SELECT step, vec_id, dist FROM (
       |  ${(1 to k).map(i => s"SELECT * FROM s$i")
          .mkString("\n  UNION ALL ")})
       |ORDER BY step""".stripMargin
  }

  /** DuckDB rendering of [[mmrDiversify]] (query 0, pool 20, k 5):
    * greedy steps exactly unrolled, same 4dp rounds and tiebreaks. */
  private def mmrOracleSql(pool: Int, k: Int): String = {
    def cos(a: String, b: String) =
      s"""CASE WHEN list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * x)) = 0
         |           OR list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * x)) = 0
         |         THEN 0.0
         |         ELSE round(list_cosine_similarity(
         |           CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])), 4)
         |    END""".stripMargin
    val steps = (2 to k).map { i =>
      s"""s$i AS (
         |  SELECT c.vec_id,
         |    round(CAST(0.7 AS DOUBLE) * c.rel
         |      - CAST(0.3 AS DOUBLE) * max(p.s), 4) AS score, $i AS step
         |  FROM cand c JOIN p ON p.ia = c.vec_id
         |  JOIN sel${i - 1} sl ON p.ib = sl.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  GROUP BY c.vec_id, c.rel ORDER BY score DESC, c.vec_id LIMIT 1),
         |sel$i AS (SELECT vec_id FROM sel${i - 1}
         |          UNION ALL SELECT vec_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |scored AS (
       |  SELECT e.vec_id, ${cos("e.embedding", "qv.qe")} AS rel
       |  FROM embeddings e, qv WHERE e.vec_id <> 0),
       |cand AS (SELECT vec_id, rel FROM scored
       |         ORDER BY rel DESC, vec_id LIMIT $pool),
       |ce AS (SELECT c.vec_id, c.rel, e.embedding
       |       FROM cand c JOIN embeddings e USING (vec_id)),
       |p AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    ${cos("a.embedding", "b.embedding")} AS s
       |  FROM ce a JOIN ce b ON a.vec_id <> b.vec_id),
       |s1 AS (SELECT vec_id, rel AS score, 1 AS step FROM cand
       |       ORDER BY rel DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id FROM s1),
       |$steps
       |SELECT step, vec_id, score FROM (
       |  ${(1 to k).map(i => s"SELECT * FROM s$i")
          .mkString("\n  UNION ALL ")})
       |ORDER BY step""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    // MMR diversified top-5 over the embedding corpus (query vector 0,
    // candidate pool 20). See [[mmrDiversify]] for the scale/determinism
    // contract; the oracle unrolls all five greedy steps.
    QueryDef.sql("sim_mmr_diversify", mmrOracleSql(pool = 20, k = 5)) {
      (s, d) =>
        mmrDiversify(Tables.embeddings(s, d), queryId = 0L, pool = 20, k = 5)
    },

    // Greedy k-center coreset, k = 6, seeded at vec_id 0. See
    // [[kcenterCoreset]] for the scale/determinism contract; the
    // oracle unrolls all five farthest-point rounds.
    QueryDef.sql("sim_kcenter_coreset", kcenterOracleSql(k = 6)) {
      (s, d) => kcenterCoreset(Tables.embeddings(s, d), k = 6)
    },

    // Top principal direction via 3 matrix-free power-iteration rounds.
    // See [[pcaPowerIteration]]; the oracle unrolls all three mat-vec
    // pairs over the exploded (vec_id, dim, comp) frame.
    QueryDef.sql("sim_pca_power", pcaOracleSql(dim = 64, iters = 3)) {
      (s, d) => pcaPowerIteration(Tables.embeddings(s, d), iters = 3)
    },

    // Embedding-space health check: the distribution of pairwise cosines
    // on a DETERMINISTIC 100-vector sample (md5 order — the
    // stratifiedSample convention), bucketed into 0.1-wide bins. A
    // collapsed or anisotropic embedding space shows up here before any
    // ANN index is built. The 100×99/2 pair frame is constant-size at
    // any corpus scale; the sample selection is the only corpus pass.
    QueryDef.sql(
      "sim_cosine_histogram",
      """WITH samp AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100),
        |p AS (
        |  SELECT CASE
        |      WHEN list_sum(list_transform(a.embedding,
        |             x -> CAST(x AS DOUBLE) * x)) = 0
        |        OR list_sum(list_transform(b.embedding,
        |             x -> CAST(x AS DOUBLE) * x)) = 0 THEN 0.0
        |      ELSE round(list_cosine_similarity(
        |        CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])), 4)
        |    END AS sim
        |  FROM samp a JOIN samp b ON a.vec_id < b.vec_id)
        |SELECT CAST(greatest(least(CAST(floor(sim * 10) AS BIGINT), 9),
        |    -10) AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CAST(sim AS DECIMAL(10,4))) AS DOUBLE) AS sum_sim
        |FROM p GROUP BY 1 ORDER BY bin""".stripMargin) { (s, d) =>
      // orderBy+limit compiles to TakeOrdered (per-partition top-k +
      // merge) — an unpartitioned row_number window would single-
      // partition-sort the whole corpus just to take 100 rows
      val samp = Tables.embeddings(s, d)
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(100)
        .select(col("vec_id"), col("embedding"))
      val p = samp.select(col("vec_id").as("ia"), col("embedding").as("ea"))
        .join(samp.select(col("vec_id").as("ib"), col("embedding").as("eb")),
          col("ia") < col("ib"))
        .select(round(graft.functions.GraftFunctions.cosine(
          col("ea"), col("eb")), 4).as("sim"))
      p.groupBy(greatest(least(floor(col("sim") * 10).cast("bigint"),
          lit(9L)), lit(-10L)).cast("bigint").as("bin"))
        // sum (an exact scale-4 decimal, bit-exact as a double), NOT
        // mean: mean-of-k 4dp values lands on exact half-ties at the
        // 4dp round boundary, where engines' double-rounding diverges
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("sim").cast("decimal(10,4)")).cast("double").as("sum_sim"))
        .orderBy("bin")
    },

    // Exact per-vector L2 norm, computed through DECIMAL so the sum of
    // squares is order-independent and matches DuckDB exactly.
    QueryDef.sql(
      "sim_vector_norm",
      """SELECT vec_id, round(sqrt(CAST(SUM(
        |    CAST(x AS DECIMAL(12,8)) * CAST(x AS DECIMAL(12,8))
        |  ) AS DOUBLE)), 4) AS l2_norm
        |FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
      // Products are DECIMAL(25,16), exactly representable in the
      // DECIMAL(32,16) accumulator — the fold is exact, order-free.
      Tables.embeddings(s, d).select(
        col("vec_id"),
        round(sqrt(
          aggregate(col("embedding"), lit(BigDecimal(0)).cast("decimal(32,16)"),
            (acc, x) => (acc + x.cast("decimal(12,8)") * x.cast("decimal(12,8)"))
              .cast("decimal(32,16)"))
            .cast("double")), 4).as("l2_norm"))
        .orderBy("vec_id")
    },

    // Brute-force exact top-5 cosine neighbors for 10 query vectors —
    // fully oracle-checked: both engines rank on the 4-decimal-rounded
    // cosine with an id tiebreak, so selection can't flip on float ulps
    // (SimilaritySpec additionally checks against an independent
    // driver-side computation).
    QueryDef.sql(
      "sim_topk_brute",
      s"""WITH $bruteScoredCte
        |SELECT query_id, vec_id AS neighbor_id, sim, CAST(rk AS INTEGER) AS rk
        |FROM (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, vec_id) AS rk
        |  FROM scored)
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rk")
    },

    // ------------------------------------------------------------------
    // Matryoshka truncation eval: recall@5 of dimension-truncated
    // embeddings (16- and 32-dim prefixes of the 64) against the
    // full-dimension truth ranking — the ship/don't-ship readout for
    // embedding compression (MRL-trained embeddings front-load
    // information so prefixes serve cheaply; embeddings without that
    // structure don't, and THIS eval is what tells you which you have).
    // On these isotropic synthetic vectors the correct answer is "don't
    // truncate" (measured mean recall .08–.28 across SFs — far above
    // the k/N≈.001 chance floor, far below serving quality), and the
    // gate certifies the METRIC exactly — the q_ndcg convention, not a
    // quality floor. All three rankings share the topKSelect contract
    // (4dp-rounded cosine, smaller-id tiebreak) so the oracle replays
    // them verbatim. SCALE: three bounded TopKAggregator corpus scans
    // (no corpus×queries frame ever materializes; the truncated scans
    // read the same rows but do 4×/2× less kernel work — at serving
    // scale the prefix columns would be stored separately and the scan
    // itself shrinks); everything downstream is ≤ k·|queries| rows.
    QueryDef.sql(
      "sim_matryoshka_recall", {
        def normZero(e: String, n: String) =
          s"list_sum(list_transform($e$n, x -> CAST(x AS DOUBLE) * x)) = 0"
        def simAt(n: String, alias: String) =
          s"""CASE WHEN ${normZero("e.embedding", n)}
             |           OR ${normZero("q.q_emb", n)} THEN 0.0
             |      ELSE round(list_cosine_similarity(
             |        CAST(e.embedding$n AS DOUBLE[]),
             |        CAST(q.q_emb$n AS DOUBLE[])), 4) END AS $alias""".stripMargin
        def rank(src: String, simCol: String) =
          s"""SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, row_number() OVER (
             |      PARTITION BY query_id ORDER BY $simCol DESC, vec_id) AS rn
             |    FROM $src) WHERE rn <= 5""".stripMargin
        s"""WITH q AS (
          |  SELECT vec_id AS query_id, embedding AS q_emb
          |  FROM embeddings WHERE vec_id < 10),
          |sc AS MATERIALIZED (
          |  SELECT q.query_id, e.vec_id,
          |    ${simAt("", "s64")},
          |    ${simAt("[1:16]", "s16")},
          |    ${simAt("[1:32]", "s32")}
          |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
          |base AS (SELECT query_id, max(s64) AS best_sim
          |         FROM sc GROUP BY query_id),
          |t64 AS (${rank("sc", "s64")}),
          |t16 AS (${rank("sc", "s16")}),
          |t32 AS (${rank("sc", "s32")}),
          |h16 AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS h
          |        FROM t64 JOIN t16 USING (query_id, vec_id)
          |        GROUP BY query_id),
          |h32 AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS h
          |        FROM t64 JOIN t32 USING (query_id, vec_id)
          |        GROUP BY query_id),
          |perq AS (
          |  SELECT b.query_id, b.best_sim,
          |    coalesce(h16.h, 0) AS h16, coalesce(h32.h, 0) AS h32
          |  FROM base b
          |  LEFT JOIN h16 ON h16.query_id = b.query_id
          |  LEFT JOIN h32 ON h32.query_id = b.query_id),
          |tot AS (
          |  SELECT round(CAST(SUM(h16) AS DOUBLE) / (COUNT(*) * 5), 4)
          |      AS mean_recall16,
          |    round(CAST(SUM(h32) AS DOUBLE) / (COUNT(*) * 5), 4)
          |      AS mean_recall32
          |  FROM perq)
          |SELECT query_id, best_sim,
          |  round(CAST(h16 AS DOUBLE) / 5, 4) AS recall16,
          |  round(CAST(h32 AS DOUBLE) / 5, 4) AS recall32,
          |  mean_recall16, mean_recall32
          |FROM perq, tot ORDER BY query_id""".stripMargin
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 10)
      def trunc(df: DataFrame, n: Int): DataFrame =
        df.select(col("vec_id"), slice(col("embedding"), 1, n).as("embedding"))
      val t64 = graft.CacheRegistry.ensurePersisted(
        bruteForceTopK(emb, qs, k = 5)
          .select("query_id", "neighbor_id", "sim"))
      def hitsAt(n: Int): DataFrame =
        t64.select("query_id", "neighbor_id")
          .join(bruteForceTopK(trunc(emb, n), trunc(qs, n), k = 5)
            .select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as(s"h$n"))
      val perq = graft.CacheRegistry.ensurePersisted(
        t64.groupBy("query_id").agg(max("sim").as("best_sim"))
          .join(hitsAt(16), Seq("query_id"), "left")
          .join(hitsAt(32), Seq("query_id"), "left")
          .select(col("query_id"), col("best_sim"),
            coalesce(col("h16"), lit(0L)).as("h16"),
            coalesce(col("h32"), lit(0L)).as("h32")))
      val tot = perq.agg(
        round(sum("h16").cast("double") / (count(lit(1)) * 5), 4)
          .as("mean_recall16"),
        round(sum("h32").cast("double") / (count(lit(1)) * 5), 4)
          .as("mean_recall32"))
      perq.crossJoin(broadcast(tot))
        .select(col("query_id"), col("best_sim"),
          round(col("h16").cast("double") / 5, 4).as("recall16"),
          round(col("h32").cast("double") / 5, 4).as("recall32"),
          col("mean_recall16"), col("mean_recall32"))
        .orderBy("query_id")
    },

    // LSH-bucketed ANN top-5 for the same queries (the 100 TB path).
    // Output is the per-query quality summary: the true top-1 similarity
    // (oracle recomputes it exactly) plus recall@5 ≥ floor as a checked
    // column — the hash gate certifies retrieval quality. Floor 0.2 =
    // "every query finds at least one true top-5 neighbor": on these
    // near-isotropic gaussians (LSH's hardest case; see annTopK note)
    // measured per-query recall is 0.2–1.0 with mean ≈ 0.6, and a broken
    // bucket join or signature kernel drops it to ~0.
    QueryDef.sql(
      "sim_topk_ann",
      s"""WITH $bruteScoredCte
        |SELECT query_id, max(sim) AS best_sim, 1 AS recall_ok
        |FROM scored GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 10)
      searchQuality(bruteForceTopK(emb, qs, k = 5), annTopK(emb, qs, k = 5),
        k = 5, floor = 0.2)
    },

    // IVF ANN top-5 (probe-limited exact search — the second scale path).
    // Same quality-summary pinning as sim_topk_ann.
    QueryDef.sql(
      "sim_topk_ivf",
      s"""WITH $bruteScoredCte
        |SELECT query_id, max(sim) AS best_sim, 1 AS recall_ok
        |FROM scored GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 10)
      searchQuality(bruteForceTopK(emb, qs, k = 5),
        ivfTopK(emb, qs, k = 5, numCells = 32, nprobe = 8),
        k = 5, floor = 0.2)
    },

    // FILTERED vector search (r15) — the production retrieval shape
    // plain top-k never covers: each query returns neighbors ONLY among
    // vectors satisfying a metadata predicate (here: same label — the
    // tenant/category-scoped case). Truth = label-scoped brute force
    // (the oracle replays it exactly, including per-label eligibility
    // counts). Scale path = IVF with the predicate PUSHED INTO the
    // index scan (pre-filter): candidates are probed-cell ∩ label, so
    // recall degrades only with cell coverage, never with predicate
    // selectivity — post-filtering an unfiltered top-k would need
    // k/selectivity oversampling and still miss at high selectivity.
    // recall_ok pins recall@5 ≥ 0.2 vs the filtered truth in-plan.
    // SCALE: the label column rides in the cell-partitioned index, so
    // at 100 TB the serve reads probed cells and filters at scan time;
    // eligibility counts are one map-side-combined |labels|-row agg.
    QueryDef.sql(
      "sim_filtered_ann",
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, q.q_label, e.vec_id,
        |    CASE WHEN list_sum(list_transform(e.embedding,
        |             x -> CAST(x AS DOUBLE) * x)) = 0
        |           OR list_sum(list_transform(q.q_emb,
        |             x -> CAST(x AS DOUBLE) * x)) = 0
        |         THEN 0.0
        |         ELSE round(list_cosine_similarity(
        |           CAST(e.embedding AS DOUBLE[]),
        |           CAST(q.q_emb AS DOUBLE[])), 4)
        |    END AS sim
        |  FROM embeddings e, q
        |  WHERE e.vec_id <> q.query_id AND e.label = q.q_label)
        |SELECT query_id, q_label, CAST(COUNT(*) AS BIGINT) AS n_eligible,
        |  max(sim) AS best_sim, 1 AS recall_ok
        |FROM scored GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 10)
      val q = broadcast(qs.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("label").as("q_label")))
      // exact label-scoped truth
      val truth = ensureParallel(emb)
        .join(q, col("vec_id") =!= col("query_id") &&
          col("label") === col("q_label"))
        .select(col("query_id"), col("vec_id"),
          graft.functions.GraftFunctions
            .cosine(col("embedding"), col("q_emb")).as("sim"))
        .transform(topKSelect(_, 5))
      // pre-filtered IVF serve: label rides in the index; the predicate
      // applies at scan time, before any scoring
      val index = ivfAssignments(emb, numCells = 32, dim = 64)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      val queryProbes = qs.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("label").as("q_label"),
        explode(transform(
          slice(reverse(array_sort(
            ivfCellScores(col("embedding"), 32, 64))), 1, 8),
          p => p.getField("i"))).as("cell"))
      val served = broadcast(queryProbes)
        .join(index, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id") &&
          col("label") === col("q_label"))
        .select(col("query_id"), col("vec_id"),
          graft.functions.GraftFunctions
            .cosine(col("embedding"), col("q_emb")).as("sim"))
        .transform(topKSelect(_, 5))
      val elig = emb.groupBy(col("label").as("q_label"))
        .agg(count(lit(1)).as("n_label"))
      qs.select(col("vec_id").as("query_id"), col("label").as("q_label"))
        .join(elig, "q_label")
        .join(searchQuality(truth, served, k = 5, floor = 0.2), "query_id")
        .select(col("query_id"), col("q_label"),
          (col("n_label") - 1).as("n_eligible"), col("best_sim"),
          col("recall_ok"))
        .orderBy("query_id")
    },

    // IVF with a PERSISTED index — the production amortization shape
    // the build-cost notes on sim_ivf_pq/sim_topk_ivf keep invoking,
    // here actually certified: build once → write the (vec_id,
    // embedding, cell) index PARTITIONED BY CELL → serve queries from
    // the files. The serve join keys on the PARTITION column with the
    // tiny probe side broadcast, so the scan prunes to the probed cell
    // directories (the 100 TB serve plan reads ~|corpus|·nprobe/cells
    // bytes, not the corpus). Output = sim_topk_ivf's per-query quality
    // summary PLUS parity_ok: the served top-k must equal the in-memory
    // build-and-search EXACTLY (float arrays round-trip parquet
    // bit-exactly; both mismatch legs are k·|queries|-bounded frames),
    // certifying the persisted artifact is self-contained — no hidden
    // driver/session state survives the write/read boundary.
    QueryDef.sql(
      "sim_ivf_prebuilt",
      s"""WITH $bruteScoredCte
        |SELECT query_id, max(sim) AS best_sim, 1 AS recall_ok,
        |  1 AS parity_ok
        |FROM scored GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 10)
      // index build is ONCE PER (JVM, corpus content) — the
      // ConnectorQueries server-cache precedent: repeated executions
      // (bench repeats, sweeps) reuse the identical deterministic
      // artifact instead of leaking one full corpus copy to /tmp per
      // run. The key is a content FINGERPRINT (paths+mtime+size), so
      // regenerated data under the same sfDir rebuilds instead of
      // serving a stale index, and the staged dir is deleted on JVM
      // exit (r13 ADVICE). The in-memory parity leg below still
      // rebuilds every run, so parity_ok keeps certifying
      // build-vs-serve equality, not cache-vs-cache.
      val idxDir = prebuiltIvfDirs.getOrElseUpdate(
        corpusFingerprint(d, "embeddings"), {
        val dir = tempDirCleanedOnExit("graft-ivf-idx") + "/index"
        ivfAssignments(emb, numCells = 32, dim = 64)
          .write.partitionBy("cell").mode("overwrite").parquet(dir)
        dir
      })
      val served = graft.CacheRegistry.ensurePersisted(
        ivfServe(s.read.parquet(idxDir), qs,
          k = 5, numCells = 32, nprobe = 8, dim = 64))
      val mem = ivfTopK(emb, qs, k = 5, numCells = 32, nprobe = 8)
      val mismatch = served.exceptAll(mem).unionAll(mem.exceptAll(served))
        .agg(count(lit(1)).as("nm"))
      searchQuality(bruteForceTopK(emb, qs, k = 5), served,
          k = 5, floor = 0.2)
        .crossJoin(broadcast(mismatch))
        .select(col("query_id"), col("best_sim"), col("recall_ok"),
          (col("nm") === 0L).cast("int").as("parity_ok"))
        .orderBy("query_id")
    },

    // 1-BIT binary-quantized retrieval (the modern "binary quantization"
    // memory lever): every vector collapses to its 64 sign bits packed
    // into two overflow-safe 32-bit words (bit 63 as 2^63 would overflow
    // BIGINT under ANSI — two half-words keep every packing sum exact in
    // both engines), candidates come from Hamming distance on the sketch
    // (two XOR+POPCNT per pair instead of a 64-float dot — the corpus
    // scan reads 16 B/vector instead of 256 B, the 16× bandwidth win
    // that makes billion-vector first-pass scans feasible), and the
    // top-`pool` Hamming candidates are reranked by exact cosine.
    // Hamming→angle is monotone in expectation on sign sketches, so a
    // pool of 4k recovers most of the true top-k. Same quality-summary
    // pinning as sim_topk_ann; floor 0.2 (measured ≈0.7 mean recall at
    // sf0.01 — sign sketches are far better than LSH buckets on these
    // isotropic gaussians because they rank ALL candidates instead of
    // thresholding bucket collisions). SCALE: candidate generation is
    // corpus × broadcast-probes with a bounded TopKAggregator (k·|q|
    // rows past the shuffle); rerank touches pool·|q| vectors only.
    QueryDef.sql(
      "sim_binary_quantize",
      s"""WITH $bruteScoredCte
        |SELECT query_id, max(sim) AS best_sim, 1 AS recall_ok
        |FROM scored GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 10)
      searchQuality(bruteForceTopK(emb, qs, k = 5),
        binaryQuantTopK(emb, qs, k = 5, pool = 20), k = 5, floor = 0.2)
    },

    // IVF nprobe RECALL SWEEP — the tuning curve every ANN deployment
    // reads before fixing its latency/recall point: recall@5 hits at
    // nprobe ∈ {1,2,4,8} against the exact brute-force truth, over ONE
    // shared cell-assignment index (built once, persisted; each probe
    // level is a serve pass — the production measurement shape). The
    // gate pins two engine-independent certs: mono_ok (hits are
    // non-decreasing in nprobe — a THEOREM for exact-rerank candidate
    // supersets with a deterministic tiebreak, so any violation means a
    // broken probe-pruning join) and floor_ok (nprobe=8 mean recall ≥
    // 0.2, the sim_topk_ivf floor). SCALE: 4 bounded serve passes; the
    // sweep frame is 4 rows at any corpus size (its global window is
    // domain-bounded by the probe grid).
    QueryDef.sql(
      "sim_ivf_recall_sweep",
      """WITH q AS (SELECT vec_id FROM embeddings WHERE vec_id < 10),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_q FROM q)
        |SELECT p.nprobe, n.n_q, 1 AS mono_ok, 1 AS floor_ok
        |FROM (VALUES (1), (2), (4), (8)) p(nprobe), n
        |ORDER BY nprobe""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 10)
      val brute = graft.CacheRegistry.ensurePersisted(
        bruteForceTopK(emb, qs, k = 5).select("query_id", "neighbor_id"))
      val idx = graft.CacheRegistry.ensurePersisted(
        ivfAssignments(emb, numCells = 32, dim = 64))
      val nqf = qs.agg(count(lit(1)).as("n_q"))
      def hitsAt(np: Int): DataFrame = brute
        .join(ivfServe(idx, qs, k = 5, numCells = 32, nprobe = np, dim = 64)
            .select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("h"))
        .select(lit(np).as("nprobe"), col("h"))
      val sweep = Seq(1, 2, 4, 8).map(hitsAt).reduce(_ unionByName _)
      val w = org.apache.spark.sql.expressions.Window.orderBy("nprobe")
      val wAll = org.apache.spark.sql.expressions.Window.orderBy("nprobe")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      sweep.crossJoin(broadcast(nqf))
        .withColumn("hprev", lag("h", 1).over(w))
        .withColumn("mono",
          (col("hprev").isNull || col("h") >= col("hprev")).cast("int"))
        .select(col("nprobe"), col("n_q"),
          min("mono").over(wAll).as("mono_ok"),
          when(col("nprobe") === 8,
              (col("h").cast("double") / (col("n_q") * 5) >= 0.2).cast("int"))
            .otherwise(lit(1)).as("floor_ok"))
        .orderBy("nprobe")
    },

    // Int8 scalar-quantized top-5 (the 4×-smaller corpus-scan path).
    // Quantization barely perturbs ranking on these vectors, so the
    // recall floor is strict (0.8 = at least 4 of the true top-5 per
    // query); same quality-summary pinning as sim_topk_ann.
    QueryDef.sql(
      "sim_sq8_topk",
      s"""WITH $bruteScoredCte
        |SELECT query_id, max(sim) AS best_sim, 1 AS recall_ok
        |FROM scored GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 10)
      searchQuality(bruteForceTopK(emb, qs, k = 5), sq8TopK(emb, qs, k = 5),
        k = 5, floor = 0.8)
    },

    // Embedding-cosine near-dup pairs over LSH buckets. Pinned to a
    // checkable quality summary: ground truth is the exact pair set with
    // one end in a 50-vector sample (a broadcast-sized slice the oracle
    // replays all-pairs at gate scale and Spark computes as sample ×
    // corpus — still never a full cross product), and the output asserts
    // LSH recall on that truth set ≥ floor. Every emitted LSH pair
    // already carries the exact rounded cosine (precision = 1 by
    // construction); SimilaritySpec additionally checks the raw pairs.
    QueryDef.sql(
      "dedup_embedding_cosine",
      """WITH t AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    CASE WHEN list_sum(list_transform(a.embedding,
        |             x -> CAST(x AS DOUBLE) * x)) = 0
        |           OR list_sum(list_transform(b.embedding,
        |             x -> CAST(x AS DOUBLE) * x)) = 0
        |         THEN 0.0
        |         ELSE round(list_cosine_similarity(
        |           CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4)
        |    END AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id < 50 AND a.vec_id < b.vec_id)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
        |  CAST(COUNT(*) AS BIGINT) AS n_true_sample,
        |  1 AS recall_ok
        |FROM t WHERE cos >= 0.3""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val found = cosinePairs(emb, threshold = 0.3).select("vec_a", "vec_b")
      val sample = broadcast(emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")))
      val truth = emb
        .select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
        .join(sample, col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(graft.functions.GraftFunctions.cosine(
            col("emb_a"), col("emb_b")), 4).as("cos"))
        .filter(col("cos") >= 0.3)
      val stats = truth
        .join(found.withColumn("f", lit(1)), Seq("vec_a", "vec_b"), "left")
        .agg(count(lit(1)).as("n_true_sample"),
          sum(coalesce(col("f"), lit(0))).as("n_hits"))
      emb.agg(count(lit(1)).as("n_vecs")).crossJoin(stats)
        .select(col("n_vecs"), col("n_true_sample"),
          when(col("n_true_sample") === 0, lit(1))
            // floor 0.4 with measured sample recall ≈ 0.58–0.61
            .otherwise((col("n_hits").cast("double") / col("n_true_sample")
              >= 0.4).cast("int")).as("recall_ok"))
    },

    // Int8 quantization of embeddings (symmetric max-abs scaling) — the
    // memory/bandwidth lever for billion-vector ANN (4× smaller than
    // f32). One narrow projection; floor(x+0.5) rounding is pinned
    // identically in both engines (round() tie rules differ). The
    // scalar digest (scale + L1 of the quantized vector) makes the
    // whole quantized array oracle-checkable.
    QueryDef.sql(
      "q_quantize_embeddings",
      """SELECT vec_id,
        |  round(maxabs / 127.0, 6) AS scale,
        |  CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(list_sum(list_transform(embedding,
        |         x -> abs(CAST(floor(x / maxabs * 127.0 + 0.5) AS BIGINT))))
        |         AS BIGINT) END AS l1_q
        |FROM (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |      AS maxabs
        |  FROM embeddings)
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      // all-zero vectors (padding / failed encodes) quantize to zeros:
      // dividing by maxabs = 0 would be NaN in Spark and a cast error in
      // DuckDB — guard explicitly on both sides
      Tables.embeddings(s, d)
        .withColumn("maxabs",
          array_max(transform(col("embedding"), x => abs(x.cast("double")))))
        .select(
          col("vec_id"),
          round(col("maxabs") / 127.0, 6).as("scale"),
          when(col("maxabs") === 0, lit(0L)).otherwise(
            aggregate(
              transform(col("embedding"), x =>
                abs(floor(x.cast("double") / col("maxabs") * 127.0 + 0.5)
                  .cast("bigint"))),
              lit(0L), (acc, v) => acc + v)).as("l1_q"))
        .orderBy("vec_id")
    },

    // Distributed k-means assignment (2 Lloyd iterations, k=8) — the
    // semantic-clustering stage. The DuckDB oracle REPLAYS the entire
    // algorithm (same init, rounded distances with id tiebreaks, exact
    // decimal centroid means), so every assignment and final distance is
    // hash-checked, not just row counts.
    QueryDef.sql(
      "sim_kmeans",
      s"""WITH $kmeansOracleCte
        |SELECT vec_id, cluster, dist2 FROM a2
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      corpusKmeans(s, d)
    },

    // Vector-side FLAGSHIP composition: the per-cluster embedding
    // pipeline report — k-means assignment (the shared corpusKmeans
    // memo: computed once, reused by sim_kmeans / dedup_semantic / this)
    // joined with exact per-vector L2 norms, rolled up per cluster.
    // The table a vector-ingest team reviews before building an IVF
    // index: cluster balance, spread (Σ dist²), and norm mass. Sums are
    // exact decimals of 4dp-rounded per-vector values (totals, not
    // means — the half-tie rule).
    QueryDef.sql(
      "sim_embedding_pipeline",
      s"""WITH $kmeansOracleCte,
        |nrm AS (
        |  SELECT vec_id, round(sqrt(CAST(SUM(
        |      CAST(x AS DECIMAL(12,8)) * CAST(x AS DECIMAL(12,8))
        |    ) AS DOUBLE)), 4) AS l2
        |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        |  GROUP BY vec_id)
        |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CAST(round(dist2, 4) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_dist2,
        |  CAST(SUM(CAST(l2 AS DECIMAL(18,4))) AS DOUBLE) AS sum_norm
        |FROM a2 JOIN nrm USING (vec_id)
        |GROUP BY cluster ORDER BY cluster""".stripMargin) { (s, d) =>
      val nrm = Tables.embeddings(s, d).select(
        col("vec_id"),
        round(sqrt(
          aggregate(col("embedding"),
            lit(BigDecimal(0)).cast("decimal(32,16)"),
            (acc, x) => (acc + x.cast("decimal(12,8)") *
              x.cast("decimal(12,8)")).cast("decimal(32,16)"))
            .cast("double")), 4).as("l2"))
      corpusKmeans(s, d).join(nrm, "vec_id")
        .groupBy("cluster")
        .agg(count(lit(1)).cast("bigint").as("n_vecs"),
          sum(round(col("dist2"), 4).cast("decimal(18,4)")).cast("double")
            .as("sum_dist2"),
          sum(col("l2").cast("decimal(18,4)")).cast("double").as("sum_norm"))
        .orderBy("cluster")
    },

    // Product quantization + asymmetric-distance search. Unlike
    // sim_topk_ann/ivf (whose hyperplanes live in a native kernel), the
    // whole PQ pipeline — codebook seeding, Lloyd refinement, encoding,
    // ADC — is deterministic arithmetic, so the DuckDB oracle replays
    // ALL of it and every neighbor/distance is hash-checked.
    QueryDef.sql(
      "sim_pq_adc",
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sub AS (
        |  SELECT vec_id, s,
        |    list_transform(generate_series(1, 8), i -> v[s * 8 + i]) AS sv
        |  FROM emb, generate_series(0, 7) t(s)),
        |cb0 AS (
        |  SELECT s, CAST(vec_id AS INTEGER) AS j, sv AS cen
        |  FROM sub WHERE vec_id < 16),
        |d0 AS (
        |  SELECT u.vec_id, u.s, u.sv, c.j,
        |    round(list_sum(list_transform(generate_series(1, 8),
        |      i -> (u.sv[i] - c.cen[i]) * (u.sv[i] - c.cen[i]))), 4) AS d
        |  FROM sub u JOIN cb0 c USING (s)),
        |a0 AS (
        |  SELECT vec_id, s, sv, j FROM (
        |    SELECT vec_id, s, sv, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rk
        |    FROM d0) WHERE rk = 1),
        |cb1 AS (
        |  SELECT s, j, list(m ORDER BY i) AS cen FROM (
        |    SELECT s, j, i,
        |      round(CAST(SUM(CAST(sv[i] AS DECIMAL(18,9))) AS DOUBLE)
        |        / COUNT(*), 6) AS m
        |    FROM a0, generate_series(1, 8) t(i) GROUP BY s, j, i)
        |  GROUP BY s, j),
        |d1 AS (
        |  SELECT u.vec_id, u.s, c.j,
        |    round(list_sum(list_transform(generate_series(1, 8),
        |      i -> (u.sv[i] - c.cen[i]) * (u.sv[i] - c.cen[i]))), 4) AS d
        |  FROM sub u JOIN cb1 c USING (s)),
        |codes AS (
        |  SELECT vec_id, s, j AS code FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rk
        |    FROM d1) WHERE rk = 1),
        |lut AS (
        |  SELECT q.vec_id AS query_id, c.s, c.j,
        |    round(list_sum(list_transform(generate_series(1, 8),
        |      i -> (q.sv[i] - c.cen[i]) * (q.sv[i] - c.cen[i]))), 4) AS ld
        |  FROM sub q JOIN cb1 c USING (s) WHERE q.vec_id < 10),
        |adc AS (
        |  SELECT l.query_id, co.vec_id,
        |    round(CAST(SUM(CAST(l.ld AS DECIMAL(18,6))) AS DOUBLE), 4) AS adc
        |  FROM codes co JOIN lut l ON co.s = l.s AND co.code = l.j
        |  WHERE co.vec_id <> l.query_id
        |  GROUP BY l.query_id, co.vec_id)
        |SELECT query_id, vec_id AS neighbor_id, adc,
        |  CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT query_id, vec_id, adc,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc, vec_id) AS rk
        |  FROM adc) WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      pqAdcTopK(Tables.embeddings(s, d), k = 5, numQueries = 10,
        cbRowOpt = Some(corpusPqCodebookRow(s, d)))
        .orderBy("query_id", "rk")
    },

    // IVF-PQ composition (ivfPqTopK): coarse k-means probe prunes to
    // nprobe=3 of 8 inverted lists, PQ/ADC rescoring only inside them —
    // the production billion-vector index shape. The oracle replays the
    // ENTIRE pipeline (k-means train/assign/probe + PQ train/encode/LUT/
    // ADC), so every neighbor and distance is hash-certified; on top,
    // `recall_ok` pins POOLED recall@5 vs the exact L2 brute ranking
    // ≥ 8/50 as a checked column the oracle hardcodes to 1 — the
    // quality floor, same pin as sim_topk_ann. L2 (not cosine) is the
    // truth metric because L2 is what IVF-PQ/ADC approximates; the
    // floor is pooled across queries (not per-query) because a 16-entry
    // codebook's quantization distortion legitimately zeroes single
    // queries (measured pooled hits 16/17/10 of 50 at sf0.001/0.01/0.1;
    // a broken probe/codebook/LUT drops it to ~0.4 expected).
    QueryDef.sql(
      "sim_ivf_pq",
      s"""WITH $kmeansOracleCte,
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS cluster FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        round(list_sum(list_transform(generate_series(1, 64),
        |          i -> (e.v[i] - c.cen[i]) * (e.v[i] - c.cen[i]))), 4),
        |        c.cid) AS pr
        |    FROM emb e, c1 c WHERE e.vec_id < 10)
        |  WHERE pr <= 3),
        |cands AS (
        |  SELECT p.query_id, a.vec_id
        |  FROM a2 a JOIN probes p ON a.cluster = p.cluster
        |  WHERE a.vec_id <> p.query_id),
        |sub AS (
        |  SELECT vec_id, s,
        |    list_transform(generate_series(1, 8), i -> v[s * 8 + i]) AS sv
        |  FROM emb, generate_series(0, 7) t(s)),
        |cb0 AS (
        |  SELECT s, CAST(vec_id AS INTEGER) AS j, sv AS cen
        |  FROM sub WHERE vec_id < 16),
        |d0 AS (
        |  SELECT u.vec_id, u.s, u.sv, c.j,
        |    round(list_sum(list_transform(generate_series(1, 8),
        |      i -> (u.sv[i] - c.cen[i]) * (u.sv[i] - c.cen[i]))), 4) AS d
        |  FROM sub u JOIN cb0 c USING (s)),
        |a0 AS (
        |  SELECT vec_id, s, sv, j FROM (
        |    SELECT vec_id, s, sv, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rk
        |    FROM d0) WHERE rk = 1),
        |cb1 AS (
        |  SELECT s, j, list(m ORDER BY i) AS cen FROM (
        |    SELECT s, j, i,
        |      round(CAST(SUM(CAST(sv[i] AS DECIMAL(18,9))) AS DOUBLE)
        |        / COUNT(*), 6) AS m
        |    FROM a0, generate_series(1, 8) t(i) GROUP BY s, j, i)
        |  GROUP BY s, j),
        |d1 AS (
        |  SELECT u.vec_id, u.s, c.j,
        |    round(list_sum(list_transform(generate_series(1, 8),
        |      i -> (u.sv[i] - c.cen[i]) * (u.sv[i] - c.cen[i]))), 4) AS d
        |  FROM sub u JOIN cb1 c USING (s)),
        |codes AS (
        |  SELECT vec_id, s, j AS code FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rk
        |    FROM d1) WHERE rk = 1),
        |lut AS (
        |  SELECT q.vec_id AS query_id, c.s, c.j,
        |    round(list_sum(list_transform(generate_series(1, 8),
        |      i -> (q.sv[i] - c.cen[i]) * (q.sv[i] - c.cen[i]))), 4) AS ld
        |  FROM sub q JOIN cb1 c USING (s) WHERE q.vec_id < 10),
        |adc AS (
        |  SELECT ca.query_id, ca.vec_id,
        |    round(CAST(SUM(CAST(l.ld AS DECIMAL(18,6))) AS DOUBLE), 4) AS adc
        |  FROM cands ca
        |  JOIN codes co ON co.vec_id = ca.vec_id
        |  JOIN lut l ON l.query_id = ca.query_id
        |    AND co.s = l.s AND co.code = l.j
        |  GROUP BY ca.query_id, ca.vec_id)
        |SELECT query_id, vec_id AS neighbor_id, adc,
        |  CAST(rk AS INTEGER) AS rk, 1 AS recall_ok FROM (
        |  SELECT query_id, vec_id, adc,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc, vec_id) AS rk
        |  FROM adc) WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val full = graft.CacheRegistry.register(
        // cells recompute in-row against the SHARED trained centroids —
        // the same (d, cid) argmin corpusKmeans stores, so the index
        // contents are identical; the map-only recompute replaces the
        // (vec_id, cluster) shuffle join against the cached assignment
        ivfPqTopK(emb, k = 5, numQueries = 10, nprobe = 3,
          centsOpt = Some(corpusCentroids(s, d)),
          cbRowOpt = Some(corpusPqCodebookRow(s, d)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // exact-L2 brute top-5 truth: broadcast queries, one corpus scan,
      // bounded TopK aggregator (−d ⇒ nearest; id tiebreak)
      val corpus = ensureParallel(emb).select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      val qs = broadcast(corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv")))
      val brute = corpus.join(qs, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(kmeansDist2(col("v"), col("qv")), 4).as("d"))
        .groupBy("query_id")
        .agg(graft.functions.TopKAggregator.topK(
          -col("d"), col("vec_id"), 5).as("tk"))
        .select(col("query_id"),
          explode(col("tk.entries.id")).as("neighbor_id"))
      val hits = full.select("query_id", "neighbor_id")
        .join(brute, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
      // POOLED floor with an expected-variance band (r12 ADVICE):
      // measured pooled hits are 16/17/10 (of 50) at sf0.001/0.01/0.1;
      // the floor 8 deliberately sits below the worst measured value
      // because a 16-entry PQ codebook's distortion legitimately zeroes
      // individual queries and a testdata regeneration can move the
      // sf0.1 value by a few hits (r11 regen moved steady-state numbers
      // elsewhere). If this gate flips red, triage as DATA DRIFT first:
      // re-measure pooled n_hits at the failing SF; a value in [5, 8)
      // means the band drifted (re-justify the floor against the new
      // corpus), while a collapse toward 0 means the index code broke.
      full.crossJoin(broadcast(hits))
        .select(col("query_id"), col("neighbor_id"), col("adc"), col("rk"),
          (col("n_hits") >= 8).cast("int").as("recall_ok"))
        .orderBy("query_id", "rk")
    },

    // SemDeDup-style semantic dedup (Abbas et al. 2023): k-means cluster
    // the embeddings, then within each cluster drop every vector that
    // has a higher-similarity twin with a smaller id. The within-cluster
    // pairwise pass is the SemDeDup design point — k scales with corpus
    // size so cluster cardinality (and the quadratic term) stays
    // bounded; at extreme cluster sizes the LSH bucketing of cosinePairs
    // composes inside a cluster. Oracle replays the ENTIRE pipeline:
    // the deterministic k-means CTE (same init/rounding/tiebreaks as
    // sim_kmeans) plus exact rounded within-cluster cosine.
    QueryDef.sql(
      "dedup_semantic",
      s"""WITH $kmeansOracleCte,
        |cv AS (
        |  SELECT a.vec_id, a.cluster, e.embedding
        |  FROM a2 a JOIN embeddings e USING (vec_id)),
        |pairs AS (
        |  SELECT y.vec_id AS b
        |  FROM cv x JOIN cv y
        |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        |  WHERE (CASE WHEN list_sum(list_transform(x.embedding,
        |             u -> CAST(u AS DOUBLE) * u)) = 0
        |           OR list_sum(list_transform(y.embedding,
        |             u -> CAST(u AS DOUBLE) * u)) = 0
        |         THEN 0.0
        |         ELSE round(list_cosine_similarity(
        |           CAST(x.embedding AS DOUBLE[]),
        |           CAST(y.embedding AS DOUBLE[])), 4)
        |    END) >= 0.3)
        |SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
        |  CAST(vec_id NOT IN (SELECT b FROM pairs) AS INTEGER) AS kept
        |FROM a2 ORDER BY vec_id""".stripMargin) { (s, d) =>
      semanticDedup(Tables.embeddings(s, d), k = 8, iters = 2,
        threshold = 0.3, assignedOpt = Some(corpusKmeans(s, d)))
    },

    // Label-centroid similarity: per-label mean vector via exact decimal
    // element-wise sums (posexplode + groupBy), a common
    // "cluster-then-search" building block. Oracle-checkable.
    QueryDef.sql(
      "sim_label_centroid_norm",
      """SELECT label, round(sqrt(SUM(m * m)), 4) AS centroid_norm
        |FROM (
        |  SELECT label, i,
        |    CAST(SUM(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS m
        |  FROM embeddings, generate_series(1, 64) t(i)
        |  GROUP BY label, i
        |) GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("label", "i")
        .agg((sum(col("x").cast("decimal(18,9)")).cast("double") / count(lit(1)))
          .as("m"))
        .groupBy("label")
        .agg(round(sqrt(sum(col("m") * col("m"))), 4).as("centroid_norm"))
        .orderBy("label")
    },

    // Embedding distribution drift between two corpus halves (vec_id
    // parity stands in for "yesterday's batch vs today's"): per label,
    // the cosine between the halves' centroids — the representation-
    // drift monitor a training pipeline runs per ingest. Scale shape:
    // one narrow (label, half, dim) shuffle (map-side combined), then a
    // label×64 frame — the cosine never touches row-level vectors.
    // Determinism: exact decimal per-dim means rounded 6dp (the k-means
    // convention), one final rounded cosine.
    QueryDef.sql(
      "sim_centroid_drift",
      """WITH cent AS (
        |  SELECT label, vec_id % 2 AS h, i,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    round(CAST(SUM(CAST(embedding[i] AS DECIMAL(18,9))) AS DOUBLE)
        |      / COUNT(*), 6) AS m
        |  FROM embeddings, generate_series(1, 64) t(i)
        |  GROUP BY label, vec_id % 2, i),
        |j AS (
        |  SELECT a.label, a.i, a.n AS na, b.n AS nb, a.m AS ma, b.m AS mb
        |  FROM cent a JOIN cent b
        |    ON a.label = b.label AND a.i = b.i AND a.h = 0 AND b.h = 1)
        |SELECT label, CAST(MAX(na) AS BIGINT) AS n_a,
        |  CAST(MAX(nb) AS BIGINT) AS n_b,
        |  round(SUM(ma * mb)
        |    / (sqrt(SUM(ma * ma)) * sqrt(SUM(mb * mb))), 4) AS centroid_cos
        |FROM j GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      centroidDrift(Tables.embeddings(s, d), pmod(col("vec_id"), lit(2)))
    },

    // ------------------------------------------------------------------
    // Johnson–Lindenstrauss random projection 64 → 8 dims with ±1
    // (Achlioptas 2003) weights, the dimensionality-reduction front end
    // for coarse ANN / clustering at scale: one narrow codegen'd
    // projection, no shuffle, 8× less vector bandwidth downstream. The
    // sign matrix is seeded from md5 (rpSign) so any engine regenerates
    // it; both sides evaluate the SAME literal signs with the same
    // left-to-right fold, so the doubles agree exactly and round(4) only
    // guards the float→double widening.
    QueryDef.sql(
      "sim_random_projection",
      {
        val cols = (0 until 8).map { j =>
          val terms = (0 until 64).map(i =>
            s"(CAST(embedding[${i + 1}] AS DOUBLE) * ${rpSign(j, i)}.0)")
          s"round(${terms.mkString(" + ")}, 4) AS p$j"
        }
        s"""SELECT vec_id, ${cols.mkString(", ")}
           |FROM embeddings ORDER BY vec_id""".stripMargin
      }) { (s, d) =>
      val projected = (0 until 8).map(j =>
        round(projectionCol(j, 64), 4).as(s"p$j"))
      Tables.embeddings(s, d)
        .select(col("vec_id") +: projected: _*)
        .orderBy("vec_id")
    }
  )

  /** ±1 JL projection weight, seeded from md5 so the matrix is
    * reproducible by construction on any engine: +1 iff the high nibble
    * of md5("rp_<outDim>_<inDim>") is even. */
  def rpSign(j: Int, i: Int): Int = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp_${j}_${i}".getBytes("UTF-8"))
    if (((digest(0) >> 4) & 0x1) == 0) 1 else -1
  }

  /** Output dimension `j` of the ±1 projection: a left-to-right sum of
    * signed elements (fold order is part of the cross-engine contract —
    * float addition is not associative). */
  def projectionCol(j: Int, dim: Int): Column =
    (0 until dim).map(i =>
      element_at(col("embedding"), i + 1).cast("double") *
        lit(rpSign(j, i).toDouble)).reduce(_ + _)

  /** Per-label cosine between the centroids of the two cohorts defined
    * by `half` (0/1) — see the sim_centroid_drift QueryDef. Returns
    * (label, n_a, n_b, centroid_cos). */
  def centroidDrift(emb: DataFrame, half: Column): DataFrame = {
    val cent = emb
      .select(col("label"), half.as("h"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("label", "h", "i")
      .agg(count(lit(1)).as("n"),
        round(sum(col("x").cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 6).as("m"))
    val a = cent.filter(col("h") === 0)
      .select(col("label"), col("i"), col("n").as("na"), col("m").as("ma"))
    val b = cent.filter(col("h") === 1)
      .select(col("label"), col("i"), col("n").as("nb"), col("m").as("mb"))
    a.join(b, Seq("label", "i"))
      .groupBy("label")
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        round(sum(col("ma") * col("mb"))
          / (sqrt(sum(col("ma") * col("ma")))
            * sqrt(sum(col("mb") * col("mb")))), 4).as("centroid_cos"))
      .orderBy("label")
  }
}
