package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data
  * pipelines. No counterpart in the reference (which is a sharing
  * connector); designed Spark-first for 100 TB:
  *
  *  - exact dedup = hash groupBy on content (one shuffle, map-side combine);
  *  - near-dup = MinHash + LSH banding: candidates come from an equi-join
  *    on (band, bandHash) buckets — NEVER an all-pairs cross join. At 1000
  *    executors the bucket join shuffles only (docId, bandHash) pairs,
  *    ~64/doc, and skewed buckets are capped (see `maxBucketSize`).
  *  - SimHash = 64-bit signed-projection fingerprint; near-dups found by
  *    banding the fingerprint into 16-bit chunks (Hamming ≤ 3 ⇒ at least
  *    one of 4 chunks equal, by pigeonhole).
  *
  * Everything is expression-level (codegen'd built-ins + one hash pass);
  * no UDFs in the hot path, no driver-side collects.
  *
  * Cache lifecycle: pipelines persist their signature frames
  * (MEMORY_AND_DISK) because multiple branches consume them; entries are
  * evicted LRU by Spark's storage manager under pressure. Long-lived
  * sessions doing many dedup passes can reclaim eagerly with
  * `spark.catalog.clearCache()` between corpora.
  */
object Dedup {

  /** Word shingles of size n as a distinct array column (string form —
    * readable, used by tests and small-scale analysis). */
  def shingles(text: Column, n: Int): Column = {
    val words = split(text, " ")
    // transform over positions; slice(words, i+1, n) then join back to a
    // string shingle; drop ragged tails shorter than n.
    val idx = sequence(lit(0), greatest(size(words) - n, lit(0)))
    array_distinct(
      filter(
        transform(idx, i => array_join(slice(words, i + 1, lit(n)), " ")),
        s => size(split(s, " ")) === n))
  }

  private val P31 = 2147483629L

  /** Word shingles of size n as DISTINCT 31-bit hashes — the production
    * path: each word is hashed once, shingles are rolling combines of n
    * word hashes (acc*131+h mod p), so no per-shingle string is ever
    * materialized and downstream set ops (array_intersect for Jaccard)
    * compare longs, not strings. Collisions in a 2^31 universe are
    * negligible at shingle-set sizes (<1e-4 for 1k-shingle docs).
    *
    * Implementation note: built from `zip_with` over SHIFTED copies of
    * the word-hash array, never `element_at` inside a lambda — Catalyst
    * does not eliminate common subexpressions inside lambda bodies, so a
    * per-element back-reference to the array would re-evaluate the whole
    * word-hash pass per shingle (O(len²); measured 3-4× slower at sf0.1).
    * zip_with pads the shorter side with nulls; the trailing ragged
    * positions therefore combine to null and are filtered out. */
  def shingleHashes(text: Column, n: Int): Column = {
    val wh = transform(split(text, " "), w => pmod(xxhash64(w), lit(P31)))
    val combined = (1 until n).foldLeft(wh) { (acc, j) =>
      zip_with(acc, slice(wh, lit(j + 1), size(wh)),
        (a, b) => pmod(a * 131L + b, lit(P31)))
    }
    array_distinct(filter(combined, x => x.isNotNull))
  }

  /** Character n-grams as DISTINCT 31-bit hashes (dedup signal robust to
    * word-boundary edits; complements word shingles). HOF reference
    * formulation — O(len²): `lower(text)` is a COMPUTED value, so the
    * lambda re-evaluates it (and copies a substring) per n-gram;
    * Catalyst does not CSE inside lambda bodies. Kept for reference;
    * the pipeline uses the one-pass [[graft.functions.CharNgramHashes]]
    * kernel (measured 18s → ~1s on the sf0.1 corpus). */
  def charNgramHashesHof(text: Column, n: Int): Column = {
    val lower_ = lower(text)
    val count = length(lower_) - (n - 1)
    // sequence(1, stop) with stop < 1 would generate a DESCENDING range —
    // guard short texts explicitly.
    when(count >= 1,
      array_distinct(
        transform(sequence(lit(1), count),
          i => pmod(xxhash64(substr(lower_, i, lit(n))), lit(P31)))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Production char-n-gram hashes: the one-pass native kernel. */
  def charNgramHashes(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.charNgrams(text, n)

  /** 64 MinHash values for an array of 31-bit shingle hashes.
    *
    * h_i(S) = min_{h in S} ((a_i * h + b_i) mod p), with fixed seeds so
    * results are deterministic across runs/partitions. Reference HOF
    * formulation (transform + array_min per hash) — kept for parity
    * tests; the pipeline uses the native fused kernel
    * [[graft.functions.MinHashSignature]], which computes the same
    * values in one loop (64 HOF passes generate a multi-second janino
    * compile and 64 array materializations per row). 31-bit universe:
    * h < 2^31 and a < 2^31 keep a*h+b < 2^63 — no overflow under ANSI. */
  def minhashSignatureHof(hashedShingles: Column, numHashes: Int = 64): Column = {
    val p = lit(P31)
    val sigs = (0 until numHashes).map { i =>
      val a = lit((1000003L * (i + 1) + 12345L) % P31)
      val b = lit((777767777L * (i + 1) + 7L) % P31)
      array_min(transform(hashedShingles, h => pmod(h * a + b, p)))
    }
    array(sigs: _*)
  }

  /** Production MinHash: the fused native kernel (identical values to
    * [[minhashSignatureHof]], asserted in DedupSpec). */
  def minhashSignature(hashedShingles: Column, numHashes: Int = 64): Column =
    graft.functions.GraftFunctions.minhash(hashedShingles, numHashes)

  /** LSH bands: split the signature into `bands` groups of `rowsPerBand`
    * and hash each group. Equal band-hash ⇒ candidate pair. HOF
    * formulation, kept for reference/tests; the pipeline uses the fused
    * [[graft.functions.LshBandHashes]] kernel (same final pair set — the
    * band hash only has to group equal sub-signatures together, and
    * spurious collisions are removed by the exact-Jaccard verify). */
  def lshBandsHof(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(array_join(
          transform(slice(sig, b * rowsPerBand + 1, rowsPerBand),
            x => x.cast("string")), ",")).as("bh"))
    }: _*)

  /** Candidate near-duplicate pairs via MinHash LSH, verified with exact
    * Jaccard over the shingle sets. Returns (doc_a, doc_b, jaccard).
    *
    * @param maxBucketSize skew guard: an LSH bucket with more than this
    *   many docs (a degenerate/boilerplate shingle cluster) would create
    *   O(k²) candidate pairs; such buckets are chain-linked (consecutive
    *   members, O(k) edges) instead — clusters stay connected, only the
    *   pairwise listing is abridged for >cap cliques. At 100 TB this is
    *   the difference between a bounded join and an accidental cross
    *   product. The exact all-pairs oracle therefore certifies full pair
    *   recall when no bucket exceeds the cap — DedupSpec asserts that
    *   precondition on the gate corpus.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      /** shingle-set builder: word shingles by default; pass
        * `charNgramHashes(_, n)` for character n-gram Jaccard. */
      shingler: (Column, Int) => Column = shingleHashes,
      /** signature-estimate prefilter margin under `threshold` (see the
        * staged-verify note below); est stddev is sqrt(j(1-j)/64) ≈
        * 0.05, so the default 0.3 is a ≥6σ guard for true pairs. */
      estMargin: Double = 0.3): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Signatures feed the band explode, BOTH sides of the candidate
    // self-join, and the jaccard verify — persist so the (expensive)
    // shingle+minhash pass runs once, not once per branch. At 100 TB
    // this materialization is a signature table written once and
    // joined thrice; here MEMORY_AND_DISK serves the same role.
    // Small parquet inputs arrive as a single split; the signature pass
    // is CPU-bound per row, so spread it across the cluster first.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val withSig = graft.CacheRegistry.register(docs.repartition(par)
      .select(col(idCol).as("doc_id"),
        shingler(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // r15 (guide §2.4, the q_itemset_pairs recipe): ONE (band, bh)-keyed
    // aggregate collects each bucket's sorted member list, and BOTH pair
    // modes explode from it IN-TASK — the bounded buckets (≤ cap) into
    // ordered positional pairs (identical to the old anti-join +
    // two-sided self-join: each doc appears once per bucket, so
    // positional pairs over the sorted list ARE the doc_a < doc_b
    // pairs), the oversized buckets into the consecutive-member chain
    // (identical to the old lead() window: adjacent members of the
    // doc_id-sorted list). The old shape paid a cap groupBy, an
    // anti-join, a two-sided self-join AND a chain window over the band
    // frame; this is one exchange of the band rows. The skew bound is
    // unchanged: a bucket's pair fan-out is cap²-bounded in-task,
    // exactly the bound the (band, bh)-keyed join gave the same rows.
    val buckets = graft.CacheRegistry.register(withSig
      .select(col("doc_id"), posexplode(graft.functions.GraftFunctions
        .lshBands(col("sig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bh")
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val allPairs = buckets.filter(size(col("ds")) <= maxBucketSize)
      .select(posexplode(col("ds")).as(Seq("i", "doc_a")), col("ds"))
      .select(col("doc_a"), explode(expr(
        "slice(ds, i + 2, size(ds))")).as("doc_b"))
    // Oversized buckets are CHAIN-LINKED instead of dropped: consecutive
    // members by doc_id — O(k) edges instead of O(k²). A genuine near-dup
    // mega-cluster stays CONNECTED (adjacent members pass the Jaccard
    // verify), so the cluster/representative queries remain correct at
    // any clique size; only the pairwise LISTING is abridged for such
    // cliques.
    val chained = buckets.filter(size(col("ds")) > maxBucketSize)
      .select(explode(expr(
        "transform(slice(ds, 1, size(ds) - 1), (x, i) -> " +
          "struct(x AS doc_a, ds[i + 1] AS doc_b))")).as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
    val candidates = allPairs.unionByName(chained).distinct()

    // Staged verify: the minhash-signature estimate (64-long compare)
    // prunes candidates before the exact Jaccard over full shingle sets
    // (hundreds of elements for char-gram shingles — banding surfaces
    // MANY sub-threshold candidates there). This makes recall
    // PROBABILISTIC for pairs hugging the threshold — the same contract
    // LSH banding already has — with miss probability ≤ ~1e-9 per true
    // pair at the default 6σ margin; set estMargin >= threshold to
    // disable the prefilter entirely.
    val estCut = math.max(0.0, threshold - estMargin)
    val sigs = withSig.select(col("doc_id"), col("sig"))
    val estimated = candidates
      .join(sigs.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sig", "sig_a"), "doc_a")
      .join(sigs.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sig", "sig_b"), "doc_b")
      .withColumn("est",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("double") / numHashes)
      .filter(col("est") >= estCut)
      .select("doc_a", "doc_b")

    val sets = withSig.select(col("doc_id"), col("sh"))
    estimated
      .join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Connected components over an undirected edge list (doc_a, doc_b) —
    * turns near-dup PAIRS into duplicate CLUSTERS, the final step of a
    * dedup pipeline (keep one representative per component).
    *
    * Min-label propagation: every vertex starts labeled with its own id;
    * each round every vertex takes the min label in its neighborhood;
    * stop at fixpoint (the label sum is strictly decreasing, so equality
    * means converged — no extra join needed for the check). Each round is
    * one shuffle join + aggregate at any scale, and near-dup components
    * are near-cliques (every pair passes the jaccard check), so this
    * converges in 2-3 rounds. For adversarial long-chain graphs use
    * [[connectedComponentsLogStar]] (large-star/small-star, O(log n)
    * rounds — implemented below and parity-certified); the fixpoint loop
    * here stops correctly either way. Labeled frames are persisted per
    * round and released after — the iteration state is one (id, label)
    * table, never driver-side.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, failOnMaxIter: Boolean = false): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // both edge directions from ONE pass over pairs (a union of two
    // selects would re-execute the upstream pairs pipeline per branch)
    val sym = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // decimal(38) sum: overflow-proof under ANSI at any corpus size;
    // null (empty frame) → ZERO so a pair-free corpus short-circuits
    def sumLabels(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).collect()(0)
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var labelSum = sumLabels(labels)
    // no edges (clean corpus) → no vertices → nothing to propagate
    var converged = labels.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src")).agg(min("label").as("nbr_label"))
      // localCheckpoint, not persist: `labels` feeds BOTH nbrMin and the
      // left join, so the un-truncated logical plan doubles per round
      // (2^rounds — a ~8-round component graph OOMs Catalyst's plan
      // strings before any data moves). The eager checkpoint cuts each
      // round to a LogicalRDD leaf; results are unchanged.
      val next = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
        .localCheckpoint()
      val nextSum = sumLabels(next)
      labels.unpersist(blocking = false)
      labels = next
      converged = nextSum.compareTo(labelSum) == 0
      labelSum = nextSum
      i += 1
    }
    if (!converged) {
      val msg =
        s"connectedComponents exited at maxIter=$maxIter without converging: " +
          "components wider than the iteration budget are reported SPLIT " +
          "(multiple cluster_ids). Raise maxIter or switch to " +
          "large-star/small-star for long-chain graphs."
      // gated queries compare against an EXACT recursive-closure oracle —
      // a silent split would read as an engine divergence, so they opt
      // into failing loudly instead of warning
      if (failOnMaxIter) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    sym.unpersist(blocking = false)
    // the converged labels frame backs the returned result — release it
    // with the query's other operator caches, not at JVM exit
    graft.CacheRegistry.register(labels)
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Connected components in O(log n) rounds — the large-star/small-star
    * alternation (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"), the documented escape hatch for continental-diameter
    * graphs where [[connectedComponents]]' min-label propagation would
    * need diameter-many rounds.
    *
    *  - large-star: every node connects its strictly-LARGER neighbors to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node (edges oriented big→small) connects its
    *    smaller neighbors and itself to that minimum.
    *
    * Each round is two aggregate+join passes over the edge list (never a
    * vertex-state table plus an edge table, so a round is cheaper than
    * it looks), edge counts never exceed the input after the distinct,
    * and the alternation provably converges to per-component stars
    * rooted at the component minimum — the same labels the propagation
    * loop yields, certified by DedupSpec parity. Fixpoint detection is
    * one aggregate per round over (count, Σ xxhash64(u,v) as
    * decimal(38)) as a cheap pre-filter; a fingerprint MATCH is then
    * confirmed exactly (equal counts plus an empty `exceptAll`
    * difference of two distinct frames ⇒ equal edge sets), because an
    * unconfirmed 2⁻⁶⁴ collision between DIFFERENT edge sets would
    * declare convergence EARLY and return unmerged labels — the exact
    * silent-split failure mode this algorithm exists to eliminate. The
    * confirmation job runs only on the single converging round.
    */
  def connectedComponentsLogStar(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int = 30, failOnMaxIter: Boolean = false)
      : DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val verts = pairs
      .select(explode(array(col(aCol), col(bCol))).as("id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("x"))
        .select(col("x.u").as("u"), col("x.v").as("v"))
      val m = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = o.groupBy("u").agg(min("v").as("m"))
      o.join(m, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("x"))
        .select(col("x.a").as("u"), col("x.b").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0),
        Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    var last = fingerprint(edges)
    var converged = last._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // localCheckpoint per round for the same reason as the propagation
      // loop: edges feed two star passes each consuming it twice, so the
      // un-truncated plan would double per round
      val prev = edges
      val next = smallStar(largeStar(prev)).localCheckpoint()
      val nf = fingerprint(next)
      // fingerprint match = candidate fixpoint; confirm set equality
      // exactly so a hash collision can never end the loop early with
      // unmerged labels (see the Scaladoc)
      converged = nf == last && next.exceptAll(prev).isEmpty
      edges = next
      last = nf
      i += 1
    }
    if (!converged) {
      val msg = s"connectedComponentsLogStar exited at maxIter=$maxIter " +
        "without reaching the star fixpoint — labels may be unmerged."
      if (failOnMaxIter) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // at the fixed point every non-root points straight at its component
    // minimum (exactly one edge per non-root); roots (and isolated
    // vertices) label themselves. If the loop exited at maxIter the edge
    // set is NOT yet a union of stars — a vertex can still carry several
    // edges, and returning duplicate ids would fan out every downstream
    // join — so the warn path collapses to the best-known (min) label,
    // matching connectedComponents' maxIter degradation: exactly one
    // (possibly unmerged) label per id.
    val pointed = edges.select(col("u").as("id"), col("v").as("label"))
    val nonRoots =
      if (converged) pointed
      else pointed.groupBy("id").agg(min("label").as("label"))
    val roots = verts.join(nonRoots.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    val labels = nonRoots.unionByName(roots)
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.CacheRegistry.register(labels)
    verts.unpersist(blocking = false)
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Components for graphs whose DIAMETER (not clique-ness) drives the
    * round count — the composition the min-label loop above is wrong
    * for. Measured on the sf0.1 spatial graph: a diameter-~112 snake
    * cluster needs ~112 propagation rounds (maxIter=20 silently split
    * it), and even on the twice-contracted 4k-edge graph the loop ran 28
    * rounds × ~3 s of fixed per-round job overhead.
    *
    * Strategy, all stages exact:
    *  1. two [[starContract]] rounds (≈ diameter/4, edge list deduped);
    *  2. the contracted graph is metadata-scale in any realistic corpus
    *     (components collapse toward one rep per dense neighborhood) —
    *     if its edge count is ≤ `collectThreshold` (default 500k ≈ 8 MB
    *     collected; the [[LongUnionFind]] table itself is ~16 B/vertex,
    *     so the bound has headroom to ~30M vertices if ever raised)
    *     finish with a driver-side min-label UNION-FIND: zero further
    *     jobs, exact component minima (union-by-min keeps each tree's
    *     root = its minimum, so find() returns the component min);
    *  3. otherwise fall back to [[connectedComponentsLogStar]] — O(log n)
    *     rounds at any scale, no driver state.
    * Labels map back through the rep chain, so callers get (vertex,
    * component-min) for every vertex of the INPUT graph — identical to
    * the propagation fixpoint, certified by DedupSpec parity.
    *
    * Vertex ids must be LongType (the union-find works on primitives).
    */
  def connectedComponentsAuto(pairs: DataFrame, aCol: String, bCol: String,
      collectThreshold: Long = 500000L): DataFrame = {
    require(pairs.schema(aCol).dataType ==
        org.apache.spark.sql.types.LongType &&
      pairs.schema(bCol).dataType == org.apache.spark.sql.types.LongType,
      s"connectedComponentsAuto needs LongType vertex ids, got " +
        s"${pairs.schema(aCol).dataType}/${pairs.schema(bCol).dataType}")
    val spark = pairs.sparkSession
    val p0 = graft.CacheRegistry.ensurePersisted(pairs)
    // r15 opt 2: contract only WHILE the edge frame is above the
    // collect threshold (size-adaptive, same exactness either way) —
    // the previous shape paid both contraction rounds unconditionally,
    // which on an already-collectable graph (the sf0.1 spatial core
    // graph is 194k edges vs the 500k bound) was ~2 s of eager
    // checkpoint jobs that changed nothing downstream. At scale the
    // counts are the frames' materialization actions, not extra passes.
    var cur: DataFrame = p0.select(col(aCol), col(bCol))
    var size = p0.count()
    val reps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (size > collectThreshold && reps.size < 2) {
      val (rep, eRaw) = starContract(cur, aCol, bCol)
      // localCheckpoint per level (same plan-truncation rationale as in
      // starContract); the frames are materialized by count anyway
      cur = eRaw.distinct().localCheckpoint()
      size = cur.count()
      reps += rep
    }
    val closure: DataFrame = if (size <= collectThreshold) {
      // primitive open-addressing union-find (LongUnionFind): ~16 B per
      // vertex, no boxing — safe headroom if collectThreshold is raised
      val edges = cur.collect().map(r => (r.getLong(0), r.getLong(1)))
      val uf = new LongUnionFind(edges.length * 2)
      edges.foreach { case (a, b) => uf.union(a, b) }
      val labels = uf.labels().toSeq
      // driver-built label table is broadcast-sized by construction
      broadcast(spark.createDataFrame(labels).toDF("id", "cluster_id"))
    } else {
      connectedComponentsLogStar(cur, aCol, bCol,
        maxIter = 30, failOnMaxIter = true)
    }
    // map every ORIGINAL vertex back through the rep chain; each level
    // falls back to the previous when its component fully contracted
    val verts = p0.select(explode(array(col(aCol), col(bCol))).as("id"))
      .distinct()
    var chained = verts.select(col("id"), col("id").as("rfin"))
    reps.foreach { rep =>
      chained = chained
        .join(rep.select(col("v").as("rfin"), col("rep").as("rnext")),
          Seq("rfin"), "left")
        .select(col("id"),
          coalesce(col("rnext"), col("rfin")).as("rfin"))
    }
    val out = chained
      .join(closure.withColumnRenamed("id", "rfin"), Seq("rfin"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("rfin")).as("cluster_id"))
    graft.CacheRegistry.register(out)
    out
  }

  /** One star-contraction round over an undirected edge list — the exact
    * graph-shrinking pre-pass for [[connectedComponents]] on graphs whose
    * diameter (not clique-ness) drives the round count.
    *
    * Every vertex maps to `rep(v) = min(v, min neighbor)` — the min of
    * its CLOSED neighborhood, which is a star through `v`, so all
    * vertices sharing a rep are provably one component. Returns the
    * (vertex → rep) map and the contracted edge list (rep(a), rep(b))
    * with self-loops dropped. Contraction preserves min-id labels
    * exactly: the component minimum `m` has no smaller neighbor, so
    * `rep(m) = m` — `m` survives as a vertex of the contracted graph and
    * stays its component's minimum. Each application roughly halves the
    * diameter for one aggregate + two hash joins (no checkpoint, no
    * driver collect — strictly cheaper than the propagation round it
    * replaces). Compose k times for diameter/2^k before the closure.
    */
  def starContract(edges: DataFrame, aCol: String, bCol: String)
      : (DataFrame, DataFrame) = {
    val sym = edges.select(explode(array(
        struct(col(aCol).as("v"), col(bCol).as("w")),
        struct(col(bCol).as("v"), col(aCol).as("w")))).as("e"))
      .select(col("e.v").as("v"), col("e.w").as("w"))
    // localCheckpoint, not persist: rep feeds both contracted-edge joins
    // AND the caller's map-back join, and `contracted` nests the edge
    // plan 3× per level — two stacked contractions otherwise embed the
    // upstream pair pipeline ~13× in every downstream plan (a 46k-line
    // dbscan plan string). The eager cut makes each level a leaf.
    val rep = sym.groupBy("v").agg(min("w").as("mn"))
      .select(col("v"), least(col("v"), col("mn")).as("rep"))
      .localCheckpoint()
    val contracted = edges
      .join(rep.select(col("v").as(aCol), col("rep").as("rep_a")), aCol)
      .join(rep.select(col("v").as(bCol), col("rep").as("rep_b")), bCol)
      .filter(col("rep_a") =!= col("rep_b"))
      .select(col("rep_a").as(aCol), col("rep_b").as(bCol))
    (rep, contracted)
  }

  /** 64-bit SimHash over word tokens: bit j of the fingerprint is the sign
    * of sum over tokens of (bit j of xxhash64(token) ? +1 : -1). HOF
    * reference formulation (64 filter+size passes) — kept for parity
    * tests; the pipeline uses the fused [[graft.functions.SimHash64]]. */
  def simhashHof(text: Column): Column = {
    val hashes = transform(split(text, " "), t => xxhash64(t))
    // For each bit, count tokens with that bit set vs total.
    val n = size(hashes)
    val bitSums = (0 until 64).map { j =>
      val ones = size(filter(hashes, h => h.bitwiseAND(lit(1L << j)) =!= 0L))
      when(ones * 2 >= n, lit(1L << j)).otherwise(lit(0L))
    }
    bitSums.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Production SimHash: fused native kernel over the token-hash array
    * (identical values to [[simhashHof]], asserted in DedupSpec). */
  def simhash(text: Column): Column =
    graft.functions.GraftFunctions.simhash64(
      transform(split(text, " "), t => xxhash64(t)))

  /** SimHash near-dup pairs: band the 64-bit fingerprint into 4 16-bit
    * chunks; Hamming distance ≤ 3 guarantees ≥1 equal chunk (pigeonhole),
    * so the candidate join is an equi-join on (chunkIdx, chunkValue). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // persist: the fingerprint pass feeds both sides of the self-join;
    // repartition first — the fingerprint is CPU-bound per row
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val fp = graft.CacheRegistry.register(docs.repartition(par)
      .select(col(idCol).as("doc_id"), simhash(col(textCol)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val chunks = fp.select(col("doc_id"), col("fp"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("ci"),
          col("fp").bitwiseAND(lit(0xFFFFL << (c * 16))).as("cv"))
      }: _*)).as("ch"))
      .select(col("doc_id"), col("fp"), col("ch.ci").as("ci"), col("ch.cv").as("cv"))
    chunks.as("x").join(chunks.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.fp").as("fp_a"), col("y.fp").as("fp_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
  }

  /** The word-3-shingle set CTE shared by every dedup oracle — ONE
    * definition so the pair/cluster/representative oracles can never
    * drift apart on shingle size or tokenization. */
  private[operators] val wordShingleCte: String =
    """sh AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(words) - 1),
      |      i -> array_to_string(words[i:i+2], ' '))) AS shs
      |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      |  WHERE len(words) >= 3)""".stripMargin

  /** Char-5-gram variant of the shingle CTE (dedup_ngram_jaccard). */
  private val charShingleCte: String =
    """sh AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, length(t) - 3),
      |      i -> t[i:i+4])) AS shs
      |  FROM (SELECT doc_id, lower(text) AS t FROM documents)
      |  WHERE length(t) >= 5)""".stripMargin

  /** Exact-Jaccard pair select over `sh` (threshold 0.8) — the
    * dedup_minhash_lsh oracle statement, also the edge set of the
    * cluster oracles. Computed via the INVERTED-INDEX join (explode
    * shingles, equi-join on the shingle, COUNT = |A∩B| because the
    * shingle lists are distinct) rather than an all-pairs
    * `list_intersect`: mathematically identical for every emitted row —
    * a pair sharing ZERO shingles has Jaccard 0 and can never reach the
    * 0.8 threshold — but O(Σ freq²) ≈ 2.8M joined rows at sf0.1 instead
    * of O(n²·s²) ≈ 12.5M pairs × quadratic list intersections, which is
    * what makes the sf0.1 scale gate (CORRECTNESS_SF01.md) feasible:
    * the all-pairs form ground DuckDB for hours at 5 000 docs. Still a
    * full-recall certificate: EVERY candidate pair is scored exactly. */
  private val jaccardPairsSelect: String =
    """SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT e1.doc_id AS doc_a, e2.doc_id AS doc_b,
      |    round(CAST(COUNT(*) AS DOUBLE)
      |      / (any_value(e1.n) + any_value(e2.n) - COUNT(*)), 4) AS jaccard
      |  FROM (SELECT doc_id, len(shs) AS n, unnest(shs) AS s FROM sh) e1
      |  JOIN (SELECT doc_id, len(shs) AS n, unnest(shs) AS s FROM sh) e2
      |    ON e1.s = e2.s AND e1.doc_id < e2.doc_id
      |  GROUP BY e1.doc_id, e2.doc_id)
      |WHERE jaccard >= 0.8""".stripMargin

  /** Shared oracle prefix: word-3-shingle Jaccard pairs (the
    * dedup_minhash_lsh statement) → symmetric edges → recursive-CTE
    * reachability → per-vertex min component label. DuckDB's recursive
    * UNION dedupes rows, so the closure terminates; near-dup components
    * are tiny cliques, so it stays small at oracle scale. */
  private val clusterCte: String =
    s"WITH RECURSIVE $wordShingleCte, pairs AS MATERIALIZED (\n$jaccardPairsSelect\n)" +
    """, edges AS MATERIALIZED (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |), reach AS (
      |  SELECT src AS id, dst AS r FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
      |), cc AS (
      |  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id
      |)""".stripMargin

  /** Cross-query shared word-3-shingle Jaccard≥0.8 pair frame — the
    * derivation consumed by dedup_minhash_lsh, dedup_clusters,
    * dedup_keep_representatives, dedup_simhash (truth set) and
    * dedup_containment. The 100 TB rule is "derive the near-dup pair set
    * ONCE per corpus": without the memo each of those queries re-runs the
    * full shingle→minhash→band→verify pipeline over the fact table. Key
    * pins session identity and data dir (same convention as the
    * trade-graph pair frame in Graph). */
  def corpusPairs(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.sharedFrame(
      s"dedup:pairs:${graft.CacheRegistry.sessionToken(s)}:$d") {
      minhashPairs(Tables.documents(s, d), "doc_id", "text", threshold = 0.8)
    }

  def defs: Seq[QueryDef] = Seq(
    // Exact dedup: one row per distinct text, keeping the smallest id.
    // Hash groupBy — a single shuffle on the content hash at any scale.
    QueryDef.sql(
      "dedup_exact",
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    },

    // Exact dedup via distinct over a normalized key (lower + squeezed
    // whitespace) — the "normalize then dropDuplicates" pipeline stage.
    QueryDef.sql(
      "dedup_normalized",
      """SELECT md5(lower(regexp_replace(text, ' +', ' '))) AS content_key,
        |  CAST(MIN(doc_id) AS BIGINT) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("content_key",
          md5(lower(regexp_replace(col("text"), " +", " "))))
        .groupBy("content_key")
        .agg(min("doc_id").as("keep_id"))
        .orderBy("keep_id")
    },

    // MinHash+LSH near-dup pairs. The oracle is the ALL-PAIRS exact
    // word-3-shingle Jaccard — a statement the LSH path must match
    // exactly, i.e. banding (16 bands × 4 rows: miss prob ≤ (1-s⁴)¹⁶ ≈
    // 2e-4 at s=0.8) plus the 6σ estimate prefilter lose NOTHING on this
    // corpus, and no LSH bucket exceeds the skew cap (asserted by
    // DedupSpec — beyond the cap, >cap cliques are chain-linked and the
    // pairwise listing is intentionally abridged). Jaccard over 31-bit
    // shingle hashes equals Jaccard over the shingle strings up to hash
    // collisions (~1e-6/doc, deterministic). The oracle cross-join is
    // fine at oracle scale; the Spark side never does it — that
    // asymmetry is the point of LSH.
    QueryDef.sql(
      "dedup_minhash_lsh",
      s"WITH $wordShingleCte\n$jaccardPairsSelect ORDER BY doc_a, doc_b") { (s, d) =>
      corpusPairs(s, d)
    },

    // Train/test LEAKAGE audit (r15): near-dup pairs that CROSS the
    // q_hash_split train/val/test boundary — the decontamination check
    // run before any held-out evaluation is trusted (a test doc with a
    // ≥0.8-Jaccard twin in train invalidates the measurement even
    // though both survive within-split dedup). Composes the SHARED
    // corpus pair frame with the split assignment: per unordered split
    // pair, the pair count and the worst (max) Jaccard; is_leak marks
    // cross-split rows. max not avg (order-free — no float summation).
    // SCALE: the pair frame is the banded-LSH output already derived
    // once per corpus; the split attach is two doc-keyed equi-joins of
    // a 2-column projection; the rollup is a ≤6-row aggregate.
    QueryDef.sql(
      "dedup_split_leakage",
      s"""WITH $wordShingleCte,
        |pairs AS MATERIALIZED (
        |$jaccardPairsSelect),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
        |           THEN 'train'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |j AS (
        |  SELECT least(sa.split, sb.split) AS split_a,
        |    greatest(sa.split, sb.split) AS split_b, p.jaccard
        |  FROM pairs p
        |  JOIN sp sa ON p.doc_a = sa.doc_id
        |  JOIN sp sb ON p.doc_b = sb.doc_id)
        |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  MAX(jaccard) AS max_jaccard,
        |  CAST(split_a <> split_b AS INTEGER) AS is_leak
        |FROM j GROUP BY split_a, split_b
        |ORDER BY split_a, split_b""".stripMargin) { (s, d) =>
      val sp = Tables.documents(s, d)
        .select(col("doc_id"), Sampling.hashSplit(col("doc_id")).as("split"))
      corpusPairs(s, d)
        .join(sp.select(col("doc_id").as("doc_a"),
          col("split").as("sa")), "doc_a")
        .join(sp.select(col("doc_id").as("doc_b"),
          col("split").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"), col("jaccard"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).cast("bigint").as("n_pairs"),
          max("jaccard").as("max_jaccard"))
        .withColumn("is_leak", (col("split_a") =!= col("split_b")).cast("int"))
        .orderBy("split_a", "split_b")
    },

    // End-user dedup: keep exactly one representative per near-dup
    // cluster (min doc_id) plus every unclustered doc — the "switch
    // your corpus to the deduped view" call a pipeline actually makes.
    // Left-anti join against the non-keeper members; no broadcast hint —
    // at heavy duplication the drop set is a large fraction of the
    // corpus, so let AQE choose (it broadcasts when actually small).
    // Oracle: all-pairs Jaccard edges + recursive-CTE reachability — the
    // distributed label propagation must land on the identical keeper set.
    QueryDef.sql(
      "dedup_keep_representatives",
      s"""$clusterCte
        |SELECT doc_id, source, lang FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = corpusPairs(s, d)
      // failOnMaxIter: these labels feed the kept-corpus view; a silent
      // split would KEEP duplicate documents (the dbscan lesson applied
      // to the dedup path — near-dup graphs are near-cliques today, but
      // chained-similarity corpora can stretch the diameter)
      val dropIds = connectedComponents(pairs, "doc_a", "doc_b",
          failOnMaxIter = true)
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    },

    // Near-dup clusters: MinHash pairs → connected components → one row
    // per clustered doc with its cluster id and the elected keeper (min
    // id). Oracle: recursive-CTE transitive closure over the same edge
    // set, min over reachable ids ⇒ identical component labels (DedupSpec
    // additionally cross-checks driver-side union-find).
    QueryDef.sql(
      "dedup_clusters",
      s"""$clusterCte
        |SELECT id, cluster_id, CAST(id = cluster_id AS INTEGER) AS is_keeper
        |FROM cc ORDER BY id""".stripMargin) { (s, d) =>
      connectedComponents(corpusPairs(s, d), "doc_a", "doc_b",
          failOnMaxIter = true)
        .withColumn("is_keeper", (col("id") === col("cluster_id")).cast("int"))
    },

    // The same clusters through the SCALE closure: star contraction +
    // large-star/small-star (collectThreshold=0 forces the distributed
    // log-star path — no driver union-find, no propagation), against the
    // identical recursive-CTE oracle. This puts the O(log n) closure
    // itself under the hash gate, not just under spec parity: at 100 TB
    // this is the path a continental-diameter component graph actually
    // takes, so it deserves the same bit-level certification as the
    // propagation loop it replaces.
    QueryDef.sql(
      "dedup_clusters_logstar",
      s"""$clusterCte
        |SELECT id, cluster_id, CAST(id = cluster_id AS INTEGER) AS is_keeper
        |FROM cc ORDER BY id""".stripMargin) { (s, d) =>
      connectedComponentsAuto(corpusPairs(s, d), "doc_a", "doc_b",
          collectThreshold = 0L)
        .withColumn("is_keeper", (col("id") === col("cluster_id")).cast("int"))
    },

    // SimHash near-dup pairs, pinned to a checkable quality summary:
    // ground truth is the exact word-3-shingle Jaccard≥0.8 pair set —
    // the oracle computes it all-pairs at gate scale, Spark computes the
    // SAME set via the MinHash+LSH path (full recall on this corpus,
    // certified by the dedup_minhash_lsh gate) — and the output asserts
    // SimHash recall on that truth set ≥ 0.5 as a checked column, the
    // floor DedupSpec pins. The raw pair rows remain covered by
    // DedupSpec's hamming/recall assertions.
    QueryDef.sql(
      "dedup_simhash",
      s"""WITH $wordShingleCte, pairs AS MATERIALIZED (
        |$jaccardPairsSelect
        |)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_true_pairs, 1 AS recall_ok
        |FROM pairs""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val found = simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        .select("doc_a", "doc_b")
      val truth = corpusPairs(s, d).select("doc_a", "doc_b")
      val stats = truth
        .join(found.withColumn("f", lit(1)), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          sum(coalesce(col("f"), lit(0))).as("n_hits"))
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(stats)
        .select(col("n_docs"), col("n_true_pairs"),
          when(col("n_true_pairs") === 0, lit(1))
            .otherwise((col("n_hits").cast("double") / col("n_true_pairs")
              >= 0.5).cast("int")).as("recall_ok"))
    },

    // Edit-distance near-dup on LSH-pruned candidates: Levenshtein over
    // the 64-char prefix, the classic fuzzy-match refinement. Candidates
    // come from the SAME banded LSH join (never all-pairs); the oracle
    // recomputes edit distance over the all-pairs Jaccard candidates —
    // equal because every prefix-edit-close pair at this threshold is
    // also Jaccard-close (both engines implement standard Levenshtein).
    QueryDef.sql(
      "dedup_edit_distance",
      s"""WITH $wordShingleCte, pairs AS MATERIALIZED (
        |$jaccardPairsSelect
        |)
        |SELECT doc_a, doc_b,
        |  CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS edit_dist
        |FROM pairs
        |JOIN (SELECT doc_id, substring(text, 1, 64) AS pfx FROM documents) a
        |  ON a.doc_id = doc_a
        |JOIN (SELECT doc_id, substring(text, 1, 64) AS pfx FROM documents) b
        |  ON b.doc_id = doc_b
        |WHERE levenshtein(a.pfx, b.pfx) <= 16
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pfx = docs.select(col("doc_id"),
        substring(col("text"), 1, 64).as("pfx"))
      corpusPairs(s, d)
        .join(pfx.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("pfx", "pfx_a"), "doc_a")
        .join(pfx.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("pfx", "pfx_b"), "doc_b")
        .withColumn("edit_dist",
          levenshtein(col("pfx_a"), col("pfx_b")).cast("int"))
        .filter(col("edit_dist") <= 16)
        .select("doc_a", "doc_b", "edit_dist")
        .orderBy("doc_a", "doc_b")
    },

    // Exact character-5-gram Jaccard on LSH-pruned candidates — the
    // word-boundary-robust dedup signal; candidates still come from LSH
    // banding, never a cross-join. Oracle: all-pairs char-5-gram Jaccard
    // (same full-recall statement as dedup_minhash_lsh, over the far
    // denser char-gram sets — only the shingle CTE differs, the pair
    // select is the shared constant).
    QueryDef.sql(
      "dedup_ngram_jaccard",
      s"WITH $charShingleCte\n$jaccardPairsSelect ORDER BY doc_a, doc_b") { (s, d) =>
      minhashPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8, shingleSize = 5, shingler = charNgramHashes)
    },

    // Containment direction on verified near-dup pairs: C(A→B) =
    // |A∩B|/|A| tells WHICH side of a near-dup pair is the (near-)subset
    // — the dedup policy signal for "keep the superset". Pairs come from
    // the LSH path (Jaccard ≥ 0.8, full recall per the
    // dedup_minhash_lsh certificate); containment for LOW-Jaccard
    // super/subset pairs is out of scope by design — MinHash LSH recalls
    // by Jaccard, and the oracle statement carries the same J ≥ 0.8
    // bound so both sides describe the same set. Shingle sets are joined
    // back only for the (few) verified pairs.
    QueryDef.sql(
      "dedup_containment",
      s"""WITH $wordShingleCte
        |SELECT doc_a, doc_b, c_ab, c_ba,
        |  CASE WHEN c_ab >= c_ba THEN doc_a ELSE doc_b END AS sub_doc
        |FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
        |      / len(a.shs), 4) AS c_ab,
        |    round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
        |      / len(b.shs), 4) AS c_ba,
        |    round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
        |      / (len(a.shs) + len(b.shs)
        |         - len(list_intersect(a.shs, b.shs))), 4) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE j >= 0.8 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val pairs = corpusPairs(s, d).select("doc_a", "doc_b")
      // spread + persist the shingle pass: it is CPU-bound per row, the
      // corpus is one parquet split, and BOTH join branches consume it
      val sets = graft.CacheRegistry.register(Tables.documentsPar(s, d)
        .select(col("doc_id"), shingleHashes(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      pairs
        .join(sets.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sets.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn("inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
        .select(col("doc_a"), col("doc_b"),
          round(col("inter") / size(col("sh_a")), 4).as("c_ab"),
          round(col("inter") / size(col("sh_b")), 4).as("c_ba"))
        .withColumn("sub_doc",
          when(col("c_ab") >= col("c_ba"), col("doc_a"))
            .otherwise(col("doc_b")))
        .orderBy("doc_a", "doc_b")
    },

    // Incremental (cross-corpus) dedup: a NEW batch checked against the
    // EXISTING corpus only — the shape ingestion actually runs at 100 TB,
    // where re-pairing the whole corpus with itself per batch would be
    // quadratic over time. New×old candidates come from the shared LSH
    // buckets (one band join keyed on (band, bandHash), never new×old
    // cross); the batch-vs-corpus asymmetry means the join's build side
    // is the small batch at real scale. Every new doc gets a decision
    // row (kept, or dup_of the best old match — max Jaccard, min old id
    // on ties). Oracle: exact all-pairs new×old word-3-shingle Jaccard.
    QueryDef.sql(
      "dedup_incremental",
      s"""WITH $wordShingleCte,
        |news AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
        |hits AS (
        |  SELECT new_id, old_id, jaccard FROM (
        |    SELECT a.doc_id AS new_id, b.doc_id AS old_id,
        |      round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
        |        / (len(a.shs) + len(b.shs)
        |           - len(list_intersect(a.shs, b.shs))), 4) AS jaccard
        |    FROM sh a JOIN sh b
        |      ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
        |  WHERE jaccard >= 0.8),
        |cnt AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_dups
        |        FROM hits GROUP BY new_id),
        |bst AS (
        |  SELECT new_id, old_id, jaccard FROM (
        |    SELECT new_id, old_id, jaccard, row_number()
        |      OVER (PARTITION BY new_id ORDER BY jaccard DESC, old_id) AS rk
        |    FROM hits) WHERE rk = 1)
        |SELECT n.doc_id, COALESCE(c.n_dups, 0) AS n_dups,
        |  b.old_id AS dup_of, b.jaccard AS best_jaccard,
        |  CAST(c.new_id IS NULL AS INTEGER) AS kept
        |FROM news n
        |LEFT JOIN cnt c ON n.doc_id = c.new_id
        |LEFT JOIN bst b ON n.doc_id = b.new_id
        |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
      incrementalDedup(Tables.documents(s, d), "doc_id", "text",
        col("doc_id") % 5 === 0, threshold = 0.8)
    }
  )

  /** Per-new-doc dedup decision against an existing corpus (see the
    * dedup_incremental QueryDef). Returns
    * (doc_id, n_dups, dup_of, best_jaccard, kept) for every doc matching
    * `isNew`. Candidates come from shared LSH bands — the new×old join
    * is bucket-keyed; oversized buckets pair each new member with only
    * the bucket's min old id (the cross-corpus analogue of
    * [[minhashPairs]]'s chain-linking: bounded edges, still yields a
    * duplicate verdict for every member of a boilerplate mega-bucket).
    *
    * SCALE CONTRACT: like every capped-LSH path in this engine, recall
    * (and therefore n_dups / dup_of) is defined over the CANDIDATE set,
    * which is exact at gate scale (no cap trips, banding recall ≈ 1 at
    * θ=0.8) but bounded at 100 TB — a heterogeneous mega-bucket whose
    * min-id representative is dissimilar can miss a true dup. The cap
    * and single-representative rule are the deliberate skew bound; a
    * deployment wanting higher mega-bucket recall raises
    * `maxBucketSize` or samples k>1 representatives. */
  def incrementalDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isNew: Column,
      threshold: Double = 0.8,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      estMargin: Double = 0.3): DataFrame = {
    val rowsPerBand = numHashes / bands
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val withSig = graft.CacheRegistry.register(docs.repartition(par)
      .select(col(idCol).as("doc_id"), isNew.as("is_new"),
        shingleHashes(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // r15 (guide §2.4, the minhashPairs bucket-basket recipe): ONE
    // (band, bh)-keyed aggregate collects each bucket's new/old member
    // lists; the bounded buckets explode the new×old cross IN-TASK, the
    // oversized buckets pair each new member with the bucket's MIN old
    // id (head of the sorted old list) — identical candidate set to the
    // old cap-groupBy + anti-join + new×old self-join + min-old join.
    val buckets = graft.CacheRegistry.register(withSig
      .select(col("doc_id"), col("is_new"),
        posexplode(graft.functions.GraftFunctions
          .lshBands(col("sig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bh")
      .groupBy("band", "bh")
      .agg(collect_list(when(col("is_new"), col("doc_id"))).as("ns"),
        sort_array(collect_list(when(!col("is_new"), col("doc_id"))))
          .as("os"),
        count(lit(1)).as("bn"))
      .filter(size(col("ns")) > 0 && size(col("os")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val candNormal = buckets.filter(col("bn") <= maxBucketSize)
      .select(explode(col("ns")).as("new_id"), col("os"))
      .select(col("new_id"), explode(col("os")).as("old_id"))
    // oversized buckets: one representative old edge per new member
    val candOver = buckets.filter(col("bn") > maxBucketSize)
      .select(explode(col("ns")).as("new_id"),
        element_at(col("os"), 1).as("old_id"))
    val candidates = candNormal.unionByName(candOver).distinct()
    // staged verify (see minhashPairs): signature-estimate prefilter,
    // then exact Jaccard over the shingle sets
    val estCut = math.max(0.0, threshold - estMargin)
    val sigs = withSig.select(col("doc_id"), col("sig"))
    val estimated = candidates
      .join(sigs.withColumnRenamed("doc_id", "new_id")
        .withColumnRenamed("sig", "sig_n"), "new_id")
      .join(sigs.withColumnRenamed("doc_id", "old_id")
        .withColumnRenamed("sig", "sig_o"), "old_id")
      .withColumn("est",
        size(filter(zip_with(col("sig_n"), col("sig_o"), (x, y) => x === y),
          b => b)).cast("double") / numHashes)
      .filter(col("est") >= estCut)
      .select("new_id", "old_id")
    val sets = withSig.select(col("doc_id"), col("sh"))
    val hits = estimated
      .join(sets.withColumnRenamed("doc_id", "new_id")
        .withColumnRenamed("sh", "sh_n"), "new_id")
      .join(sets.withColumnRenamed("doc_id", "old_id")
        .withColumnRenamed("sh", "sh_o"), "old_id")
      .withColumn("inter", size(array_intersect(col("sh_n"), col("sh_o"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_n")) + size(col("sh_o")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
    // decision per new doc (ALL new docs, including shingle-less ones)
    docs.filter(isNew).select(col(idCol).as("new_id"))
      .join(hits, Seq("new_id"), "left")
      .groupBy("new_id")
      .agg(count(col("old_id")).as("n_dups"),
        max(struct(col("jaccard").as("j"), (-col("old_id")).as("nid")))
          .as("best"))
      .select(col("new_id").as("doc_id"), col("n_dups"),
        when(col("n_dups") > 0, -col("best.nid")).as("dup_of"),
        when(col("n_dups") > 0, col("best.j")).as("best_jaccard"),
        (col("n_dups") === 0).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  /** One `sets` row per shingle-bearing doc: the verify payload of the
    * PERSISTED LSH dedup index (connector_dedup_ingest) — signature for
    * the estimate prefilter, hashed shingle set for exact Jaccard.
    * Shingle-less docs (< shingleSize words) carry no row: they can
    * never be a duplicate of anything under set Jaccard. */
  def indexSets(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        shingleHashes(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), numHashes))

  /** Band-bucket rows of the persisted index: one row per (doc, band),
    * hash-partitioned on `bkp = pmod(bh, bucketParts)` so a probe's
    * touched-bucket read prunes to the probed partitions at real scale.
    * Input is an [[indexSets]] frame (needs doc_id + sig). */
  def indexBands(sets: DataFrame, bands: Int = 16, numHashes: Int = 64,
      bucketParts: Int = 64): DataFrame =
    sets
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions
          .lshBands(col("sig"), bands, numHashes / bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bh")
      .withColumn("bkp", pmod(col("bh"), lit(bucketParts)))

  /** Probe the persisted LSH index with one commit's arrivals and emit
    * the per-arrival duplicate verdict — the serving half of
    * connector_dedup_ingest, mirroring [[incrementalDedup]] stage for
    * stage (banded candidates with the min-old-id mega-bucket rule,
    * signature-estimate prefilter, exact-Jaccard verify, max-struct
    * best-dup vote).
    *
    * SCALE: per-commit cost is |arrival bands| + the touched index
    * buckets (an equi-join on (band, bh) against a bkp-partition-pruned
    * read) — never an index scan or rebuild. Bucket stats (count, min)
    * are computed over TOUCHED buckets only, so the cap decision sees
    * just the index side; this diverges from [[incrementalDedup]] (whose
    * oversized test also counts same-slice news) only when a bucket
    * crosses `maxBucketSize`, which the sf0.1 gate + 10x smoke pin as
    * untripped at tested scales.
    *
    * `arrIds` must carry every arrival doc_id (including shingle-less
    * ones — they get an unconditional kept=1 verdict); `arrSets` is the
    * arrivals' [[indexSets]] frame. */
  def probePersistedIndex(arrIds: DataFrame, arrSets: DataFrame,
      idxBands: DataFrame, idxSets: DataFrame, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16, maxBucketSize: Int = 1000,
      estMargin: Double = 0.3): DataFrame = {
    val arrBands = indexBands(arrSets, bands, numHashes)
      .select("doc_id", "band", "bh")
    val touched = arrBands.select("band", "bh").distinct()
    val olds = idxBands.join(touched, Seq("band", "bh"))
      .select(col("band"), col("bh"), col("doc_id").as("old_id"))
    val bstat = olds.groupBy("band", "bh")
      .agg(count(lit(1)).as("bucket_n"), min("old_id").as("min_old"))
    val candNormal = arrBands
      .join(olds.join(
          bstat.filter(col("bucket_n") <= maxBucketSize)
            .select("band", "bh"),
          Seq("band", "bh")),
        Seq("band", "bh"))
      .select(col("doc_id").as("new_id"), col("old_id"))
    val candOver = arrBands
      .join(bstat.filter(col("bucket_n") > maxBucketSize)
          .select(col("band"), col("bh"), col("min_old").as("old_id")),
        Seq("band", "bh"))
      .select(col("doc_id").as("new_id"), col("old_id"))
    val candidates = candNormal.unionByName(candOver).distinct()
    val estCut = math.max(0.0, threshold - estMargin)
    val estimated = candidates
      .join(arrSets.select(col("doc_id").as("new_id"),
        col("sig").as("sig_n")), "new_id")
      .join(idxSets.select(col("doc_id").as("old_id"),
        col("sig").as("sig_o")), "old_id")
      .withColumn("est",
        size(filter(zip_with(col("sig_n"), col("sig_o"), (x, y) => x === y),
          b => b)).cast("double") / numHashes)
      .filter(col("est") >= estCut)
      .select("new_id", "old_id")
    val hits = estimated
      .join(arrSets.select(col("doc_id").as("new_id"),
        col("sh").as("sh_n")), "new_id")
      .join(idxSets.select(col("doc_id").as("old_id"),
        col("sh").as("sh_o")), "old_id")
      .withColumn("inter", size(array_intersect(col("sh_n"), col("sh_o"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_n")) + size(col("sh_o")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
    arrIds.select(col("doc_id").as("new_id"))
      .join(hits, Seq("new_id"), "left")
      .groupBy("new_id")
      .agg(count(col("old_id")).as("n_dups"),
        max(struct(col("jaccard").as("j"), (-col("old_id")).as("nid")))
          .as("best"))
      .select(col("new_id").as("doc_id"), col("n_dups"),
        when(col("n_dups") > 0, -col("best.nid")).as("dup_of"),
        when(col("n_dups") > 0, col("best.j")).as("best_jaccard"),
        (col("n_dups") === 0).cast("int").as("kept"))
  }

  /** Build the persisted LSH dedup index from the already-ingested
    * corpus: verify payloads partitioned by pmod(doc_id, 32), band
    * buckets partitioned by pmod(bh, 64). */
  def buildDedupIndex(base: DataFrame, bandsDir: String,
      setsDir: String): Unit = {
    val sets0 = indexSets(base, "doc_id", "text")
    sets0.withColumn("sp", pmod(col("doc_id"), lit(32)))
      .write.partitionBy("sp").mode("overwrite").parquet(setsDir)
    indexBands(sets0)
      .write.partitionBy("bkp").mode("overwrite").parquet(bandsDir)
  }

  /** Apply ONE commit's arrivals to the persisted dedup index: probe
    * for duplicate verdicts, write them to `outDir`, append ONLY the
    * kept arrivals' rows. Extracted from the connector_dedup_ingest
    * handler (the Scd2.applyCommit precedent) so the checkpoint
    * recovery spec drives the exact production path. */
  def dedupIngestCommit(s: SparkSession, arrivals: DataFrame, v: Long,
      bandsDir: String, setsDir: String, outDir: String): Unit = {
    val arrSets = graft.CacheRegistry.register(
      indexSets(arrivals, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    probePersistedIndex(arrivals.select("doc_id"), arrSets,
        s.read.parquet(bandsDir), s.read.parquet(setsDir))
      .withColumn("version", lit(v))
      .write.mode("append").parquet(outDir)
    // read the just-written verdicts back from disk: recomputing them
    // here would re-read the index dirs after this very append
    val keptSets = arrSets.join(
      s.read.parquet(outDir)
        .filter(col("version") === v && col("kept") === 1)
        .select("doc_id"),
      "doc_id")
    keptSets.withColumn("sp", pmod(col("doc_id"), lit(32)))
      .write.partitionBy("sp").mode("append").parquet(setsDir)
    indexBands(keptSets)
      .write.partitionBy("bkp").mode("append").parquet(bandsDir)
  }
}
