package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** Cross-checks the sketch-based dedup ops against brute-force ground
  * truth on sf0.001 (the driver's rows-only gate can't see quality; these
  * specs can). */
class DedupSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sf0001).cache()

  /** Brute-force all-pairs shingle-hash Jaccard — test oracle ONLY
    * (O(n²), never the production path). Uses the same shingle-hash
    * function as the production pipeline, so the comparison is
    * like-for-like. */
  private def brutePairs(threshold: Double, shingleSize: Int): Set[(Long, Long)] = {
    val sh = docs.select(col("doc_id"),
      Dedup.shingleHashes(col("text"), shingleSize).as("sh"))
    sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))))
      .filter(col("j") >= threshold)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash LSH finds exactly the true near-dup pairs at 0.8") {
    val found = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = brutePairs(0.8, 3)
    // exact Jaccard verification runs on candidates, so no false
    // positives are possible; LSH banding could in principle miss a
    // candidate, but not at these similarity levels (>0.94 corpus)
    assert(found == truth)
    assert(found.nonEmpty)
  }

  test("no LSH bucket exceeds the skew cap (all-pairs oracle precondition)") {
    // The DuckDB all-pairs oracle certifies FULL pair recall only while
    // every (band, bandHash) bucket stays under maxBucketSize (oversized
    // buckets are chain-linked, abridging the pairwise listing). Assert
    // the precondition holds on the gate corpus so the certificate is
    // sound.
    val sig = docs.select(col("doc_id"),
        Dedup.shingleHashes(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", Dedup.minhashSignature(col("sh"), 64))
    val maxBucket = sig
      .select(posexplode(graft.functions.GraftFunctions.lshBands(col("sig"), 16, 4)))
      .groupBy("pos", "col").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket <= 1000, s"oversized LSH bucket ($maxBucket docs)")
  }

  test("oversized buckets chain-link: clusters survive the skew cap") {
    // Force every bucket oversized (cap=1): all-pairs candidates are
    // impossible, only the doc_id-adjacent chain remains — yet the true
    // near-dup clusters must still come out connected.
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8,
      maxBucketSize = 1)
    val capped = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(
        Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8),
        "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same vertex set, same components (chains keep cliques connected
    // whenever adjacent members pass the Jaccard verify — true for the
    // corpus's near-identical duplicate groups)
    assert(capped == full)
  }

  test("simhash banding finds the near-dup clusters") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = brutePairs(0.9, 3)
    // simhash(hamming<=3) is a different similarity surface than jaccard;
    // require substantial overlap with the true >0.9 cluster, zero noise
    // against a low bar is checked by the jaccard>=0.5 recheck below
    val overlap = pairs.intersect(truth).size.toDouble / truth.size
    assert(overlap >= 0.5, s"simhash recall $overlap too low ($pairs vs $truth)")
  }

  test("LSH bucket join prunes the candidate space (no all-pairs)") {
    val n = docs.count()
    val allPairs = n * (n - 1) / 2
    // candidate pairs BEFORE the jaccard filter (threshold 0 keeps all)
    val candidates = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.0).count()
    assert(candidates < allPairs / 100,
      s"LSH produced $candidates candidates of $allPairs possible — not pruning")
  }

  test("char-ngram jaccard pairs match brute-force char-ngram ground truth") {
    val found = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.8, shingleSize = 5, shingler = Dedup.charNgramHashes)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = docs.select(col("doc_id"),
      Dedup.charNgramHashes(col("text"), 5).as("sh"))
    val truth = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))))
      .filter(col("j") >= 0.8)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth)
    assert(found.nonEmpty)
  }

  test("connected components match driver-side union-find on the same pairs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b")
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    // reference union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // every component's label is its min member
    val byCluster = got.groupBy(_._2).view.mapValues(_.keys.min).toMap
    byCluster.foreach { case (label, minMember) => assert(label == minMember) }
  }

  test("keep-representatives = corpus minus non-keeper cluster members") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8)
    val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expectedDropped = clusters.filter { case (id, c) => id != c }.map(_._1).toSet
    val keep = Dedup.defs.find(_.name == "dedup_keep_representatives").get
      .build(spark, sf0001).collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keep == all -- expectedDropped)
    // exactly one survivor per cluster
    val byCluster = clusters.groupBy(_._2)
    byCluster.foreach { case (label, members) =>
      assert(members.map(_._1).toSet.intersect(keep) == Set(label))
    }
  }

  test("connected components of an empty pair set is empty (no NPE)") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(none, "doc_a", "doc_b").count() == 0)
  }

  test("chain graph converges to one component (propagation fixpoint)") {
    import spark.implicits._
    // path 1-2-3-...-8: worst case for label propagation; fixpoint loop
    // must still converge (7 rounds < maxIter)
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(chain, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length == 8 && cc.forall(_._2 == 1L))
  }

  test("star contraction preserves components and min-id labels exactly") {
    import spark.implicits._
    // adversarial shapes in one edge list: a long chain (17-24), a
    // clique (1,2,3), a star (30; 31-34), and an isolated edge (50,51)
    val edges = (
      (17L until 24L).map(i => (i, i + 1)) ++
        Seq((1L, 2L), (2L, 3L), (1L, 3L)) ++
        (31L to 34L).map(i => (30L, i)) ++
        Seq((50L, 51L))).toDF("doc_a", "doc_b")
    val edgesP = graft.CacheRegistry.ensurePersisted(edges)
    val direct = Dedup.connectedComponents(edgesP, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two contraction rounds, closure on the contracted graph, map back
    val (rep1, e1raw) = Dedup.starContract(edgesP, "doc_a", "doc_b")
    val e1 = graft.CacheRegistry.ensurePersisted(e1raw)
    val (rep2, e2) = Dedup.starContract(e1, "doc_a", "doc_b")
    val cc = Dedup.connectedComponents(e2, "doc_a", "doc_b",
      maxIter = 40, failOnMaxIter = true)
    val contracted = edgesP.select(explode(array(col("doc_a"), col("doc_b")))
        .as("id")).distinct()
      .join(rep1.select(col("v").as("id"), col("rep").as("r1")),
        Seq("id"), "left")
      .join(rep2.select(col("v").as("r1"), col("rep").as("r2")),
        Seq("r1"), "left")
      .withColumn("rfin", coalesce(col("r2"), col("r1"), col("id")))
      .join(cc.withColumnRenamed("id", "rfin"), Seq("rfin"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("rfin")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(contracted == direct,
      s"contracted labels diverge: ${contracted.toSeq.sorted} vs " +
        s"${direct.toSeq.sorted}")
    // the chain really did contract: the closure ran on a smaller graph
    assert(e2.count() < edgesP.count())
    graft.CacheRegistry.releaseAll()
  }

  test("log-star components match propagation labels; chain converges in O(log n)") {
    import spark.implicits._
    // a 64-chain would need 63 propagation rounds; log-star must land
    // the same labels within 10 (O(log² n)) — failOnMaxIter certifies it
    val chain = (0L until 63L).map(i => (i, i + 1))
    // plus a clique, a star, two isolated edges, in one edge list
    val edges = (chain ++ Seq((100L, 101L), (101L, 102L), (100L, 102L)) ++
      (111L to 114L).map(i => (110L, i)) ++ Seq((200L, 201L), (300L, 301L)))
      .toDF("doc_a", "doc_b")
    val edgesP = graft.CacheRegistry.ensurePersisted(edges)
    val logStar = Dedup.connectedComponentsLogStar(edgesP, "doc_a", "doc_b",
        maxIter = 10, failOnMaxIter = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.connectedComponents(edgesP, "doc_a", "doc_b",
        maxIter = 70, failOnMaxIter = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(logStar == prop,
      s"log-star diverges from propagation: " +
        s"${(logStar.toSet -- prop.toSet).take(5)} vs " +
        s"${(prop.toSet -- logStar.toSet).take(5)}")
    assert(logStar.values.toSet == Set(0L, 100L, 110L, 200L, 300L))
    graft.CacheRegistry.releaseAll()
  }

  test("auto closure (union-find and log-star paths) matches propagation") {
    import spark.implicits._
    val edges = ((0L until 63L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L)) ++
      (111L to 114L).map(i => (110L, i)) ++ Seq((200L, 201L), (300L, 301L)))
      .toDF("doc_a", "doc_b")
    val edgesP = graft.CacheRegistry.ensurePersisted(edges)
    val prop = Dedup.connectedComponents(edgesP, "doc_a", "doc_b",
        maxIter = 70, failOnMaxIter = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // default threshold → the driver union-find path
    val uf = Dedup.connectedComponentsAuto(edgesP, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == prop, s"union-find path diverges")
    // threshold 0 → the distributed log-star fallback path
    val ls = Dedup.connectedComponentsAuto(edgesP, "doc_a", "doc_b",
        collectThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ls == prop, s"log-star fallback path diverges")
    graft.CacheRegistry.releaseAll()
  }

  test("closure triple-parity on seeded random graphs (prop, log-star, auto)") {
    import spark.implicits._
    // deterministic driver-side reference: union-find with min labels
    def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      val edges = Seq.fill(n * 2)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val df = graft.CacheRegistry.ensurePersisted(edges.toDF("doc_a", "doc_b"))
      val want = reference(edges)
      def got(res: org.apache.spark.sql.DataFrame) =
        res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(Dedup.connectedComponents(df, "doc_a", "doc_b",
        maxIter = 70, failOnMaxIter = true)) == want, s"prop trial $trial")
      assert(got(Dedup.connectedComponentsLogStar(df, "doc_a", "doc_b",
        maxIter = 15, failOnMaxIter = true)) == want, s"logstar trial $trial")
      assert(got(Dedup.connectedComponentsAuto(df, "doc_a", "doc_b",
        collectThreshold = 0L)) == want, s"auto trial $trial")
      graft.CacheRegistry.releaseAll()
    }
  }

  test("log-star non-converged warn path still yields one label per id") {
    import spark.implicits._
    // a 12-vertex path needs ~4 alternation rounds; maxIter=1 with
    // failOnMaxIter=false exits early — labels may be unmerged, but the
    // frame must still be one row per id (duplicates would fan out every
    // downstream join; r11 ADVICE)
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponentsLogStar(path, "doc_a", "doc_b",
      maxIter = 1, failOnMaxIter = false)
    val rows = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length == rows.length,
      s"duplicate ids in non-converged labels: ${rows.toSeq.sorted}")
    assert(rows.map(_._1).toSet == (0L to 11L).toSet)
    // every label must be a valid vertex ≤ its id (min-directed)
    assert(rows.forall { case (id, lab) => lab <= id })
  }

  test("log-star on an empty edge list is empty (no NPE)") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponentsLogStar(none, "doc_a", "doc_b")
      .count() == 0)
  }

  test("native minhash kernel matches the HOF formulation exactly") {
    val sh = docs.select(col("doc_id"),
        Dedup.shingleHashes(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val both = sh.select(
      Dedup.minhashSignature(col("sh"), 64).as("native"),
      Dedup.minhashSignatureHof(col("sh"), 64).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)
  }

  test("native simhash kernel matches the HOF formulation exactly") {
    val both = docs.select(
      Dedup.simhash(col("text")).as("native"),
      Dedup.simhashHof(col("text")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)
  }

  test("exact dedup keeps one row per distinct text") {
    val deduped = docs.groupBy("text").agg(min("doc_id")).count()
    assert(deduped == docs.select("text").distinct().count())
  }

  test("incremental dedup matches new docs against OLD docs only") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different content about distributed query engines"
    val docs = Seq(
      (10L, a),                       // old: matches new 21
      (11L, b),                       // old: matches nothing new
      (20L, "unique new document with its own words entirely fresh"),
      (21L, a),                       // new: exact dup of old 10
      (23L, "another brand new text that appears twice in the batch"),
      (25L, "another brand new text that appears twice in the batch"))
      .toDF("doc_id", "text")
    val r = Dedup.incrementalDedup(docs, "doc_id", "text",
        isNew = col("doc_id") >= 20L, threshold = 0.8)
      .collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), if (x.isNullAt(2)) -1L else x.getLong(2),
          x.getInt(4))).toMap
    // every new doc gets a decision row
    assert(r.keySet == Set(20L, 21L, 23L, 25L))
    // 21 is a duplicate OF THE OLD CORPUS
    assert(r(21L) == ((1L, 10L, 0)))
    // 20 is fresh → kept
    assert(r(20L) == ((0L, -1L, 1)))
    // 23 and 25 duplicate EACH OTHER but nothing old → both kept:
    // within-batch duplicates are the self-join pipeline's job, not the
    // incremental pass's
    assert(r(23L) == ((0L, -1L, 1)))
    assert(r(25L) == ((0L, -1L, 1)))
  }

  test("incremental dedup picks the best old match deterministically") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, t), (2L, t),               // two identical old matches
      (30L, t))                       // the new doc
      .toDF("doc_id", "text")
    val row = Dedup.incrementalDedup(docs, "doc_id", "text",
        isNew = col("doc_id") >= 30L, threshold = 0.8)
      .collect().head
    assert(row.getLong(0) == 30L)
    assert(row.getLong(1) == 2L)      // both old docs matched
    assert(row.getLong(2) == 1L)      // tie on jaccard → min old id
    assert(row.getDouble(3) == 1.0)
    assert(row.getInt(4) == 0)
  }

  test("LongUnionFind: growth, min-root labels, sentinel guard") {
    // enough unions from a tiny initial capacity to force several grows
    // (initial cap for expected=2 is 16 slots; 10k vertices → 4 doublings)
    val uf = new LongUnionFind(2)
    // chain 0-1-2-...-4999 plus a disjoint star 10000-{10001..14999}
    (0L until 4999L).foreach(i => uf.union(i, i + 1))
    (10001L to 14999L).foreach(i => uf.union(10000L, i))
    assert(uf.size == 10000)
    assert(uf.find(4999L) == 0L)       // chain root = component min
    assert(uf.find(14999L) == 10000L)  // star root = component min
    val labels = uf.labels().toMap
    assert(labels.size == 10000)
    assert(labels.values.toSet == Set(0L, 10000L))
    // ids arriving in descending order still label by the component MIN
    val uf2 = new LongUnionFind(4)
    uf2.union(9L, 7L); uf2.union(7L, 3L); uf2.union(3L, 5L)
    assert(Seq(9L, 7L, 5L, 3L).map(uf2.find).toSet == Set(3L))
    // Long.MinValue is the empty-slot sentinel, never a legal vertex id
    intercept[IllegalArgumentException] {
      uf2.union(Long.MinValue, 1L)
    }
  }
}
