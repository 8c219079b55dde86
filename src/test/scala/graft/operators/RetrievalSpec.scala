package graft.operators

import graft.{SparkTestBase, Tables}

/** Cross-checks the hybrid-retrieval operators against independent
  * driver-side recomputations from the raw embeddings/scores. */
class RetrievalSpec extends SparkTestBase {

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  private lazy val vecs: Map[Long, (Array[Float], Int)] =
    Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (
        r.getSeq[Float](1).toArray, r.getInt(2))).toMap

  test("sim_hybrid_rrf: RRF of the two rankings, fused list dominated by either input") {
    val rows = graft.SparkEntry.queries("sim_hybrid_rrf")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    assert(rows.length == 10)
    assert(rows.map(_._5).toSeq == (1 to 10))
    // every fused row carries at least one real rank, and the RRF value
    // recomputes from the two ranks (0 = absent from that list)
    rows.foreach { case (id, rrf, rd, rs, _) =>
      assert(rd > 0 || rs > 0, s"doc $id in neither list")
      val expect = (if (rd > 0) 1.0 / (60 + rd) else 0.0) +
        (if (rs > 0) 1.0 / (60 + rs) else 0.0)
      assert(math.abs(rrf - expect) < 1e-6, s"doc $id rrf $rrf != $expect")
    }
    // monotone: fused scores are non-increasing down the list
    assert(rows.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    // the dense rank-1 doc is the true nearest neighbor of vector 0
    val q = vecs(0L)._1
    val trueNn = vecs.collect { case (id, (v, _)) if id != 0L =>
      (math.rint(cosine(v, q) * 10000) / 10000, id) }
      .toSeq.sortBy { case (s, id) => (-s, id) }.head._2
    val denseTop = rows.filter(_._3 == 1)
    assert(denseTop.isEmpty || denseTop.head._1 == trueNn)
  }

  test("sim_margin_mining: margins recompute from exact top-4 cohort means") {
    val rows = graft.SparkEntry.queries("sim_margin_mining")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    assert(rows.nonEmpty && rows.map(_._4).toSeq == (1 to rows.length))
    val xs = vecs.collect { case (id, (v, 0)) => id -> v }.toMap
    val ys = vecs.collect { case (id, (v, 1)) => id -> v }.toMap
    def c4(a: Array[Float], b: Array[Float]): Long =
      math.rint(cosine(a, b) * 10000).toLong
    val all = for ((sid, sv) <- xs.toSeq; (tid, tv) <- ys.toSeq)
      yield (sid, tid, c4(sv, tv))
    def top4(by: Map[Long, Seq[(Long, Long)]], id: Long): Long =
      by(id).sortBy { case (other, c) => (-c, other) }.take(4).map(_._2).sum
    val bySrc = all.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val byTgt = all.groupBy(_._2).view
      .mapValues(_.map(t => (t._1, t._3)).toSeq).toMap
    rows.foreach { case (src, tgt, margin, _) =>
      val c = all.find(t => t._1 == src && t._2 == tgt).get._3
      val den = top4(bySrc, src) + top4(byTgt, tgt)
      assert(c > 0 && den > 0)
      val expect = ((2 * c * 8 * 10000 + den) / (2 * den)).toDouble / 10000
      assert(math.abs(margin - expect) < 1e-9, s"($src,$tgt): $margin vs $expect")
      // a mined pair beats the cohort-mean similarity by construction
      assert(margin > 1.0, s"top-20 margin should exceed 1: $margin")
    }
    // monotone down the ranked list
    assert(rows.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("ndcg: idcg matches the closed form; dcg <= idcg; ndcg in (0,1]") {
    val rows = graft.SparkEntry.queries("q_ndcg")(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(1, 3, 5, 10))
    // ideal DCG replay: graded rel 10..1, 6dp-rounded log2 then 6dp terms
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val terms = (1 to 10)
      .map(j => r6((11 - j) / r6(math.log(j + 1.0) / math.log(2.0))))
    rows.foreach { case (k, dcg, idcg, ndcg) =>
      val expIdcg = terms.take(k).sum
      assert(math.abs(idcg - expIdcg) < 1e-6, s"idcg@$k: $idcg vs $expIdcg")
      assert(dcg >= 0.0 && dcg <= idcg + 1e-9, s"dcg@$k out of range: $dcg")
      assert(ndcg > 0.0 && ndcg <= 1.0, s"ndcg@$k out of range: $ndcg")
      // the half-up-4 ratio law, replayed on the e6-scaled sums
      val (de6, ie6) = (math.rint(dcg * 1e6).toLong,
        math.rint(idcg * 1e6).toLong)
      val expect = ((2 * de6 * 10000 + ie6) / (2 * ie6)).toDouble / 10000
      assert(math.abs(ndcg - expect) < 1e-9, s"ndcg@$k: $ndcg vs $expect")
    }
    // nDCG@10 of the hybrid retriever should beat chance comfortably on
    // a corpus where the dense arm IS the truth metric's top-100
    assert(rows.last._4 >= 0.2, s"ndcg@10 suspiciously low: ${rows.last._4}")
  }
}
