package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Parity pin for the fused vote+best TypedImperativeAggregate
  * ([[VoteBestAgg]], r16): per (ma, mb) it must emit exactly the
  * spelled-out two-aggregate result — votes = COUNT(*) of the most-voted
  * offset with ties toward the SMALLER off (max(struct(votes, -off))),
  * filtered at minVotes — because mm_audio_fingerprint / mm_afp_prebuilt
  * results are hash-certified against the DuckDB oracle's spelled-out
  * SQL. Covers vote ties (off tiebreak), negative offsets, the minVotes
  * boundary, and a multi-partition input so partial-map merge runs. */
class VoteBestAggSpec extends SparkTestBase {

  test("fused vote-best matches the spelled-out two-aggregate recipe") {
    import spark.implicits._
    // deterministic synthetic candidates: engineered duplicate rows so
    // several (ma, mb, off) groups have votes in {1..7}, including exact
    // vote ties between a positive and a negative off for the same pair
    val rows = (for {
      ma <- 0L until 6L
      mb <- (ma + 1) to (ma + 3)
      off <- Seq(-3L, 0L, 2L)
      rep <- 0 until (((ma + 2 * mb + 3 * (off + 3)) % 7) + 1).toInt
    } yield (ma, mb, off)) ++
      // exact tie: (10, 11) gets 5 votes at off=+4 AND 5 votes at off=-4
      Seq.fill(5)((10L, 11L, 4L)) ++ Seq.fill(5)((10L, 11L, -4L)) ++
      // below the minVotes floor
      Seq.fill(4)((12L, 13L, 1L))
    val df = rows.toDF("ma", "mb", "off").repartition(7)

    val spelled = df
      .groupBy("ma", "mb", "off").agg(count(lit(1)).as("votes"))
      .groupBy("ma", "mb")
      .agg(max(struct(col("votes"), (-col("off")).as("noff"))).as("m"))
      .select(col("ma"), col("mb"), col("m.votes").as("votes"),
        (-col("m.noff")).as("off"))
      .filter(col("votes") >= 5)
      .orderBy("ma", "mb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))

    val fused = df
      .groupBy("ma")
      .agg(GraftFunctions.voteBest(
        col("mb") * lit(2097152L) + (col("off") + lit(1048576L)), 5)
        .as("vb"))
      .select(col("ma"), explode(col("vb")).as("e"))
      .select(col("ma"), col("e.mb"), col("e.votes"), col("e.off"))
      .orderBy("ma", "mb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))

    assert(fused.nonEmpty, "parity set must exercise surviving pairs")
    assert(fused.toSeq == spelled.toSeq)
    // the engineered tie must resolve toward the smaller off in BOTH
    val tie = fused.find(e => e._1 == 10L && e._2 == 11L).get
    assert(tie._4 == -4L && tie._3 == 5L)
    // the 4-vote pair must be filtered by minVotes=5 in both
    assert(!fused.exists(_._1 == 12L))
  }

  test("serialize/deserialize round-trips the open-addressing map") {
    val agg = VoteBestAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0L), 1)
    val m = agg.createAggregationBuffer()
    val keys = Seq(0L, 1L, 2097152L, 5L * 2097152L + 1048580L,
      (1L << 41) * 2097152L + 1L)
    keys.zipWithIndex.foreach { case (k, i) =>
      (0 to i).foreach(_ => m.add(k, 1L)) }
    val rt = agg.deserialize(agg.serialize(m))
    assert(rt.size == m.size)
    keys.zipWithIndex.foreach { case (k, i) =>
      val m2 = agg.createAggregationBuffer()
      agg.merge(m2, rt)
      // counts survive: merging into an empty map reproduces them
      assert(m2.size == m.size)
    }
    // growth path: many distinct keys through the pow-2 resize
    val big = agg.createAggregationBuffer()
    (0L until 5000L).foreach(k => big.add(k * 2097152L + 1048576L, 2L))
    assert(big.size == 5000)
    val rt2 = agg.deserialize(agg.serialize(big))
    assert(rt2.size == 5000)
  }
}
