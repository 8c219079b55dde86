package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (range) join — points matched to containing time intervals.
  * Spark has no built-in range join: `l.ts BETWEEN r.s AND r.e` planned
  * naively is a broadcast/shuffled nested-loop join, O(|P|·|I|) — at
  * 100 TB that is the difference between minutes and never-finishes.
  *
  * This implementation buckets time into fixed windows of `bucketSeconds`:
  * each interval is replicated to every bucket it overlaps
  * (`sequence(floor(s/W), floor(e/W))` + explode) and each point lands in
  * exactly one bucket, so the candidate set comes from an EQUI-join on the
  * bucket id, followed by the exact containment filter. Each (point,
  * interval) pair meets in exactly one bucket — the point's — so no
  * dedup pass is needed.
  *
  * Cost model: one shuffle of |P| + |I|·(len/W + 1) rows; fan-out is
  * bounded by interval length over bucket width, so pick W near the
  * median interval length. Hot buckets (rush-hour data) are ordinary
  * equi-join skew — AQE skew-join splitting or salting the bucket id
  * applies unchanged. Composes with an additional equi-key (user, region)
  * by joining on (key, bucket).
  */
object RangeJoin {

  /** Join `points` (timestamp `ptCol`) to `intervals` rows whose
    * [startCol, endCol) half-open range contains the point. */
  def pointInInterval(points: DataFrame, ptCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketSeconds: Long): DataFrame = {
    val w = lit(bucketSeconds)
    val pB = points.withColumn("__bk",
      floor(unix_timestamp(col(ptCol)) / w))
    val iB = intervals.withColumn("__bk",
      explode(sequence(
        floor(unix_timestamp(col(startCol)) / w),
        floor(unix_timestamp(col(endCol)) / w))))
    pB.join(iB, Seq("__bk"))
      .filter(col(ptCol) >= col(startCol) && col(ptCol) < col(endCol))
      .drop("__bk")
  }

  def defs: Seq[QueryDef] = Seq(
    // Events joined to 1-hour order-activity windows (same deterministic
    // remap as q_asof_join), counted per order. Oracle is DuckDB's native
    // range join (IEJoin); the Spark side proves the bucketed equi-join
    // produces the identical match set. (Interval length sets the
    // query's INTRINSIC output size — avg overlap density × |points| —
    // independent of the join algorithm; 1 h keeps the verified result
    // in the millions, not hundreds of millions, at bench scale.)
    QueryDef.sql(
      "q_range_join",
      """WITH i AS (
        |  SELECT o_orderkey,
        |    TIMESTAMP '2024-01-01 00:00:00'
        |      + (o_orderkey % 720) * INTERVAL 1 HOUR AS s_ts,
        |    TIMESTAMP '2024-01-01 00:00:00'
        |      + (o_orderkey % 720) * INTERVAL 1 HOUR + INTERVAL 1 HOUR AS e_ts
        |  FROM orders)
        |SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM i JOIN events ev ON ev.ts >= i.s_ts AND ev.ts < i.e_ts
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val intervals = Tables.orders(s, d).select(
          col("o_orderkey"),
          expr("timestamp'2024-01-01 00:00:00' + " +
            "make_interval(0, 0, 0, 0, CAST(o_orderkey % 720 AS INT), 0, 0)")
            .as("s_ts"))
        .withColumn("e_ts", expr("s_ts + make_interval(0, 0, 0, 0, 1, 0, 0)"))
      val points = Tables.events(s, d).select("event_id", "ts")
      pointInInterval(points, "ts", intervals, "s_ts", "e_ts",
          bucketSeconds = 3600L)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("o_orderkey")
    }
  )
}
