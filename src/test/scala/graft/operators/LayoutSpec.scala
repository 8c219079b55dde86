package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class LayoutSpec extends SparkTestBase {

  test("zorder16 interleaves bits exactly (reference pairs)") {
    import spark.implicits._
    // (x, y, expected morton code) — hand-computed: bit i of x → 2i,
    // bit i of y → 2i+1
    val cases = Seq(
      (0L, 0L, 0L),
      (1L, 0L, 1L),
      (0L, 1L, 2L),
      (1L, 1L, 3L),
      (5L, 3L, 27L),        // x=101 → 010001, y=011 → 001010 ⇒ 011011
      (65535L, 0L, 0x55555555L),
      (0L, 65535L, 0xAAAAAAAAL),
      (65535L, 65535L, 0xFFFFFFFFL))
    val got = cases.toDF("x", "y", "want")
      .withColumn("z", Layout.zorder16(col("x"), col("y")))
      .collect()
    got.foreach(r => assert(r.getAs[Long]("z") == r.getAs[Long]("want"),
      s"(${r.getLong(0)}, ${r.getLong(1)})"))
  }

  test("z-order buckets are locality-preserving on both grid axes") {
    val buckets = graft.Tables.orders(spark, sf0001)
      .withColumn("cx", col("o_custkey") % 256)
      .withColumn("cy", col("o_orderkey") % 256)
      .withColumn("z", Layout.zorder16(col("cx"), col("cy")))
      .groupBy(shiftright(col("z"), 10).as("bucket"))
      .agg(count(lit(1)).as("n"),
        (max("cx") - min("cx")).as("cx_span"),
        (max("cy") - min("cy")).as("cy_span"))
      .collect()
    // dense keys cover the grid, so many distinct range buckets form
    assert(buckets.length > 16)
    // every bucket confines BOTH grid axes: the top 6 bits of the
    // 16-bit Morton code pin 3 of 8 bits per axis ⇒ span < 2^5 —
    // the property that lets per-file min/max stats prune on either
    // predicate column after a zorder-sorted write.
    buckets.foreach { r =>
      assert(r.getAs[Long]("cx_span") < 32,
        s"bucket ${r.get(0)} cx_span ${r.get(2)}")
      assert(r.getAs[Long]("cy_span") < 32,
        s"bucket ${r.get(0)} cy_span ${r.get(3)}")
    }
  }

  test("hilbert index is a bijective walk with unit steps (bits=4 full grid)") {
    import spark.implicits._
    val cells = for (x <- 0 until 16; y <- 0 until 16)
      yield (x.toLong, y.toLong)
    val walked = cells.toDF("x", "y")
      .withColumn("d",
        graft.functions.GraftFunctions.hilbert(col("x"), col("y"), 4))
      .collect()
      .map(r => (r.getAs[Long]("d"), r.getAs[Long]("x"), r.getAs[Long]("y")))
      .sortBy(_._1)
    // bijection: d covers 0..255 exactly once
    assert(walked.map(_._1).toSeq == (0L until 256L))
    // curve property: consecutive indices are GRID NEIGHBORS (Manhattan
    // distance 1) — the locality Z-order lacks at quadrant seams
    walked.sliding(2).foreach { case Array((_, x1, y1), (d2, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-adjacent step into d=$d2: ($x1,$y1)->($x2,$y2)")
    }
  }

  test("hilbert buckets are aligned quadrants: span ≤ 32 on both axes") {
    val buckets = graft.SparkEntry.queries("q_hilbert_layout")(spark, sf0001)
      .collect()
    assert(buckets.length > 16)
    buckets.foreach { r =>
      assert(r.getAs[Long]("cust_cell_max") - r.getAs[Long]("cust_cell_min") < 32,
        s"bucket ${r.get(0)} cust span")
      assert(r.getAs[Long]("order_cell_max") - r.getAs[Long]("order_cell_min") < 32,
        s"bucket ${r.get(0)} order span")
    }
  }

  test("shard manifest: detects a single-row corruption, ignores order") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf0001)
    val base = graft.SparkEntry.queries("q_shard_manifest")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(base.values.map(_._1).sum == docs.count())
    // recompute over a REVERSED-order scan: fingerprints are identical
    // (the sum is commutative — the property that makes the manifest
    // layout-independent)
    val rev = docs.orderBy(col("doc_id").desc)
    val h = substring(md5(concat(col("doc_id").cast("string"), lit(":"),
      col("text"))), 1, 4)
    val hexVal = (1 to 4).map { i =>
      val mult = math.pow(16, 4 - i).toLong
      (instr(lit("0123456789abcdef"), substring(col("h"), i, 1)) - 1)
        .cast("bigint") * mult
    }.reduce(_ + _)
    def fp(df: org.apache.spark.sql.DataFrame) = df
      .select(expr("doc_id div 100").as("shard"), h.as("h"))
      .groupBy("shard").agg(sum(hexVal).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(rev) == base.view.mapValues(_._2).toMap)
    // flip one character of one doc: exactly that shard's print changes
    val corrupted = docs.withColumn("text",
      when(col("doc_id") === 0, concat(col("text"), lit("x")))
        .otherwise(col("text")))
    val after = fp(corrupted)
    val changed = base.keys.filter(k => after(k) != base(k)._2).toSeq
    assert(changed == Seq(0L), s"changed shards: $changed")
  }

  test("overlap depth matches a driver-side interval replay") {
    val r = graft.SparkEntry.queries("q_overlap_depth")(spark, sf0001)
      .collect()(0)
    val nShards = r.getAs[Long]("n_shards")
    val maxDepth = r.getAs[Long]("max_depth")
    val sumStart = r.getAs[Long]("sum_start_depth")
    // replay the sweep on the collected zone maps (shard count is
    // metadata-scale, so the replay is cheap and exact)
    val z = graft.Tables.lineitem(spark, sf0001)
      .groupBy(expr("l_orderkey div 1000").as("shard"))
      .agg(min("l_shipdate").as("mn"), max("l_shipdate").as("mx"))
      .collect()
      .map(x => (x.getTimestamp(1).getTime, x.getTimestamp(2).getTime))
    assert(nShards == z.length)
    val expMax = z.map { case (a, _) =>
      z.count { case (c, d) => c <= a && a <= d } }.max
    assert(maxDepth == expMax, s"max depth $maxDepth vs replay $expMax")
    val expSum = z.map { case (a, _) =>
      z.count { case (c, d) => c <= a && a <= d }.toLong }.sum
    assert(sumStart == expSum)
    assert(r.getAs[Double]("avg_start_depth") >= 1.0)
  }
}
