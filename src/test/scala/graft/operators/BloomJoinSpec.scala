package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}
import graft.functions.GraftFunctions

class BloomJoinSpec extends SparkTestBase {

  test("bloom-reduced join is bit-identical to the plain join") {
    val dim = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderstatus") === "O")
      .select("o_orderkey", "o_orderdate")
    val fact = Tables.lineitem(spark, sf0001)

    val reduced = BloomJoin
      .bloomReduceJoin(fact, "l_orderkey", dim, "o_orderkey")
      .select("l_orderkey", "l_linenumber", "o_orderdate")
    val plain = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_orderdate")

    assert(reduced.exceptAll(plain).isEmpty && plain.exceptAll(reduced).isEmpty)
    assert(plain.count() > 0)
  }

  test("no false negatives: every dim key passes the probe") {
    val dim = Tables.orders(spark, sf0001).select("o_orderkey")
    val n = dim.count()
    val bloom = dim.stat.bloomFilter("o_orderkey", n, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val passed = dim.filter(
      GraftFunctions.bloomContains(bos.toByteArray, col("o_orderkey"))).count()
    assert(passed === n)
  }

  test("the probe filters the fact scan BEFORE the join exchange") {
    val p = graft.SparkEntry.queries("q_bloom_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_bloom_contains"),
      s"bloom probe missing from the physical plan:\n$p")
    // The probe must sit in a Filter on the lineitem side, not above the
    // join: in the tree rendering it appears strictly below the join node.
    val joinAt = math.max(p.indexOf("Join"), 0)
    val probeAt = p.indexOf("graft_bloom_contains")
    assert(probeAt > joinAt,
      s"probe should be below (after, in tree print order) the join:\n$p")
  }

  test("probe rejects a key absent from the filter side (fpp-bounded)") {
    import spark.implicits._
    val keys = (1L to 1000L).toDF("k")
    val bloom = keys.stat.bloomFilter("k", 1000, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val foreign = (100001L to 101000L).toDF("k")
    val falsePositives = foreign.filter(
      GraftFunctions.bloomContains(bos.toByteArray, col("k"))).count()
    assert(falsePositives <= 50, s"fpp blew past 5x its budget: $falsePositives")
  }
}
