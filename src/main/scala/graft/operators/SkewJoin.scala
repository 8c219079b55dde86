package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manual key-salting for skewed equi-joins.
  *
  * AQE's skew-join splitting handles sort-merge skew at runtime, but it
  * can't help when a single build-side key floods every task (e.g. a
  * null-like sentinel key owning 30% of a 100 TB fact table), or when
  * the join runs under a non-AQE context (streaming joins, DSv1 sinks).
  * The classic fix: split the big side's hot keys across `salts`
  * sub-keys (deterministic hash of the whole row — any assignment
  * works, uniformity is all that matters) and replicate the small
  * side's rows to every salt. The join becomes (key, salt) equi, each
  * hot key now spread over `salts` tasks; the small side grows by
  * `salts`×, which is the explicit, bounded price.
  *
  * Semantics-preservation is the point of the q_join_salted oracle: the
  * salted plan must return row-for-row what the plain join returns.
  */
object SkewJoin {

  /** Inner equi-join of `big` and `small` on `key`, with the big side
    * salted into `salts` sub-keys and the small side replicated.
    *
    * The join is pinned to SHUFFLE_HASH: salting only exists because the
    * small side is too big to broadcast, but Catalyst's size estimate
    * for the replicated side ignores the `explode` fan-out and would
    * happily broadcast `salts`× the small table (driver OOM at the
    * scales that need salting — and a broadcast join wouldn't need salts
    * in the first place). Shuffle-hash on (key, salt) is the intended
    * physical shape: each hot key spread over `salts` tasks, hash table
    * built from the replicated (still smaller per-partition) side, no
    * sort of the big side. */
  def saltedInnerJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(hash(big.columns.map(col).toSeq: _*), lit(salts)))
    val replSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replSmall.hint("shuffle_hash"), Seq(key, "__salt"))
      .drop("__salt")
  }

  def defs: Seq[QueryDef] = Seq(
    // Salted lineitem ⋈ orders rollup — oracle is the PLAIN join, which
    // is exactly the claim: salting changes the physical distribution,
    // never the result.
    QueryDef.sql(
      "q_join_salted",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .withColumnRenamed("l_orderkey", "jk")
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("jk"), col("o_orderpriority"))
      saltedInnerJoin(li, ord, "jk", salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("total_qty"))
        .orderBy("o_orderpriority")
    }
  )
}
