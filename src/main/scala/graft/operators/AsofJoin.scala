package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal) join — for each left row, the value from the latest
  * right row with the same key and `rightTime <= leftTime`. Spark has no
  * built-in; the naive formulation (`l.t >= r.t` range join + argmax) is
  * O(|L|·|R|) per key. This implementation uses the scalable
  * union-and-carry-forward shape:
  *
  *   1. union both sides on (key, time, side-tag, value);
  *   2. one window over key ordered by (time, tag) — right rows sort
  *      before left rows at equal times, giving `<=` semantics;
  *   3. `last(value, ignoreNulls)` carries the latest right value
  *      forward; keep only left rows.
  *
  * Cost: ONE shuffle of |L|+|R| rows on the key plus a per-partition
  * sort — the same price as a groupBy, at any scale. Hot keys can be
  * salted by splitting the left side per salt and replicating only the
  * right rows of that key (standard window-skew treatment); AQE does not
  * re-plan windows.
  *
  * The right side must be unique per (key, time) — dedupe first (e.g.
  * groupBy(key, time).agg(max(...))) or ties are nondeterministic.
  *
  * NULL semantics: ASOF equality never matches NULL keys, so right rows
  * with a NULL key or NULL time are dropped before the union (otherwise
  * the window would group left NULL-key rows — including failed key
  * casts — with them and hand over their values). Left rows always
  * survive (left-join shape) with a NULL result. A legitimately-NULL
  * `valueCol` on a matching right row is indistinguishable from "no
  * match yet", so the previous non-null value is carried over —
  * documented divergence from engines that track matches separately.
  */
object AsofJoin {

  def asofJoin(left: DataFrame, leftKey: String, leftTime: String,
      right: DataFrame, rightKey: String, rightTime: String,
      valueCol: String, as: String): DataFrame = {
    val valueType = right.schema(valueCol).dataType
    val lSide = left
      .withColumn("__k", col(leftKey).cast(right.schema(rightKey).dataType))
      .withColumn("__t", col(leftTime))
      .withColumn("__tag", lit(1))
      .withColumn("__v", lit(null).cast(valueType))
    val rSide = right
      .filter(col(rightKey).isNotNull && col(rightTime).isNotNull)
      .select(
        col(rightKey).as("__k"), col(rightTime).as("__t"),
        lit(0).as("__tag"), col(valueCol).as("__v"))
    val unioned = lSide.unionByName(rSide, allowMissingColumns = true)
    val w = Window.partitionBy("__k").orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn(as, last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .drop("__k", "__t", "__tag", "__v")
  }

  /** Skew-resistant variant: the plain window serializes each key into
    * ONE task, so a hot key (one user producing 1% of a 100 TB event
    * stream) becomes a straggler. Standard window-skew treatment: left
    * rows are salted into `salts` sub-partitions (hashed on the time
    * column — any per-row attribute works, the salt only spreads load),
    * right rows are REPLICATED to every salt, and the window runs per
    * (key, salt). Each left row still sees every right row of its key,
    * so results are identical; the cost is `salts`× duplication of the
    * (small) right side — the same trade as a salted broadcast join.
    * Rows of a hot key sharing one timestamp land on one salt; salt on
    * a finer attribute if that is the skew shape. */
  def asofJoinSalted(left: DataFrame, leftKey: String, leftTime: String,
      right: DataFrame, rightKey: String, rightTime: String,
      valueCol: String, as: String, salts: Int = 8): DataFrame = {
    val valueType = right.schema(valueCol).dataType
    val lSide = left
      .withColumn("__k", col(leftKey).cast(right.schema(rightKey).dataType))
      .withColumn("__t", col(leftTime))
      .withColumn("__tag", lit(1))
      .withColumn("__v", lit(null).cast(valueType))
      .withColumn("__salt",
        pmod(xxhash64(col(leftTime).cast("string")), lit(salts)).cast("int"))
    val rSide = right
      .filter(col(rightKey).isNotNull && col(rightTime).isNotNull)
      .select(
        col(rightKey).as("__k"), col(rightTime).as("__t"),
        lit(0).as("__tag"), col(valueCol).as("__v"),
        explode(sequence(lit(0), lit(salts - 1))).as("__salt"))
    val unioned = lSide.unionByName(rSide, allowMissingColumns = true)
    val w = Window.partitionBy("__k", "__salt").orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn(as, last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .drop("__k", "__t", "__tag", "__v", "__salt")
  }

  def defs: Seq[QueryDef] = Seq(
    // Events as-of-joined to the latest order of the same user. Order
    // times are remapped into the events window deterministically on
    // BOTH sides (o_orderkey % 720 hours past 2024-01-01) so matches
    // genuinely interleave. Oracle is DuckDB's native ASOF JOIN.
    QueryDef.sql(
      "q_asof_join",
      """WITH o AS (
        |  SELECT o_custkey,
        |    TIMESTAMP '2024-01-01 00:00:00'
        |      + (o_orderkey % 720) * INTERVAL 1 HOUR AS t,
        |    max(o_orderkey) AS last_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT event_id, user_id, last_orderkey
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.t
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
        .withColumn("t", expr(
          "timestamp'2024-01-01 00:00:00' + " +
            "make_interval(0, 0, 0, 0, CAST(o_orderkey % 720 AS INT), 0, 0)"))
        .groupBy("o_custkey", "t")
        .agg(max("o_orderkey").as("last_orderkey"))
      val events = Tables.events(s, d).select("event_id", "user_id", "ts")
      asofJoin(events, "user_id", "ts",
          orders, "o_custkey", "t", "last_orderkey", as = "last_orderkey")
        .select("event_id", "user_id", "last_orderkey")
        .orderBy("event_id")
    },

    // The salted (hot-key) as-of join against the SAME native-ASOF
    // oracle — salting must be invisible in the result.
    QueryDef.sql(
      "q_asof_join_salted",
      """WITH o AS (
        |  SELECT o_custkey,
        |    TIMESTAMP '2024-01-01 00:00:00'
        |      + (o_orderkey % 720) * INTERVAL 1 HOUR AS t,
        |    max(o_orderkey) AS last_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT event_id, user_id, last_orderkey
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.t
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
        .withColumn("t", expr(
          "timestamp'2024-01-01 00:00:00' + " +
            "make_interval(0, 0, 0, 0, CAST(o_orderkey % 720 AS INT), 0, 0)"))
        .groupBy("o_custkey", "t")
        .agg(max("o_orderkey").as("last_orderkey"))
      val events = Tables.events(s, d).select("event_id", "user_id", "ts")
      asofJoinSalted(events, "user_id", "ts",
          orders, "o_custkey", "t", "last_orderkey", as = "last_orderkey",
          salts = 8)
        .select("event_id", "user_id", "last_orderkey")
        .orderBy("event_id")
    }
  )
}
