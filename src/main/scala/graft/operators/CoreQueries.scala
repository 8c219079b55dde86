package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator coverage: one verifiable query per SURVEY.md §2.2
  * category (the surface the reference delegates to its host engine, and we
  * delegate to Spark SQL / Catalyst).
  *
  * Scale notes (100 TB design), applied throughout:
  *  - dimension⋈fact joins broadcast the dimension explicitly;
  *  - fact⋈fact joins shuffle on the join key and rely on AQE for skew;
  *  - aggregates are hash aggregates with map-side partial aggregation
  *    (free with groupBy/agg);
  *  - LIMIT is always preceded by a total order with a unique tiebreak, so
  *    results are stable under any partitioning;
  *  - double sums go through DECIMAL(18,2) so the result is exact and
  *    independent of partition/merge order (a plain double sum differs in
  *    the last ulps run-to-run at scale, which breaks both the oracle hash
  *    and any cross-run comparison).
  */
object CoreQueries {

  /** Order-independent exact sum of a double column: cast to decimal, sum
    * exactly, cast back. Same construct on the DuckDB side. */
  private def dsum(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
  /** Deterministic mean built from the exact sum (avg(double) is
    * merge-order dependent; this is not). */
  private def davg(c: String): String =
    s"ROUND(CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / COUNT($c), 4)"

  def defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Scan + filter + projection + limit (reference example
    // examples/query_from_catalog.rs:22 shape). Filter and projection
    // reach the parquet scan (PushedFilters / ReadSchema in explain).
    QueryDef.sql(
      "q_scan_filter_project_limit",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber LIMIT 25""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(25)
    },

    // ------------------------------------------------------------------
    // Hash aggregation with partial (map-side) aggregation — TPC-H Q1 shape.
    QueryDef.sql(
      "q_agg_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  ${davg("l_discount")} AS avg_disc,
         |  CAST(COUNT(*) AS BIGINT) AS count_order
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          expr(dsum("l_quantity")).as("sum_qty"),
          expr(dsum("l_extendedprice")).as("sum_base_price"),
          expr(davg("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ------------------------------------------------------------------
    // Broadcast hash join: small dimension (customer) broadcast to the
    // fact (orders) — no shuffle of the fact side at any scale.
    QueryDef.sql(
      "q_join_broadcast",
      s"""SELECT c_mktsegment,
         |  CAST(COUNT(*) AS BIGINT) AS order_cnt,
         |  ${dsum("o_totalprice")} AS total_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("order_cnt"),
          expr(dsum("o_totalprice")).as("total_price"))
        .orderBy("c_mktsegment")
    },

    // ------------------------------------------------------------------
    // Large-large join: lineitem ⋈ orders shuffles both sides on the key
    // (sort-merge or shuffled-hash; AQE decides). The groupBy reuses no
    // special partitioning — partial aggregation keeps the shuffle small.
    QueryDef.sql(
      "q_join_shuffle",
      s"""SELECT o_orderpriority,
         |  CAST(COUNT(*) AS BIGINT) AS line_cnt,
         |  ${dsum("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderstatus = 'F'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("line_cnt"),
          expr(dsum("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    },

    // ------------------------------------------------------------------
    // Left outer join, counting unmatched right rows.
    QueryDef.sql(
      "q_join_left_outer",
      """SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS row_cnt,
        |  CAST(COUNT(o_orderkey) AS BIGINT) AS matched_cnt
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("row_cnt"), count(col("o_orderkey")).as("matched_cnt"))
        .orderBy("c_mktsegment")
    },

    // ------------------------------------------------------------------
    // Full outer join: row-preservation on both sides (nation keys that
    // have customers, suppliers, both, or neither side null).
    QueryDef.sql(
      "q_join_full_outer",
      """SELECT cnk, snk, CAST(COALESCE(cn, 0) AS BIGINT) AS cn,
        |  CAST(COALESCE(sn, 0) AS BIGINT) AS sn
        |FROM (SELECT c_nationkey AS cnk, COUNT(*) AS cn FROM customer GROUP BY 1) c
        |FULL OUTER JOIN
        |  (SELECT s_nationkey AS snk, COUNT(*) AS sn FROM supplier GROUP BY 1) s
        |  ON cnk = snk
        |ORDER BY cnk NULLS FIRST, snk NULLS FIRST""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("cnk"))
        .agg(count(lit(1)).as("cn"))
      val sup = Tables.supplier(s, d).groupBy(col("s_nationkey").as("snk"))
        .agg(count(lit(1)).as("sn"))
      c.join(sup, col("cnk") === col("snk"), "full_outer")
        .select(col("cnk"), col("snk"),
          coalesce(col("cn"), lit(0L)).as("cn"),
          coalesce(col("sn"), lit(0L)).as("sn"))
        .orderBy(col("cnk").asc_nulls_first, col("snk").asc_nulls_first)
    },

    // ------------------------------------------------------------------
    // Scalar subquery (decimal-exact mean so the comparison boundary is
    // engine-independent).
    QueryDef.sql(
      "q_scalar_subquery",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         / COUNT(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_totalprice > (
          |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         / COUNT(*) FROM orders)
          |ORDER BY o_orderkey""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Correlated subquery (decorrelated by Catalyst into a join):
    // customers above their own nation's average balance.
    QueryDef.sql(
      "q_correlated_subquery",
      """SELECT c_custkey FROM customer c1
        |WHERE c_acctbal > (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT c_custkey FROM customer c1
          |WHERE c_acctbal > (
          |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          |  FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Semi join (EXISTS): customers that have at least one order.
    QueryDef.sql(
      "q_join_semi",
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // ------------------------------------------------------------------
    // Anti join (NOT EXISTS): customers with no orders.
    QueryDef.sql(
      "q_join_anti",
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // ------------------------------------------------------------------
    // ROLLUP — hierarchical subtotals (grouping-set expansion in one pass).
    QueryDef.sql(
      "q_rollup",
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(COUNT(*) AS BIGINT) AS n, ${dsum("o_totalprice")} AS total
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), expr(dsum("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    // ------------------------------------------------------------------
    // CUBE — all grouping combinations.
    QueryDef.sql(
      "q_cube",
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(COUNT(*) AS BIGINT) AS n, ${dsum("l_quantity")} AS qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), expr(dsum("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // ------------------------------------------------------------------
    // GROUPING SETS via the SQL entry point (spark.sql).
    QueryDef.sql(
      "q_grouping_sets",
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Window functions: rank / dense_rank / row_number with a unique
    // tiebreak so results are total-ordered and deterministic.
    QueryDef.sql(
      "q_window_rank",
      """SELECT c_custkey, c_mktsegment, rnk, rn FROM (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(rank() OVER w AS INTEGER) AS rnk,
        |    CAST(row_number() OVER w AS INTEGER) AS rn
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |) WHERE rnk <= 5 ORDER BY c_mktsegment, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .withColumn("rnk", rank().over(w))
        .withColumn("rn", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("c_custkey", "c_mktsegment", "rnk", "rn")
        .orderBy("c_mktsegment", "rn")
    },

    // ------------------------------------------------------------------
    // Window frames: running total + lag over an ordered per-key stream.
    QueryDef.sql(
      "q_window_running",
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total,
        |  lag(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, d)
        .filter(col("o_custkey") < 50)
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("prev_orderkey", lag("o_orderkey", 1).over(w))
        .select("o_custkey", "o_orderkey", "running_total", "prev_orderkey")
        .orderBy("o_custkey", "o_orderkey")
    },

    // Conditional aggregation (FILTER clause): several differently-
    // filtered aggregates in ONE scan pass — the idiom that replaces N
    // self-joins in reporting queries (Spark SQL supports FILTER
    // syntax directly; both engines compute it as conditional partial
    // aggregation).
    QueryDef.sql(
      "q_agg_filter",
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n_all,
        |  CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_discounted,
        |  CAST(COUNT(*) FILTER (WHERE l_tax = 0) AS BIGINT) AS n_taxfree
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_af")
      s.sql(
        """SELECT l_returnflag,
          |  COUNT(*) AS n_all,
          |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
          |    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_discounted,
          |  COUNT(*) FILTER (WHERE l_tax = 0) AS n_taxfree
          |FROM graft_lineitem_af GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },

    // MERGE/upsert emulation on plain parquet (the lakehouse maintenance
    // op, expressed as one full-outer join): updates override matched
    // keys, inserts (negative keys here) append, everything else keeps.
    // DECIMAL money math so the update arithmetic is exact cross-engine.
    // At scale this is the shuffle-on-key merge pattern; a broadcast
    // source makes it map-side when the changeset is small.
    QueryDef.sql(
      "q_upsert_merge",
      """WITH source AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000 AS DOUBLE)
        |      AS new_price
        |  FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT -o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 89 = 0)
        |SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CAST(COALESCE(s.new_price,
        |    CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)) AS DOUBLE)
        |    AS price,
        |  CASE WHEN t.o_orderkey IS NULL THEN 'insert'
        |       WHEN s.o_orderkey IS NOT NULL THEN 'update'
        |       ELSE 'keep' END AS op
        |FROM orders t FULL OUTER JOIN source s
        |  ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val priceD = col("o_totalprice").cast("decimal(18,2)")
      val updates = orders.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"),
          (priceD + 1000).cast("double").as("new_price"))
      val inserts = orders.filter(col("o_orderkey") % 89 === 0)
        .select((-col("o_orderkey")).as("o_orderkey"),
          priceD.cast("double").as("new_price"))
      val source = updates.unionByName(inserts)
        .withColumnRenamed("o_orderkey", "s_orderkey")
      orders.join(source, col("o_orderkey") === col("s_orderkey"),
          "full_outer")
        .select(
          coalesce(col("o_orderkey"), col("s_orderkey")).as("o_orderkey"),
          coalesce(col("new_price"), priceD.cast("double")).as("price"),
          when(col("o_orderkey").isNull, "insert")
            .when(col("s_orderkey").isNotNull, "update")
            .otherwise("keep").as("op"))
        .orderBy("o_orderkey")
    },

    // Distribution window functions: ntile / percent_rank / cume_dist —
    // the ranking family beyond rank/row_number (identical definitions
    // in both engines; unique tiebreak keeps bucket edges deterministic).
    QueryDef.sql(
      "q_window_distribution",
      """SELECT c_custkey,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 4) AS pct_rank,
        |  round(cume_dist() OVER w, 4) AS cdist
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"),
          ntile(4).over(w).cast("int").as("quartile"),
          round(percent_rank().over(w), 4).as("pct_rank"),
          round(cume_dist().over(w), 4).as("cdist"))
        .orderBy("c_custkey")
    },

    // Sliding (hopping) time windows: 2-hour windows every hour — each
    // event lands in exactly two buckets. Spark's window() generates the
    // copies inside the scan projection; the oracle replicates with an
    // explicit 2-element unnest.
    QueryDef.sql(
      "q_sliding_window",
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (
        |  SELECT event_type,
        |    date_trunc('hour', ts) - unnest([INTERVAL 0 HOUR, INTERVAL 1 HOUR])
        |      AS ws
        |  FROM events)
        |GROUP BY ws, event_type ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    },

    // ------------------------------------------------------------------
    // Top-k: ORDER BY + LIMIT → TakeOrderedAndProject (no full sort, no
    // single-node shuffle of the whole table).
    QueryDef.sql(
      "q_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // ------------------------------------------------------------------
    // Set operations.
    QueryDef.sql(
      "q_union",
      """SELECT nk, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  UNION ALL SELECT s_nationkey AS nk FROM supplier
        |) GROUP BY nk ORDER BY nk""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nk"))
        .unionAll(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
        .groupBy("nk").agg(count(lit(1)).as("n"))
        .orderBy("nk")
    },
    QueryDef.sql(
      "q_intersect",
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nk"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
        .orderBy("nk")
    },
    QueryDef.sql(
      "q_except",
      """SELECT c_nationkey AS nk FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nk"))
        .except(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
        .orderBy("nk")
    },

    // Multiset set-ops (ALL variants): intersectAll/exceptAll keep
    // duplicate multiplicity — a different physical shape (left-anti /
    // join on row counts) from the distinct variants above.
    QueryDef.sql(
      "q_setops_all",
      """SELECT op, nk, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT 'intersect_all' AS op, nk FROM (
        |    SELECT c_nationkey AS nk FROM customer
        |    INTERSECT ALL SELECT s_nationkey FROM supplier)
        |  UNION ALL
        |  SELECT 'except_all', nk FROM (
        |    SELECT c_nationkey AS nk FROM customer
        |    EXCEPT ALL SELECT s_nationkey FROM supplier)
        |) GROUP BY op, nk ORDER BY op, nk""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_nationkey").as("nk"))
      val su = Tables.supplier(s, d).select(col("s_nationkey").as("nk"))
      c.intersectAll(su).withColumn("op", lit("intersect_all"))
        .unionAll(c.exceptAll(su).withColumn("op", lit("except_all")))
        .groupBy("op", "nk").agg(count(lit(1)).as("n"))
        .select("op", "nk", "n")
        .orderBy("op", "nk")
    },

    // RANGE window frame: the 30-day trailing revenue per customer —
    // peers by ORDER-BY VALUE (all same-day orders share the frame), not
    // by row position; deterministic regardless of tie order.
    QueryDef.sql(
      "q_window_range",
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS total_30d
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(datediff(col("o_orderdate"), lit("1970-01-01")))
        .rangeBetween(-30, Window.currentRow)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 50)
        .withColumn("total_30d",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "total_30d")
        .orderBy("o_custkey", "o_orderkey")
    },

    // ------------------------------------------------------------------
    // Distinct aggregation (expand + two-phase hash agg under the hood).
    QueryDef.sql(
      "q_count_distinct",
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .agg(countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows"))
    },

    // ------------------------------------------------------------------
    // Approximate distinct (HLL++). Sketch internals differ from DuckDB's
    // estimator, so the raw estimate can't hash-match across engines;
    // instead the query emits the EXACT distinct count (oracle-replayable)
    // plus a thresholded error check of the sketch against it — the
    // rows+schema+hash gate then certifies the sketch is within its
    // advertised 5% bound, not merely that some rows came back.
    QueryDef.sql(
      "q_approx_distinct",
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
        |  1 AS err_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey", 0.01).as("apx"),
          countDistinct("l_partkey").as("n_exact"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("apx") - col("n_exact")).cast("double") / col("n_exact")
            <= 0.05).cast("int").as("err_ok"))
        .orderBy("l_returnflag")
    },

    // Mergeable-sketch ROLL-UP (DataSketches HLL): the pattern that makes
    // distinct counts tractable at 100 TB — fine-grained sketch partials
    // are stored once, and every coarser grain (per-flag, corpus-wide) is
    // answered by MERGING sketches, never by re-touching raw data. Here
    // the raw table is scanned exactly once (the (flag, linestatus)
    // partial build); the per-flag and ALL rows come from hll_union_agg
    // over those partials — union is associative, so the same partials
    // serve any rollup grain or incremental day-over-day update. Sketch
    // estimates aren't cross-engine values, so the gate certifies them
    // like q_approx_distinct: exact counts as output + a thresholded
    // error check (lgConfigK=14 ⇒ ~0.8% rse; 5% is generous headroom).
    QueryDef.sql(
      "q_hll_rollup",
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact, 1 AS err_ok
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT 'ALL', CAST(COUNT(DISTINCT l_partkey) AS BIGINT), 1
        |FROM lineitem
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val partials = li.groupBy("l_returnflag", "l_linestatus")
        .agg(hll_sketch_agg(col("l_partkey"), lit(14)).as("sk"))
      val perFlag = graft.CacheRegistry.register(
        partials.groupBy("l_returnflag")
          .agg(hll_union_agg(col("sk")).as("sk"))
          .persist())
      val rolled = perFlag
        .unionByName(perFlag.groupBy()
          .agg(hll_union_agg(col("sk")).as("sk"))
          .select(lit("ALL").as("l_returnflag"), col("sk")))
        .select(col("l_returnflag"),
          hll_sketch_estimate(col("sk")).as("est"))
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_exact"))
        .unionByName(li.groupBy()
          .agg(countDistinct("l_partkey").as("n_exact"))
          .select(lit("ALL").as("l_returnflag"), col("n_exact")))
      rolled.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("est") - col("n_exact")).cast("double") / col("n_exact")
            <= 0.05).cast("int").as("err_ok"))
        .orderBy("l_returnflag")
    },

    // Theta-sketch SET ALGEBRA: |A∩B|, |A\B|, |A∪B| of two distinct-key
    // cohorts estimated from two sketches built in ONE scan — no join of
    // raw data, and the cohort sketches are storable/mergeable like the
    // HLL partials above (theta is the sketch family that supports
    // intersection/difference, which HLL cannot). Error for set ops is
    // UNION-relative (the sketch samples the union), so the certified
    // bound is 5% of |A∪B| at lgK=14 (~0.8% rse — generous headroom).
    QueryDef.sql(
      "q_theta_setops",
      """WITH pk AS (
        |  SELECT l_partkey,
        |    MAX(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS in_a,
        |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS in_r
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT
        |  CAST(SUM(CASE WHEN in_a = 1 AND in_r = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS inter_exact,
        |  CAST(SUM(CASE WHEN in_a = 1 AND in_r = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS only_a_exact,
        |  CAST(SUM(CASE WHEN in_a = 1 OR in_r = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS union_exact,
        |  1 AS err_ok
        |FROM pk""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val est = li.agg(
        theta_sketch_agg(
          when(col("l_returnflag") === "A", col("l_partkey")), 14).as("ska"),
        theta_sketch_agg(
          when(col("l_returnflag") === "R", col("l_partkey")), 14).as("skr"))
        .select(
          theta_sketch_estimate(theta_intersection(col("ska"), col("skr")))
            .as("inter_est"),
          theta_sketch_estimate(theta_difference(col("ska"), col("skr")))
            .as("only_a_est"),
          theta_sketch_estimate(theta_union(col("ska"), col("skr")))
            .as("union_est"))
      val exact = li.groupBy("l_partkey")
        .agg(
          max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("in_a"),
          max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("in_r"))
        .agg(
          sum(when(col("in_a") === 1 && col("in_r") === 1, 1).otherwise(0))
            .cast("long").as("inter_exact"),
          sum(when(col("in_a") === 1 && col("in_r") === 0, 1).otherwise(0))
            .cast("long").as("only_a_exact"),
          sum(when(col("in_a") === 1 || col("in_r") === 1, 1).otherwise(0))
            .cast("long").as("union_exact"))
      val tol = col("union_exact").cast("double") * 0.05
      exact.crossJoin(est)
        .select(col("inter_exact"), col("only_a_exact"), col("union_exact"),
          (abs(col("inter_est") - col("inter_exact")) <= tol &&
            abs(col("only_a_est") - col("only_a_exact")) <= tol &&
            abs(col("union_est") - col("union_exact")) <= tol)
            .cast("int").as("err_ok"))
    },

    // KLL quantile-sketch ROLL-UP: the quantile twin of q_hll_rollup —
    // per-(flag,status) KLL partials merged per flag with
    // kll_sketch_merge, quantiles read from the MERGED sketch only.
    // Same store-partials/merge-any-grain pattern; q_approx_percentile
    // certifies sketch accuracy, this certifies MERGEABILITY. k=800 ⇒
    // ~0.5% rank error; 5% value tolerance on this spread-out price
    // distribution is generous headroom.
    QueryDef.sql(
      "q_kll_rollup",
      """WITH c AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  round(quantile_cont(cents, 0.5), 0) / 100.0 AS p50_exact,
        |  round(quantile_cont(cents, 0.9), 0) / 100.0 AS p90_exact,
        |  1 AS err_ok
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val merged = li.groupBy("l_returnflag", "l_linestatus")
        .agg(kll_sketch_agg_double(col("l_extendedprice"), 800).as("sk"))
        .groupBy("l_returnflag")
        .agg(kll_merge_agg_double(col("sk")).as("sk"))
        .select(col("l_returnflag"),
          kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("p50_est"),
          kll_sketch_get_quantile_double(col("sk"), lit(0.9)).as("p90_est"))
      // exact side interpolates over integer CENTS — see
      // q_approx_percentile's determinism note (half-cent p50 midpoints
      // round differently across engines in the dollar domain)
      val exact = li
        .withColumn("cents",
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
        .groupBy("l_returnflag")
        .agg(expr("percentile(cents, array(0.5D, 0.9D))").as("ex"))
        .select(col("l_returnflag"),
          (round(element_at(col("ex"), 1), 0) / 100.0).as("p50_exact"),
          (round(element_at(col("ex"), 2), 0) / 100.0).as("p90_exact"))
      merged.join(exact, "l_returnflag")
        .select(col("l_returnflag"),
          col("p50_exact"), col("p90_exact"),
          (abs(col("p50_est") - col("p50_exact")) / col("p50_exact") <= 0.05 &&
            abs(col("p90_est") - col("p90_exact")) / col("p90_exact") <= 0.05)
            .cast("int").as("err_ok"))
        .orderBy("l_returnflag")
    },

    // Approximate percentile (quantile sketch): the mergeable-summary
    // path for quantiles over data too large to sort. Same pinning
    // pattern as q_approx_distinct: emit the EXACT interpolated
    // percentiles plus a thresholded relative-error check of the sketch
    // (accuracy=10000 ⇒ rank error ≤ 1e-4·n; 1% value tolerance is
    // generous headroom on this data). DETERMINISM: interpolate over
    // exact integer CENTS, not dollar doubles — a p50 midpoint of two
    // 2dp prices lands on x.xx5, where Spark's shortest-repr HALF_UP
    // round and DuckDB's binary-value round diverge; over integer cents
    // the p50 tie is EXACTLY k+0.5 in both engines (integers ≤ 2^53 stay
    // exact through a + f·(b−a)) and both round half up. The final
    // cents/100.0 is one shared IEEE division.
    QueryDef.sql(
      "q_approx_percentile",
      """WITH c AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  round(quantile_cont(cents, 0.5), 0) / 100.0 AS p50_exact,
        |  round(quantile_cont(cents, 0.9), 0) / 100.0 AS p90_exact,
        |  round(quantile_cont(cents, 0.99), 0) / 100.0 AS p99_exact,
        |  1 AS err_ok
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val errOk = (1 to 3).map { i =>
        abs(element_at(col("apx"), i) * 100.0 - element_at(col("ex"), i)) /
          element_at(col("ex"), i) <= 0.01
      }.reduce(_ && _)
      Tables.lineitem(s, d)
        .withColumn("cents",
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
        .groupBy("l_returnflag")
        .agg(approx_percentile(col("l_extendedprice"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("apx"),
          expr("percentile(cents, array(0.5D, 0.9D, 0.99D))").as("ex"))
        .select(col("l_returnflag"),
          (round(element_at(col("ex"), 1), 0) / 100.0).as("p50_exact"),
          (round(element_at(col("ex"), 2), 0) / 100.0).as("p90_exact"),
          (round(element_at(col("ex"), 3), 0) / 100.0).as("p99_exact"),
          errOk.cast("int").as("err_ok"))
        .orderBy("l_returnflag")
    },

    // ------------------------------------------------------------------
    // Scalar string functions.
    QueryDef.sql(
      "q_scalar_string",
      """SELECT p_partkey, upper(p_name) AS un, CAST(length(p_name) AS INTEGER) AS ln,
        |  substr(p_name, 1, 8) AS sn, concat(p_brand, '#', p_type) AS bt,
        |  replace(p_type, ' ', '_') AS rt
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("un"),
        length(col("p_name")).as("ln"),
        substring(col("p_name"), 1, 8).as("sn"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("bt"),
        regexp_replace(col("p_type"), " ", "_").as("rt"))
        .orderBy("p_partkey")
    },

    // ------------------------------------------------------------------
    // Scalar date/time functions (timestamps rendered as strings so the
    // oracle compare is precision-independent).
    QueryDef.sql(
      "q_scalar_date",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(year(l_shipdate) AS INTEGER) AS y,
        |  CAST(month(l_shipdate) AS INTEGER) AS m,
        |  CAST(day(l_shipdate) AS INTEGER) AS dd,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ds
        |FROM lineitem WHERE l_quantity > 49
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 49)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          year(col("l_shipdate")).as("y"),
          month(col("l_shipdate")).as("m"),
          dayofmonth(col("l_shipdate")).as("dd"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ds"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ------------------------------------------------------------------
    // Scalar math functions.
    QueryDef.sql(
      "q_scalar_math",
      """SELECT p_partkey,
        |  round(sqrt(p_retailprice), 4) AS sq,
        |  CAST(floor(p_retailprice) AS BIGINT) AS fl,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ce,
        |  abs(p_size - 25) AS ab,
        |  CAST(p_size % 7 AS INTEGER) AS md,
        |  round(ln(p_retailprice), 4) AS lg
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        round(sqrt(col("p_retailprice")), 4).as("sq"),
        floor(col("p_retailprice")).as("fl"),
        ceil(col("p_retailprice")).as("ce"),
        abs(col("p_size") - 25).as("ab"),
        (col("p_size") % 7).as("md"),
        round(log(col("p_retailprice")), 4).as("lg"))
        .orderBy("p_partkey")
    },

    // ------------------------------------------------------------------
    // JSON extraction (Spark-native JSON path; oracle reaches the same
    // value via regexp so the check is engine-independent).
    QueryDef.sql(
      "q_json_extract",
      """SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        |FROM events WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .orderBy("event_id")
    },

    // ------------------------------------------------------------------
    // Array / higher-order functions over the embedding column. All
    // order-independent measures (max/min/size/filter-count) so floats
    // compare exactly across engines.
    QueryDef.sql(
      "q_array_hof",
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
        |  round(CAST(list_max(embedding) AS DOUBLE), 4) AS mx,
        |  round(CAST(list_min(embedding) AS DOUBLE), 4) AS mn,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(array_max(col("embedding")).cast("double"), 4).as("mx"),
        round(array_min(col("embedding")).cast("double"), 4).as("mn"),
        size(filter(col("embedding"), x => x > 0f)).as("n_pos"))
        .orderBy("vec_id")
    },

    // ------------------------------------------------------------------
    // Nested types: struct construction + field access, map element
    // access, array literal indexing. Oracle computes the equivalent
    // scalars directly.
    QueryDef.sql(
      "q_complex_types",
      """SELECT c_custkey, c_name AS sname, c_mktsegment AS mseg,
        |  CAST(c_nationkey AS INTEGER) AS first_nk
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .withColumn("s", struct(col("c_name").as("name"), col("c_acctbal").as("bal")))
        .withColumn("m", map(lit("seg"), col("c_mktsegment")))
        .withColumn("a", array(col("c_nationkey"), lit(-1)))
        .select(
          col("c_custkey"),
          col("s.name").as("sname"),
          element_at(col("m"), "seg").as("mseg"),
          element_at(col("a"), 1).as("first_nk"))
        .orderBy("c_custkey")
    },

    // ------------------------------------------------------------------
    // Time-bucketed aggregation (batch mirror of the streaming tumbling
    // window; window('1 day') buckets align with date_trunc at UTC).
    QueryDef.sql(
      "q_time_window",
      s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |  event_type, CAST(COUNT(*) AS BIGINT) AS n, ${dsum("value")} AS total
         |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), expr(dsum("value")).as("total"))
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("total"))
        .orderBy("day", "event_type")
    },

    // ------------------------------------------------------------------
    // Gap-based sessionization, expressed relationally (lag + conditional
    // cumulative sum) — the batch twin of stateful streaming sessions.
    QueryDef.sql(
      "q_sessionize",
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(1 + SUM(is_new) AS BIGINT) AS n_sessions
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
        |              - lag(CAST(floor(epoch(ts)) AS BIGINT))
        |                OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > 1800 THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |) GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("is_new",
          when(col("sec") - lag("sec", 1).over(w) > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          (lit(1) + sum("is_new")).cast("bigint").as("n_sessions"))
        .orderBy("user_id")
    },

    // ------------------------------------------------------------------
    // Built-in session_window (gap-based sessions as a first-class
    // grouping — the same operator Structured Streaming uses for
    // stateful sessionization). Oracle reproduces the semantics with a
    // lag-based cumulative sum at microsecond precision. Spark's
    // session_window spans [start, start+gap): an event exactly `gap`
    // after its predecessor starts a NEW session, so the oracle splits
    // at >= 1800, not > 1800.
    QueryDef.sql(
      "q_session_window",
      """SELECT user_id, CAST(1 + SUM(is_new) AS BIGINT) AS n_sessions
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN epoch(ts) - lag(epoch(ts))
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= 1800.0 THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |) GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("user_id")
    },

    // ------------------------------------------------------------------
    // Multi-way SQL join pipeline (TPC-H Q3 shape) through spark.sql.
    QueryDef.sql(
      "q_sql_revenue_topk",
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |       AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT o_orderkey,
          |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
          |       AS DOUBLE) AS revenue
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |  JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY o_orderkey
          |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Flagship multiway join (TPC-H Q5 shape): 6 tables, selective year
    // predicate, local-supplier correlation (c_nationkey = s_nationkey).
    // The scale shape Catalyst should pick — and PlanShapeSpec pins:
    // region/nation/supplier/customer broadcast (each orders-of-magnitude
    // smaller than the facts), so the ONLY shuffles are the orders ⋈
    // lineitem exchange and the final 5-row aggregate; the year filter
    // reaches the orders scan as a pushed predicate.
    QueryDef.sql(
      "q_multiway_join",
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |       AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |    AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT n_name,
          |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
          |       AS DOUBLE) AS revenue,
          |  CAST(COUNT(*) AS BIGINT) AS n
          |FROM customer
          |  JOIN orders ON c_custkey = o_custkey
          |  JOIN lineitem ON l_orderkey = o_orderkey
          |  JOIN supplier ON l_suppkey = s_suppkey
          |    AND c_nationkey = s_nationkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
          |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
    },

    // ------------------------------------------------------------------
    // PIVOT: long → wide reshaping with an explicit value list (the
    // scalable form — an unlisted pivot needs a driver-side distinct
    // pass first). Oracle is conditional aggregation.
    QueryDef.sql(
      "q_pivot",
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("day") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("day")
    },

    // ------------------------------------------------------------------
    // Exact percentiles (linear interpolation — identical definition in
    // Spark `percentile` and DuckDB `quantile_cont`).
    QueryDef.sql(
      "q_percentile",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  round(quantile_cont(l_quantity, 0.50), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.90), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.50)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.90)"), 4).as("p90"))
        .orderBy("l_returnflag")
    },

    // ------------------------------------------------------------------
    // WEIGHTED percentiles (price percentiles weighted by quantity —
    // the "token-weighted doc-length percentile" shape every corpus
    // report needs: percentile of a value where each row counts w
    // times). Exact and scale-shaped: dedupe to the distinct (group,
    // value) frame, then the smallest value whose cumulative weight
    // crosses q·W. The distinct frame is DATA-sized (prices are near-
    // unique), so the cumulative sum uses the weighted GlobalRank
    // recipe — range repartition, per-partition running sums, broadcast
    // per-group offsets — never a per-group single-partition window.
    // DETERMINISM: weights stay exact decimals (order-free sums) and
    // the thresholds compare as integer-scaled decimals (cw·100 ≥
    // tw·q100) — no float quantile interpolation anywhere.
    QueryDef.sql(
      "q_weighted_percentile",
      """WITH cnt AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, v, SUM(w) OVER (PARTITION BY g ORDER BY v) AS cw,
        |    SUM(w) OVER (PARTITION BY g) AS tw
        |  FROM cnt)
        |SELECT g AS l_returnflag,
        |  round(CAST(MIN(CASE WHEN cw * 100 >= tw * 50 THEN v END)
        |    AS DOUBLE), 2) AS wp50,
        |  round(CAST(MIN(CASE WHEN cw * 100 >= tw * 90 THEN v END)
        |    AS DOUBLE), 2) AS wp90,
        |  round(CAST(MIN(CASE WHEN cw * 100 >= tw * 99 THEN v END)
        |    AS DOUBLE), 2) AS wp99
        |FROM cum GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
      val cnt = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("g"),
          col("l_extendedprice").cast("decimal(18,2)").as("v"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("w"))
      // the distinct (g, v) frame is DATA-sized (prices are near-unique),
      // so a per-group cumulative window would sort each group on one
      // partition; the weighted GlobalRank recipe (range repartition +
      // local running sums + broadcast per-group offsets) keeps the sort
      // parallel at any scale. Decimal sums are exact in any grouping,
      // so cw/tw are bit-identical to the single-sequence window.
      val cum = GlobalRank.withRunningWeight(cnt, col("g"), col("v"),
          col("w"))
        .select(col("g"), col("v"), col("cw"), col("tw"))
      def wp(q: Int) = min(when(col("cw") * 100 >= col("tw") * q,
        col("v"))).cast("double")
      cum.groupBy(col("g").as("l_returnflag"))
        .agg(round(wp(50), 2).as("wp50"), round(wp(90), 2).as("wp90"),
          round(wp(99), 2).as("wp99"))
        .orderBy("l_returnflag")
    },

    // ------------------------------------------------------------------
    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // match each other — distinct join semantics from plain equality,
    // still planned as a hash join on the wrapped key.
    QueryDef.sql(
      "q_join_nullsafe",
      """SELECT s_name, n_name
        |FROM supplier JOIN nation
        |  ON nullif(s_nationkey % 5, 0) IS NOT DISTINCT FROM
        |     nullif(n_nationkey % 5, 0)
        |ORDER BY s_name, n_name""".stripMargin) { (s, d) =>
      Tables.supplier(s, d).join(Tables.nation(s, d),
          nullif(col("s_nationkey") % 5, lit(0)) <=>
            nullif(col("n_nationkey") % 5, lit(0)))
        .select("s_name", "n_name")
        .orderBy("s_name", "n_name")
    },

    // ------------------------------------------------------------------
    // Column profiling: per-column null/distinct/min/max/mean in ONE
    // scan (all aggregates fused into a single partial+final pass) — the
    // data-triage query every ingest pipeline runs first.
    QueryDef.sql(
      "q_data_profile",
      """SELECT col_name, n_rows, n_null, n_distinct, min_val, max_val, mean_val
        |FROM (
        |  SELECT 'l_quantity' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_null,
        |    CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
        |    round(MIN(l_quantity), 4) AS min_val,
        |    round(MAX(l_quantity), 4) AS max_val,
        |    round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      / COUNT(l_quantity), 4) AS mean_val
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
        |    CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
        |    round(MIN(l_extendedprice), 4), round(MAX(l_extendedprice), 4),
        |    round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      / COUNT(l_extendedprice), 4)
        |  FROM lineitem)
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      // genuinely one scan: every column's aggregates live in a single
      // agg (multiple count-distincts expand in one pass), then stack()
      // unpivots the single row into per-column rows
      def stats(c: String, p: String) = Seq(
        (count(lit(1)) - count(col(c))).as(s"${p}_null"),
        countDistinct(col(c)).as(s"${p}_dist"),
        round(min(col(c)), 4).as(s"${p}_min"),
        round(max(col(c)), 4).as(s"${p}_max"),
        round(sum(col(c).cast("decimal(18,2)")).cast("double") / count(col(c)), 4)
          .as(s"${p}_mean"))
      Tables.lineitem(s, d)
        .agg(count(lit(1)).as("nr"),
          (stats("l_quantity", "q") ++ stats("l_extendedprice", "e")): _*)
        .selectExpr(
          """stack(2,
            |  'l_extendedprice', nr, e_null, e_dist, e_min, e_max, e_mean,
            |  'l_quantity',      nr, q_null, q_dist, q_min, q_max, q_mean)
            |AS (col_name, n_rows, n_null, n_distinct, min_val, max_val, mean_val)"""
            .stripMargin)
        .orderBy("col_name")
    },

    // ------------------------------------------------------------------
    // Regexp capture-group extraction (structured field parsing from
    // semi-structured text — log/URL mining shape).
    QueryDef.sql(
      "q_regexp_extract",
      """SELECT doc_id,
        |  regexp_extract(text, '([A-Za-z]+) ([A-Za-z]+)', 1) AS first_word,
        |  regexp_extract(text, '([A-Za-z]+) ([A-Za-z]+)', 2) AS second_word
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        regexp_extract(col("text"), "([A-Za-z]+) ([A-Za-z]+)", 1).as("first_word"),
        regexp_extract(col("text"), "([A-Za-z]+) ([A-Za-z]+)", 2).as("second_word"))
        .orderBy("doc_id")
    },

    // ------------------------------------------------------------------
    // Window navigation functions: lag/lead/ntile/first_value in one
    // pass over a single window spec (one shuffle + sort).
    QueryDef.sql(
      "q_window_navigation",
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey) OVER w AS prev_ok,
        |  lead(o_orderkey) OVER w AS next_ok,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  first_value(o_orderkey) OVER w AS first_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        lag("o_orderkey", 1).over(w).as("prev_ok"),
        lead("o_orderkey", 1).over(w).as("next_ok"),
        ntile(4).over(w).as("quartile"),
        first("o_orderkey").over(w).as("first_ok"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ------------------------------------------------------------------
    // Correlated NOT EXISTS through the SQL analyzer (decorrelates to an
    // anti join — the SQL-level twin of q_join_anti's DataFrame form).
    QueryDef.sql(
      "q_exists_subquery",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT c_custkey, c_name FROM customer c
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
          |ORDER BY c_custkey""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Lateral explode (LATERAL VIEW / generator join): word frequency via
    // per-row token expansion — generate → groupBy, partial-agg'd.
    QueryDef.sql(
      "q_lateral_explode",
      """SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    },

    // ------------------------------------------------------------------
    // Custom typed Aggregator: bounded top-k per group WITHOUT sorting
    // the group (map-side combined, k-entry state; see
    // functions.TopKAggregator). Oracle is the window-rank formulation —
    // same rows, very different physical plan.
    QueryDef.sql(
      "q_topk_agg",
      """SELECT l_returnflag, rk, price, item_id FROM (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |    l_orderkey * 8 + l_linenumber AS item_id,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey * 8 + l_linenumber)
        |      AS rk
        |  FROM lineitem)
        |WHERE rk <= 3 ORDER BY l_returnflag, rk""".stripMargin) { (s, d) =>
      val itemId = (col("l_orderkey") * 8 + col("l_linenumber")).cast("bigint")
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(graft.functions.TopKAggregator.topK(
          col("l_extendedprice"), itemId, 3).as("tk"))
        .select(col("l_returnflag"), posexplode(col("tk.entries")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("int").as("rk"),
          col("col.score").as("price"), col("col.id").as("item_id"))
        .orderBy("l_returnflag", "rk")
    },

    // ------------------------------------------------------------------
    // Ordered string aggregation (listagg). Deterministic because the
    // collected list is sorted before joining — collect_list order is
    // partition-dependent, so the sort is load-bearing.
    QueryDef.sql(
      "q_string_agg",
      """SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      Tables.supplier(s, d)
        .join(Tables.nation(s, d),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(array_join(array_sort(collect_list(col("s_name"))), ",")
          .as("suppliers"))
        .orderBy("n_name")
    },

    // ------------------------------------------------------------------
    // Map type + higher-order map functions: build a linenumber→quantity
    // map per order (map_from_entries over collected pairs), then read
    // it back with element_at / size / map_filter. The oracle certifies
    // the same semantics relationally (maps aren't parquet-comparable
    // across engines, so the outputs are the extracted scalars).
    QueryDef.sql(
      "q_map_funcs",
      """SELECT l_orderkey, CAST(COUNT(*) AS INTEGER) AS n_items,
        |  CAST(SUM(CASE WHEN l_linenumber = 1 THEN q END) AS DOUBLE) AS qty1,
        |  CAST(SUM(CASE WHEN q > 25 THEN 1 ELSE 0 END) AS INTEGER) AS n_hi
        |FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q
        |  FROM lineitem WHERE l_orderkey < 500 GROUP BY 1, 2)
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      // map keys must be unique: pre-aggregate per (order, linenumber)
      // — linenumbers repeat within an order in this corpus
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 500)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("q"))
        .groupBy("l_orderkey")
        .agg(map_from_entries(collect_list(
          struct(col("l_linenumber"), col("q")))).as("m"))
        .select(col("l_orderkey"),
          size(col("m")).as("n_items"),
          element_at(col("m"), lit(1)).as("qty1"),
          size(map_filter(col("m"), (_, v) => v > 25)).as("n_hi"))
        .orderBy("l_orderkey")
    },

    // ------------------------------------------------------------------
    // UNPIVOT / melt: wide measures → long (variable, value) pairs via
    // Dataset.unpivot — a narrow 4× row fan-out with no shuffle; the
    // relational dual of q_pivot. Oracle expresses the same reshape as
    // a UNION ALL so it runs on any ANSI engine.
    QueryDef.sql(
      "q_unpivot",
      """SELECT l_orderkey, l_linenumber, measure,
        |  CAST(value AS DOUBLE) AS value
        |FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |    l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |    l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |    l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',
        |    l_tax FROM lineitem)
        |WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "value")
        .select(col("l_orderkey"), col("l_linenumber"), col("measure"),
          col("value").cast("double").as("value"))
        .orderBy("l_orderkey", "l_linenumber", "measure")
    },

    // ------------------------------------------------------------------
    // Semi-structured VARIANT (Spark 4): parse_json once, then typed
    // variant_get extraction — the open-schema ingestion path (shredding
    // happens at scan time, no per-row regex). The oracle extracts the
    // same field with ANSI-portable string ops, so a hash match proves
    // the variant path agrees with a plain-text parse.
    QueryDef.sql(
      "q_variant_json",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER)) AS BIGINT) AS sum_k,
        |  CAST(MAX(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("bigint").as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    },

    // ------------------------------------------------------------------
    // Salted (two-phase) aggregation: the skew-proof decomposition of a
    // hot-key groupBy — phase 1 aggregates on (key, salt) so a hot key
    // spreads over 16 reducers, phase 2 folds the partials. Decimal
    // partials make the result identical to the one-phase plan, which is
    // exactly what the oracle runs.
    QueryDef.sql(
      "q_salted_agg",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast("decimal(18,2)")).as("pv"))
        .groupBy("event_type")
        .agg(sum(col("pn")).cast("bigint").as("n"),
          sum(col("pv")).cast("double").as("total"))
        .orderBy("event_type")
    },

    // Winsorized (clipped-at-percentile) robust mean per group — the
    // standard outlier-robust normalization before loss-weighting or
    // mixing decisions. The PRODUCTION operator derives its p05/p95
    // bounds with approx_percentile (a mergeable quantile sketch with
    // BOUNDED per-group state — exact `percentile` keeps every distinct
    // value in an ObjectHashAggregate map, unbounded memory on a 100 TB
    // continuous column); the bounds frame is group-cardinality-sized
    // and broadcast, the clip pass a narrow codegen'd projection with
    // map-side partial aggregation. Certification rides in-plan (the
    // q_approx_percentile / q_kll_rollup pattern): the exact-bounds
    // result is ALSO computed and emitted as the hash-checked columns,
    // and the sketch path must agree within tolerance — bound relative
    // error ≤ 1% and clipped-count delta ≤ max(0.2% of n, 64 rows)
    // (accuracy 10000 ⇒ rank error ≤ 1e-4·n per bound). The bench times
    // the sketch-only variant (Bench.rawBench).
    QueryDef.sql(
      "q_winsorized_mean",
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag,
        |  round(CAST(SUM(CAST(round(
        |      least(greatest(l.l_extendedprice, b.lo), b.hi), 4)
        |    AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS robust_mean,
        |  round(b.lo, 4) AS p05, round(b.hi, 4) AS p95,
        |  CAST(SUM(CASE WHEN l.l_extendedprice < b.lo
        |                  OR l.l_extendedprice > b.hi
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        |  1 AS bounds_ok, 1 AS clip_ok
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY l.l_returnflag, b.lo, b.hi
        |ORDER BY l.l_returnflag""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val bounds = li.groupBy("l_returnflag").agg(
          approx_percentile(col("l_extendedprice"),
            array(lit(0.05), lit(0.95)), lit(10000)).as("apx"),
          expr("percentile(l_extendedprice, array(0.05D, 0.95D))").as("ex"))
        .select(col("l_returnflag"),
          element_at(col("apx"), 1).as("lo_s"),
          element_at(col("apx"), 2).as("hi_s"),
          element_at(col("ex"), 1).as("lo"),
          element_at(col("ex"), 2).as("hi"))
      li.join(broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag", "lo", "hi", "lo_s", "hi_s")
        .agg(
          round(sum(round(least(greatest(col("l_extendedprice"), col("lo")),
              col("hi")), 4).cast("decimal(18,4)")).cast("double")
            / count(lit(1)), 4).as("robust_mean"),
          sum(when(col("l_extendedprice") < col("lo") ||
              col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
            .as("n_clipped"),
          sum(when(col("l_extendedprice") < col("lo_s") ||
              col("l_extendedprice") > col("hi_s"), 1L).otherwise(0L))
            .as("n_clipped_s"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("robust_mean"),
          round(col("lo"), 4).as("p05"), round(col("hi"), 4).as("p95"),
          col("n_clipped"),
          (abs(col("lo_s") - col("lo")) / col("lo") <= 0.01 &&
            abs(col("hi_s") - col("hi")) / col("hi") <= 0.01)
            .cast("int").as("bounds_ok"),
          (abs(col("n_clipped_s") - col("n_clipped")) <=
            greatest(col("n") * 0.002, lit(64.0)))
            .cast("int").as("clip_ok"))
        .orderBy("l_returnflag")
    },

    // Equi-width histogram (20 buckets over the global [min, max]) — the
    // basic data-profiling primitive. Global extremes are a 2-double
    // scalar frame broadcast onto a single map-side-combined bucket
    // aggregation; the bucket index uses one pinned IEEE expression in
    // both engines (not width_bucket, whose edge semantics differ across
    // engines). 20 output rows at any corpus size.
    QueryDef.sql(
      "q_histogram",
      """WITH s AS (SELECT min(l_extendedprice) AS lo,
        |                  max(l_extendedprice) AS hi FROM lineitem)
        |SELECT
        |  CASE WHEN l_extendedprice >= s.hi THEN 20
        |    ELSE CAST(least(20, 1 + floor((l_extendedprice - s.lo) * 20
        |              / (s.hi - s.lo))) AS INTEGER) END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  round(min(l_extendedprice), 4) AS bucket_min,
        |  round(max(l_extendedprice), 4) AS bucket_max
        |FROM lineitem, s
        |GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val ext = li.agg(min("l_extendedprice").as("lo"),
        max("l_extendedprice").as("hi"))
      li.crossJoin(broadcast(ext))
        .select(col("l_extendedprice"),
          when(col("l_extendedprice") >= col("hi"), 20)
            .otherwise(least(lit(20), lit(1) +
              floor((col("l_extendedprice") - col("lo"))
                * 20 / (col("hi") - col("lo")))).cast("int")).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min("l_extendedprice"), 4).as("bucket_min"),
          round(max("l_extendedprice"), 4).as("bucket_max"))
        .orderBy("bucket")
    },

    // Ordered-funnel conversion (view → click → purchase): each stage's
    // entry time is the min event time AFTER the previous stage's entry —
    // the canonical product-analytics query. Three user-keyed
    // aggregations chained by equi-joins (shuffle by user_id, the
    // standard funnel shape at scale — never a sort of the event log);
    // the per-user stage frames are persisted because each feeds both
    // the next stage and its own count.
    QueryDef.sql(
      "q_funnel",
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |      JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |      JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
        |SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
        |  CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click,
        |  CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase,
        |  round(CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
        |    / greatest((SELECT COUNT(*) FROM v), 1), 4) AS view_to_click,
        |  round(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
        |    / greatest((SELECT COUNT(*) FROM c), 1), 4)
        |    AS click_to_purchase""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val v = graft.CacheRegistry.register(
        ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val c = graft.CacheRegistry.register(
        ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("ts") > col("t1"))
          .groupBy("user_id").agg(min("ts").as("t2"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          round(col("n_click").cast("double")
            / greatest(col("n_view"), lit(1L)), 4).as("view_to_click"),
          round(col("n_purchase").cast("double")
            / greatest(col("n_click"), lit(1L)), 4).as("click_to_purchase"))
    },

    // Sweep-line concurrency: the 5 days with the most OPEN order-lines
    // (placed but not yet shipped — interval [o_orderdate, l_shipdate)).
    // The classic interval-overlap gauge, done scalably: each interval
    // becomes two boundary events (+1 open / -1 close), which aggregate
    // to a per-DAY net delta BEFORE the sequential step — so the one
    // unpartitioned running-sum window scans only the calendar-day frame
    // (bounded by the date domain, a few thousand rows at ANY corpus
    // size), never the fact table. The fact-side work is one orderkey
    // shuffle join plus a map-side-combined date aggregation.
    QueryDef.sql(
      "q_concurrency_sweep",
      """WITH j AS (
        |  SELECT CAST(o.o_orderdate AS DATE) AS od,
        |         CAST(l.l_shipdate AS DATE) AS sd
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |b AS (SELECT od AS day, 1 AS delta FROM j
        |      UNION ALL SELECT sd AS day, -1 AS delta FROM j),
        |daily AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS net
        |          FROM b GROUP BY day),
        |run AS (SELECT day, CAST(SUM(net) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_open FROM daily)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_open FROM run
        |ORDER BY n_open DESC, day LIMIT 5""".stripMargin) { (s, d) =>
      val j = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(to_date(col("o_orderdate")).as("od"),
          to_date(col("l_shipdate")).as("sd"))
      val bounds = j.select(col("od").as("day"), lit(1L).as("delta"))
        .unionAll(j.select(col("sd").as("day"), lit(-1L).as("delta")))
      bounds.groupBy("day").agg(sum("delta").as("net"))
        .withColumn("n_open", sum("net").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(desc("n_open"), col("day")).limit(5)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_open"))
    },

    // 2-D skyline (Pareto frontier): events not dominated in (recency,
    // value) — no other event has BOTH later ts AND ≥ value. Done as a
    // TWO-LEVEL dominance prune: per-ts max first (map-side-combined —
    // equal-ts points collapse), then each of 32 hash buckets computes
    // its LOCAL skyline with a bucket-partitioned running-max window
    // (parallel; a point dominated within its bucket is dominated
    // globally, so the prune is sound), and only the surviving
    // candidates — skyline-sized, tiny — reach the one unpartitioned
    // global pass. The full corpus is never sorted globally.
    QueryDef.sql(
      "q_skyline",
      """WITH m AS (SELECT ts, max(value) AS v FROM events GROUP BY ts),
        |w AS (SELECT ts, v, max(v) OVER (ORDER BY ts DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        |  FROM m)
        |SELECT strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  round(v, 4) AS value
        |FROM w WHERE mx IS NULL OR v > mx ORDER BY ts""".stripMargin) { (s, d) =>
      val m = Tables.events(s, d).groupBy("ts").agg(max("value").as("v"))
      val localW = Window.partitionBy("bkt").orderBy(desc("ts"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cand = m.withColumn("bkt", pmod(hash(col("ts")), lit(32)))
        .withColumn("lmx", max("v").over(localW))
        .filter(col("lmx").isNull || col("v") > col("lmx"))
      val globalW = Window.orderBy(desc("ts"))
        .rowsBetween(Window.unboundedPreceding, -1)
      cand.withColumn("gmx", max("v").over(globalW))
        .filter(col("gmx").isNull || col("v") > col("gmx"))
        .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("ts"), round(col("v"), 4).as("value"))
        .orderBy("ts")
    },

    // Heavy-hitter sketch ROLL-UP (Spark 4.1 approx_top_k family): the
    // frequent-items twin of q_hll_rollup/q_kll_rollup — per-(flag,
    // status) sketch partials accumulate once over the raw data, merge
    // per flag with approx_top_k_combine, and the top-10 parts are read
    // from the MERGED sketch only. maxItemsTracked (16384) exceeds the
    // distinct-part count at the gate SF, where the sketch's counts are
    // provably exact (Misra-Gries with enough counters never evicts) —
    // so the DuckDB oracle is the exact grouped count; at larger scale
    // the same plan degrades gracefully to approximate heavy hitters.
    // Deterministic ordering: estimates re-ranked by (count desc, part)
    // in-plan rather than trusting the sketch's own tie order.
    QueryDef.sql(
      "q_topk_sketch_rollup",
      """WITH exact AS (
        |  SELECT l_returnflag, l_partkey, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_partkey AS part, CAST(n AS BIGINT) AS n,
        |  CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT l_returnflag, l_partkey, n,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY n DESC, l_partkey) AS rk
        |  FROM exact) WHERE rk <= 10
        |ORDER BY l_returnflag, rk""".stripMargin) { (s, d) =>
      val partials = Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(expr("approx_top_k_accumulate(l_partkey, 16384)").as("sk"))
      val merged = partials.groupBy("l_returnflag")
        .agg(expr("approx_top_k_combine(sk, 16384)").as("sk"))
      merged
        .select(col("l_returnflag"),
          explode(expr("approx_top_k_estimate(sk, 16384)")).as("e"))
        .select(col("l_returnflag"), col("e.item").as("part"),
          col("e.count").as("n"))
        .withColumn("rk", row_number().over(Window
          .partitionBy("l_returnflag").orderBy(desc("n"), col("part"))))
        .filter(col("rk") <= 10)
        .orderBy("l_returnflag", "rk")
    },

    // Rolling z-score anomaly detection over the daily event-value
    // series: each day scored against the trailing 7-day window's mean
    // and sample std — the spike-detection primitive for ingestion
    // monitoring (the drift twin is text_drift_psi). The heavy pass is
    // one map-side-combined date aggregation; the rolling window then
    // runs on the day-cardinality frame only (bounded by the date
    // domain). Cross-engine determinism: the rolling moments are EXACT
    // decimal window sums (Σx, Σx²) — variance is computed from them in
    // one pinned expression and only rounded at the end, so no Welford-
    // vs-naive engine difference can flip a flag.
    QueryDef.sql(
      "q_rolling_anomaly",
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS x
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT day, x,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
        |    SUM(x) OVER w AS s1,
        |    SUM(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2)))
        |      OVER w AS s2
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  round(CAST(x AS DOUBLE), 2) AS x,
        |  round((CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / n) /
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |      * CAST(s1 AS DOUBLE) / n) / (n - 1)), 4) AS z
        |FROM m WHERE n >= 5
        |  AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |    * CAST(s1 AS DOUBLE) / n) / (n - 1) > 0
        |ORDER BY day""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("x"))
      val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
      val m = daily.select(col("day"), col("x"),
        count(lit(1)).over(w).as("n"),
        sum(col("x")).over(w).as("s1"),
        // both factors capped at DECIMAL(18,2): the product (36,4) and
        // its window sum stay exact AND in-range in either engine
        sum(col("x").cast("decimal(18,2)") * col("x").cast("decimal(18,2)"))
          .over(w).as("s2"))
      val variance = (col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") / col("n")) /
        (col("n") - 1)
      m.filter(col("n") >= 5 && variance > 0)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("x").cast("double"), 2).as("x"),
          round((col("x").cast("double") -
            col("s1").cast("double") / col("n")) / sqrt(variance), 4)
            .as("z"))
        .orderBy("day")
    },

    // Cohort retention matrix: users bucketed by FIRST-seen week, then
    // each (cohort, week-offset) cell counts the distinct users active
    // that many weeks later — the canonical product-analytics rollup.
    // Two user-keyed aggregations joined by user (shuffle by user_id,
    // never a sort of the event log), then one map-side-combined
    // distinct-count per cell; the output is cohort-weeks², bounded by
    // the date domain at any corpus size.
    QueryDef.sql(
      "q_cohort_retention",
      """WITH firstw AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
        |  FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT e.user_id, f.cohort,
        |    CAST((CAST(date_trunc('week', e.ts) AS DATE) - f.cohort)
        |      / 7 AS BIGINT) AS week_offset
        |  FROM events e JOIN firstw f USING (user_id))
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort, week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM activity GROUP BY cohort, week_offset
        |ORDER BY cohort, week_offset""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val firstw = ev.groupBy("user_id")
        .agg(to_date(date_trunc("week", min("ts"))).as("cohort"))
      ev.join(firstw, "user_id")
        .select(col("user_id"), col("cohort"),
          (datediff(to_date(date_trunc("week", col("ts"))), col("cohort"))
            / 7).cast("long").as("week_offset"))
        .distinct()
        .groupBy("cohort", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("week_offset"), col("n_users"))
        .orderBy("cohort", "week_offset")
    },

    // Gaps-and-islands: per-user runs of CONSECUTIVE active days (the
    // streak/continuity primitive behind engagement metrics and
    // sensor-coverage audits). The classic trick: within each user,
    // day_number − row_number() is CONSTANT across a consecutive run and
    // jumps at every gap, so runs become plain group keys — no
    // self-join, no iteration. Output is the streak-length histogram
    // (how many islands of each length, across how many users). SCALE:
    // the distinct + both windows partition BY USER (shuffle on
    // user_id, per-user streams sort locally); the histogram is
    // day-domain bounded. All arithmetic is integer day numbers.
    QueryDef.sql(
      "q_gaps_islands",
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn
        |  FROM events),
        |isl AS (
        |  SELECT user_id,
        |    dn - row_number() OVER (PARTITION BY user_id ORDER BY dn)
        |      AS grp
        |  FROM days),
        |runs AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_days
        |  FROM isl GROUP BY user_id, grp)
        |SELECT streak_days, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM runs GROUP BY streak_days ORDER BY streak_days""".stripMargin) {
      (s, d) =>
        val days = Tables.events(s, d)
          .select(col("user_id"),
            datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
              .as("dn"))
          .distinct()
        val isl = days.withColumn("grp",
          col("dn") - row_number().over(
            Window.partitionBy("user_id").orderBy("dn")))
        val runs = isl.groupBy("user_id", "grp")
          .agg(count(lit(1)).cast("bigint").as("streak_days"))
        runs.groupBy("streak_days")
          .agg(count(lit(1)).cast("bigint").as("n_islands"),
            countDistinct("user_id").cast("bigint").as("n_users"))
          .orderBy("streak_days")
    },

    // Event-transition (first-order Markov) matrix: per-user event
    // streams yield (prev_type → type) bigram counts and row-normalized
    // transition probabilities — the sequence-mining primitive behind
    // behavioral features and session modeling. ONE user-keyed lag
    // window (shuffle by user_id; per-user streams sort locally within
    // their partition) then a map-side-combined count over the tiny
    // (type × type) matrix; probabilities divide by a window sum over
    // that |types|²-bounded frame.
    QueryDef.sql(
      "q_markov_transitions",
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |cnt AS (
        |  SELECT prev_type, event_type AS next_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type)
        |SELECT prev_type, next_type, n,
        |  round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 4)
        |    AS p
        |FROM cnt ORDER BY prev_type, next_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cnt = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          lag("event_type", 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      cnt.withColumn("p", round(col("n").cast("double") /
          sum("n").over(Window.partitionBy("prev_type")), 4))
        .orderBy("prev_type", "next_type")
    },

    // Serpentine shard packing: documents dealt into 8 balanced training
    // shards by global size rank — left-to-right on even passes, right-
    // to-left on odd, so each shard receives one doc per pass and
    // largest-with-smallest pairing bounds total-size skew (the
    // deterministic, join-free stand-in for greedy bin packing, which is
    // inherently sequential). The global rank is computed WITHOUT a
    // global sort: range-repartition by the sort key, per-partition
    // row_number, plus broadcast partition-count offsets (exact because
    // the full key (n_chars, doc_id) is unique, so ranks are range-
    // boundary-independent). Shard choice is then integer modular
    // arithmetic, codegen'd.
    QueryDef.sql(
      "q_shard_pack",
      """WITH ranked AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
        |  FROM documents),
        |assigned AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
        |         ELSE 7 - (rk % 8) END AS shard
        |  FROM ranked)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM assigned GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      // global rank via the shared range-repartition recipe (see
      // GlobalRank for the persist-before-offsets contract)
      GlobalRank.withRank(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        Seq(desc("n_chars"), col("doc_id")))
        .withColumn("shard",
          when(expr("rk div 8") % 2 === 0, col("rk") % 8)
            .otherwise(lit(7) - col("rk") % 8))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .orderBy("shard")
    },

    // RFM (recency/frequency/monetary) quartile segmentation — the
    // classic customer-value rollup, done WITHOUT a global sort: the
    // three quartile threshold sets are one 9-value aggregate broadcast
    // back onto the customer frame (an ntile would total-sort the
    // customers), bucketing is three integer comparisons per dimension,
    // and the output is the ≤4³ segment grid. Threshold determinism:
    // r/f are integers (interpolated quarters are binary-exact) and m is
    // continuous (no customer sits exactly on an interpolated cut), so
    // strict > comparisons agree across engines.
    QueryDef.sql(
      "q_rfm_segmentation",
      """WITH cust AS (
        |  SELECT o_custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS r,
        |    CAST(COUNT(*) AS BIGINT) AS f,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m
        |  FROM orders GROUP BY o_custkey),
        |q AS (SELECT
        |  quantile_cont(r, 0.25) AS r1, quantile_cont(r, 0.5) AS r2,
        |  quantile_cont(r, 0.75) AS r3,
        |  quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2,
        |  quantile_cont(f, 0.75) AS f3,
        |  quantile_cont(m, 0.25) AS m1, quantile_cont(m, 0.5) AS m2,
        |  quantile_cont(m, 0.75) AS m3 FROM cust)
        |SELECT
        |  1 + (r > q.r1)::INT + (r > q.r2)::INT + (r > q.r3)::INT AS r_seg,
        |  1 + (f > q.f1)::INT + (f > q.f2)::INT + (f > q.f3)::INT AS f_seg,
        |  1 + (m > q.m1)::INT + (m > q.m2)::INT + (m > q.m3)::INT AS m_seg,
        |  CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(CAST(m AS DECIMAL(18,2))) AS DOUBLE) AS total_m,
        |  1 AS thr_ok
        |FROM cust, q GROUP BY 1, 2, 3
        |ORDER BY r_seg, f_seg, m_seg""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val maxd = o.agg(to_date(max("o_orderdate")).as("dmax"))
      val cust = o.groupBy("o_custkey")
        .agg(to_date(max("o_orderdate")).as("dlast"),
          count(lit(1)).as("f"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("m"))
        .crossJoin(broadcast(maxd))
        .select(col("o_custkey"), datediff(col("dmax"), col("dlast")).as("r"),
          col("f"), col("m"))
      val q = cust.agg(
        expr("percentile(r, 0.25)").as("r1"),
        expr("percentile(r, 0.5)").as("r2"),
        expr("percentile(r, 0.75)").as("r3"),
        expr("percentile(f, 0.25)").as("f1"),
        expr("percentile(f, 0.5)").as("f2"),
        expr("percentile(f, 0.75)").as("f3"),
        expr("percentile(m, 0.25)").as("m1"),
        expr("percentile(m, 0.5)").as("m2"),
        expr("percentile(m, 0.75)").as("m3"),
        // sketch twins of the nine thresholds: the production path at
        // 100 TB (exact percentile over a customer-cardinality frame is
        // an unbounded ObjectHashAggregate state; the sketch is
        // mergeable, bounded). Certified in-plan below: every sketch
        // threshold must sit within max(2%, one integer step) of its
        // exact twin — r/f are integers, so the sketch (which returns a
        // data value, no interpolation) can legitimately differ by the
        // discretization step. Bench times the sketch-only variant.
        approx_percentile(col("r"), array(lit(0.25), lit(0.5), lit(0.75)),
          lit(10000)).as("ra"),
        approx_percentile(col("f"), array(lit(0.25), lit(0.5), lit(0.75)),
          lit(10000)).as("fa"),
        approx_percentile(col("m"), array(lit(0.25), lit(0.5), lit(0.75)),
          lit(10000)).as("ma"))
      val thrOk = Seq("r" -> "ra", "f" -> "fa", "m" -> "ma").flatMap {
        case (t, a) => (1 to 3).map(i =>
          abs(element_at(col(a), i) - col(s"$t$i")) <=
            greatest(abs(col(s"$t$i")) * 0.02, lit(1.0)))
      }.reduce(_ && _)
      def seg(x: String, t: String): org.apache.spark.sql.Column =
        lit(1) + (col(x) > col(s"${t}1")).cast("int") +
          (col(x) > col(s"${t}2")).cast("int") +
          (col(x) > col(s"${t}3")).cast("int")
      cust.crossJoin(broadcast(q))
        .select(seg("r", "r").as("r_seg"), seg("f", "f").as("f_seg"),
          seg("m", "m").as("m_seg"), col("m"),
          thrOk.cast("int").as("thr_ok"))
        .groupBy("r_seg", "f_seg", "m_seg")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("m").cast("decimal(18,2)")).cast("double").as("total_m"),
          min("thr_ok").as("thr_ok"))
        .orderBy("r_seg", "f_seg", "m_seg")
    },

    // CUSUM changepoint detection on the daily event-value series: the
    // running sum of deviations from the global mean peaks exactly where
    // the level shifts — the classic distribution-shift locator
    // (anomaly = one bad day, q_rolling_anomaly; changepoint = the
    // regime moving). Exact decimal arithmetic end to end: the global
    // mean is rounded once to a pinned 4dp decimal, deviations and their
    // prefix sums stay decimal, and both the day aggregation and the
    // sequential pass run on the bounded day-cardinality frame.
    QueryDef.sql(
      "q_changepoint_cusum",
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS x
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 4)
        |             AS DECIMAL(18,4)) AS mu FROM daily),
        |c AS (
        |  SELECT day, SUM(CAST(x AS DECIMAL(18,4)) - g.mu) OVER (
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cusum
        |  FROM daily, g)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  round(CAST(cusum AS DOUBLE), 2) AS cusum
        |FROM c ORDER BY abs(CAST(cusum AS DOUBLE)) DESC, day
        |LIMIT 5""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("x"))
      val g = daily.agg(
        round(sum("x").cast("double") / count(lit(1)), 4)
          .cast("decimal(18,4)").as("mu"))
      daily.crossJoin(broadcast(g))
        .withColumn("cusum",
          sum(col("x").cast("decimal(18,4)") - col("mu"))
            .over(Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(abs(col("cusum").cast("double")).desc, col("day"))
        .limit(5)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("cusum").cast("double"), 2).as("cusum"))
    },

    // Benford first-digit audit on order totals — the classic
    // fabricated-data / unit-mixing screen: natural multi-scale amounts
    // follow p(d) = log10(1 + 1/d). One map-side-combined 9-row count;
    // the first digit is extracted from the BIGINT cents value via
    // string head (integer-to-string is identical in every engine,
    // where float log10 arithmetic would not be).
    QueryDef.sql(
      "q_benford_digits",
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d
        |      GROUP BY digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / t.total, 4) AS p_observed,
        |  round(log10(1 + 1.0 / digit), 4) AS p_benford
        |FROM c, t ORDER BY digit""".stripMargin) { (s, d) =>
      val digits = Tables.orders(s, d)
        .filter(col("o_totalprice") > 0)
        .select(substring(round(col("o_totalprice") * 100, 0)
          .cast("bigint").cast("string"), 1, 1).cast("int").as("digit"))
      val c = digits.groupBy("digit").agg(count(lit(1)).as("n"))
      val t = c.agg(sum("n").as("total"))
      c.crossJoin(broadcast(t))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("total"), 4).as("p_observed"),
          round(log10(lit(1) + lit(1.0) / col("digit")), 4).as("p_benford"))
        .orderBy("digit")
    },

    // Referential-integrity audit across the star schema's foreign keys
    // — the data-quality gate a 100 TB ingest runs before joins silently
    // drop rows. Each check is one ANTI join (build side = the
    // referenced KEY SET, which AQE broadcasts when dimension-sized);
    // output is one row per relationship.
    QueryDef.sql(
      "q_referential_audit",
      """SELECT * FROM (
        |  SELECT 'lineitem.orderkey' AS fk,
        |    CAST((SELECT COUNT(*) FROM lineitem l
        |      WHERE NOT EXISTS (SELECT 1 FROM orders o
        |        WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans,
        |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows
        |  UNION ALL SELECT 'orders.custkey',
        |    CAST((SELECT COUNT(*) FROM orders o
        |      WHERE NOT EXISTS (SELECT 1 FROM customer c
        |        WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |    CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
        |  UNION ALL SELECT 'lineitem.suppkey',
        |    CAST((SELECT COUNT(*) FROM lineitem l
        |      WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |        WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT),
        |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT))
        |ORDER BY fk""".stripMargin) { (s, d) =>
      def audit(name: String, fact: DataFrame, fkCol: String,
          dim: DataFrame, pkCol: String): DataFrame = {
        val orphans = fact.join(dim,
            fact(fkCol) === dim(pkCol), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        orphans.crossJoin(fact.agg(count(lit(1)).as("n_rows")))
          .select(lit(name).as("fk"), col("n_orphans"), col("n_rows"))
      }
      val li = Tables.lineitem(s, d)
      audit("lineitem.orderkey", li, "l_orderkey",
          Tables.orders(s, d).select("o_orderkey"), "o_orderkey")
        .unionAll(audit("orders.custkey", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d).select("c_custkey"), "c_custkey"))
        .unionAll(audit("lineitem.suppkey", li, "l_suppkey",
          Tables.supplier(s, d).select("s_suppkey"), "s_suppkey"))
        .orderBy("fk")
    },

    // SCD2 (slowly-changing-dimension type 2) interval build: each
    // purchase event versions its user's attribute; validity = [its ts,
    // the next event's ts), open-ended for the current version. ONE
    // user-keyed window (lead) — shuffle by user_id only, never a global
    // sort; the canonical dimension-history materialization that MERGE
    // pipelines maintain incrementally at scale.
    QueryDef.sql(
      "q_scd2_intervals",
      """SELECT user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |  strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        |  round(value, 4) AS value,
        |  CAST(lead(ts) OVER w IS NULL AS INTEGER) AS is_current
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from, valid_to NULLS FIRST, value""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("valid_from"),
          date_format(lead(col("ts"), 1).over(w),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
          round(col("value"), 4).as("value"),
          lead(col("ts"), 1).over(w).isNull.cast("int").as("is_current"))
        // valid_to + value break same-user same-ts collisions so the
        // output ROW ORDER is engine-independent (the window order is
        // already pinned by event_id; only the final sort could drift).
        // NULLS FIRST pinned on both sides: Spark's asc default is
        // nulls-first, DuckDB's is nulls-last.
        .orderBy(col("user_id"), col("valid_from"),
          col("valid_to").asc_nulls_first, col("value"))
    },

    // Time-series densification + forward fill: sparse per-day totals
    // (a rare user cohort) are gap-filled onto the COMPLETE day spine of
    // their span, carrying the last observation forward — the standard
    // prep for windowed models over irregular series. The spine is
    // generated from a 2-value extremes frame (sequence + explode, no
    // driver loop); the forward-fill window runs on the day-cardinality
    // frame only (bounded by the date domain at any corpus size).
    QueryDef.sql(
      "q_gap_fill",
      """WITH agg AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events
        |  WHERE event_type = 'purchase' AND user_id % 97 = 0
        |  GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT min(day) FROM agg), (SELECT max(day) FROM agg),
        |    INTERVAL 1 DAY))::DATE AS day),
        |filled AS (
        |  SELECT s.day, a.total,
        |    last_value(a.total IGNORE NULLS) OVER (ORDER BY s.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        |  FROM spine s LEFT JOIN agg a USING (day))
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  round(carried, 4) AS total,
        |  CAST(total IS NULL AS INTEGER) AS is_gap
        |FROM filled ORDER BY day""".stripMargin) { (s, d) =>
      val agg = Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("user_id") % 97 === 0)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total"))
      val spine = agg.agg(min("day").as("lo"), max("day").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 DAY"))).as("day"))
      spine.join(agg, Seq("day"), "left")
        .withColumn("carried", last("total", ignoreNulls = true)
          .over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("carried"), 4).as("total"),
          col("total").isNull.cast("int").as("is_gap"))
        .orderBy("day")
    },

    // Last-touch attribution: every purchase is credited to the user's
    // most recent click/view STRICTLY BEFORE it, if within 24 h — the
    // marketing-analytics join that is really a window (one user-keyed
    // shuffle + an ordered frame scan; never an event×event self-join).
    // Determinism: ordering ties broken by event_id on both sides (the
    // q_scd2_intervals lesson); the 24 h cut compares exact epoch
    // microseconds.
    QueryDef.sql(
      "q_attribution",
      """WITH t AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN event_id END IGNORE NULLS)
        |      OVER w AS touch_id,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER w AS touch_us,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS purchase_id, user_id,
        |  CASE WHEN epoch_us(ts) - touch_us <= 86400000000
        |    THEN touch_id END AS attributed_id,
        |  CASE WHEN epoch_us(ts) - touch_us <= 86400000000
        |    THEN touch_type END AS attributed_type,
        |  CASE WHEN epoch_us(ts) - touch_us <= 86400000000
        |    THEN CAST((epoch_us(ts) - touch_us) // 60000000 AS BIGINT)
        |    END AS mins_since
        |FROM t WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      def lastTouch(c: Column) = last(
        when(col("event_type").isin("click", "view"), c),
        ignoreNulls = true).over(w)
      val within = unix_micros(col("ts")) - col("touch_us") <= 86400000000L
      Tables.events(s, d)
        .withColumn("touch_id", lastTouch(col("event_id")))
        .withColumn("touch_us", lastTouch(unix_micros(col("ts"))))
        .withColumn("touch_type", lastTouch(col("event_type")))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(within, col("touch_id")).as("attributed_id"),
          when(within, col("touch_type")).as("attributed_type"),
          when(within, floor((unix_micros(col("ts")) - col("touch_us"))
            / 60000000L).cast("bigint")).as("mins_since"))
        .orderBy("purchase_id")
    },

    // Per-nation revenue trend: closed-form OLS of monthly revenue over
    // the month index. Scale shape: one custkey shuffle join orders ⋈
    // customer (nation is broadcast via the dim), a (nation, month)
    // partial+final aggregate, then a nation-cardinality OLS aggregate —
    // the regression itself never sees row-level data. Determinism: y is
    // exact integer CENTS (decimal sum × 100 → bigint), x a small int,
    // so every OLS sum is exact 64-bit integer arithmetic in both
    // engines; slope/intercept are one final double division each
    // (IEEE-identical), then rounded.
    QueryDef.sql(
      "q_regression_trend",
      """WITH monthly AS (
        |  SELECT c.c_nationkey AS nk,
        |    (CAST(year(o.o_orderdate) AS INTEGER) - 1995) * 12
        |      + CAST(month(o.o_orderdate) AS INTEGER) - 1 AS x,
        |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS yc
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |ols AS (
        |  SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_months,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(yc) AS BIGINT) AS sy,
        |    CAST(SUM(x * yc) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM monthly GROUP BY nk)
        |SELECT n.n_name, n_months,
        |  round(CAST(n_months * sxy - sx * sy AS DOUBLE)
        |    / (n_months * sxx - sx * sx) / 100, 4) AS slope,
        |  round(CAST(sy * sxx - sx * sxy AS DOUBLE)
        |    / (n_months * sxx - sx * sx) / 100, 4) AS intercept
        |FROM ols JOIN nation n ON ols.nk = n.n_nationkey
        |ORDER BY n.n_name""".stripMargin) { (s, d) =>
      val monthly = Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"),
          ((year(col("o_orderdate")) - 1995) * 12
            + month(col("o_orderdate")) - 1).as("x"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("bigint").as("yc"))
      val ols = monthly.groupBy("nk").agg(
        count(lit(1)).as("n_months"),
        sum(col("x").cast("bigint")).as("sx"),
        sum(col("yc")).as("sy"),
        sum(col("x") * col("yc")).as("sxy"),
        sum((col("x") * col("x")).cast("bigint")).as("sxx"))
      val den = col("n_months") * col("sxx") - col("sx") * col("sx")
      ols.join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("nk"), col("n_name"))), "nk")
        .select(col("n_name"), col("n_months"),
          round((col("n_months") * col("sxy") - col("sx") * col("sy"))
            .cast("double") / den / 100, 4).as("slope"),
          round((col("sy") * col("sxx") - col("sx") * col("sxy"))
            .cast("double") / den / 100, 4).as("intercept"))
        .orderBy("n_name")
    },

    // A/B comparison with a Welch t-test: click vs purchase event values
    // per day-of-week. One single-pass conditional aggregate (FILTER-
    // style sums — no second scan, no join between the arms); n/Σv/Σv²
    // are exact decimals (the q_rolling_anomaly convention), so means,
    // variances, t and the Welch–Satterthwaite df derive from identical
    // doubles in both engines. Output cardinality = 7 at any scale.
    QueryDef.sql(
      "q_ab_welch_ttest",
      """WITH g AS (
        |  SELECT CAST(date_part('dow', ts) AS INTEGER) AS dow,
        |    CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS na,
        |    SUM(CAST(value AS DECIMAL(18,2)))
        |      FILTER (event_type = 'click') AS s1a,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |      FILTER (event_type = 'click') AS s2a,
        |    CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS nb,
        |    SUM(CAST(value AS DECIMAL(18,2)))
        |      FILTER (event_type = 'purchase') AS s1b,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |      FILTER (event_type = 'purchase') AS s2b
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |m AS (
        |  SELECT dow, na, nb,
        |    CAST(s1a AS DOUBLE) / na AS ma, CAST(s1b AS DOUBLE) / nb AS mb,
        |    (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE)
        |      / na) / (na - 1) AS va,
        |    (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE)
        |      / nb) / (nb - 1) AS vb
        |  FROM g WHERE na >= 2 AND nb >= 2)
        |SELECT dow, na, nb, round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
        |  round((ma - mb) / sqrt(va / na + vb / nb), 4) AS t_stat,
        |  round((va / na + vb / nb) * (va / na + vb / nb)
        |    / ((va / na) * (va / na) / (na - 1)
        |      + (vb / nb) * (vb / nb) / (nb - 1)), 4) AS welch_df
        |FROM m ORDER BY dow""".stripMargin) { (s, d) =>
      val vdec = col("value").cast("decimal(18,2)")
      def arm(t: String, suffix: String) = Seq(
        count(when(col("event_type") === t, 1)).as(s"n$suffix"),
        sum(when(col("event_type") === t, vdec)).as(s"s1$suffix"),
        sum(when(col("event_type") === t, vdec * vdec)).as(s"s2$suffix"))
      val aggs = arm("click", "a") ++ arm("purchase", "b")
      val g = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy((dayofweek(col("ts")) - 1).as("dow"))
        .agg(aggs.head, aggs.tail: _*)
      def mean(s1: String, n: String) = col(s1).cast("double") / col(n)
      def variance(s2: String, s1: String, n: String) =
        (col(s2).cast("double")
          - col(s1).cast("double") * col(s1).cast("double") / col(n)) /
          (col(n) - 1)
      val m = g.filter(col("na") >= 2 && col("nb") >= 2)
        .select(col("dow"), col("na"), col("nb"),
          mean("s1a", "na").as("ma"), mean("s1b", "nb").as("mb"),
          variance("s2a", "s1a", "na").as("va"),
          variance("s2b", "s1b", "nb").as("vb"))
      val se2 = col("va") / col("na") + col("vb") / col("nb")
      m.select(col("dow"), col("na"), col("nb"),
          round(col("ma"), 4).as("mean_a"), round(col("mb"), 4).as("mean_b"),
          round((col("ma") - col("mb")) / sqrt(se2), 4).as("t_stat"),
          round(se2 * se2
            / ((col("va") / col("na")) * (col("va") / col("na"))
                / (col("na") - 1)
              + (col("vb") / col("nb")) * (col("vb") / col("nb"))
                / (col("nb") - 1)), 4).as("welch_df"))
        .orderBy("dow")
    },

    // Exponentially time-decayed engagement (half-life = 1 week): each
    // user's purchase value weighted by 0.5^(whole weeks before the
    // corpus max date), the recency-weighted LTV primitive. Determinism
    // by construction: weights are exact powers of two applied as
    // integer shifts — value_cents · 2^(CAP - weeks) summed as exact
    // int64, divided once by 2^CAP·100 at the end — no libm anywhere.
    // Scale shape: the anchor (max date) is a 1-row broadcast, then one
    // user-keyed partial+final aggregate; events older than CAP weeks
    // contribute 0 and are filtered before the shuffle.
    QueryDef.sql(
      "q_decay_ltv",
      """WITH anchor AS (SELECT CAST(MAX(ts) AS DATE) AS dmax FROM events),
        |w AS (
        |  SELECT e.user_id,
        |    CAST(CAST(round(CAST(e.value AS DECIMAL(18,2)) * 100, 0)
        |        AS BIGINT)
        |      * (1::BIGINT << (20 - CAST((a.dmax - CAST(e.ts AS DATE)) // 7
        |        AS INTEGER))) AS BIGINT) AS wc
        |  FROM events e CROSS JOIN anchor a
        |  WHERE e.event_type = 'purchase'
        |    AND (a.dmax - CAST(e.ts AS DATE)) // 7 <= 20)
        |SELECT user_id, CAST(SUM(wc) AS BIGINT) AS ltv_fp,
        |  CAST(CAST(SUM(wc) AS BIGINT) AS DOUBLE) / 1048576 / 100
        |    AS decayed_ltv
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val anchor = Tables.events(s, d)
        .agg(to_date(max("ts")).as("dmax"))
      val weeks = floor(datediff(col("dmax"), to_date(col("ts"))) / 7)
        .cast("int")
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .crossJoin(broadcast(anchor))
        .filter(weeks <= 20)
        .select(col("user_id"),
          (round(col("value").cast("decimal(18,2)") * 100, 0).cast("bigint")
            * call_function("shiftleft", lit(1L), lit(20) - weeks)).as("wc"))
        .groupBy("user_id")
        // the fixed-point sum is the exact answer; the double view is the
        // SAME IEEE division in both engines (sum < 2^53, /2^20 exact,
        // one inexact /100) — deliberately NOT rounded: rounding is the
        // only step whose half-way ties differ across engines, and with
        // bit-identical inputs it is the only step that can diverge
        .agg(sum("wc").as("ltv_fp"),
          (sum("wc").cast("double") / 1048576 / 100).as("decayed_ltv"))
        .orderBy("user_id")
    },

    // Gini coefficient + top-1% revenue share over customer spend — the
    // concentration/inequality audit (is the corpus dominated by a few
    // heavy keys?). G = 2·Σi·mᵢ/(n·Σm) − (n+1)/n over ascending-rank
    // customers. The global rank uses the q_shard_pack recipe — range
    // repartition + per-partition row_number + broadcast offsets, never
    // a single-partition sort (the (m, custkey) key is unique, so ranks
    // are range-boundary-independent). Σi·m and Σm are exact decimals;
    // the Gini/share scalars are one closed-form double expression each.
    QueryDef.sql(
      "q_gini_concentration",
      """WITH cust AS (
        |  SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT o_custkey, m,
        |    row_number() OVER (ORDER BY m, o_custkey) AS i
        |  FROM cust),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(m) AS sm,
        |    SUM(CAST(i AS DECIMAL(18,0)) * m) AS swm
        |  FROM ranked),
        |top AS (
        |  SELECT SUM(r.m) AS tm FROM ranked r, tot
        |  WHERE r.i > tot.n - CAST(ceil(CAST(tot.n AS DOUBLE) * 0.01)
        |    AS BIGINT))
        |SELECT n,
        |  round(2 * CAST(swm AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(sm AS DOUBLE))
        |    - (CAST(n AS DOUBLE) + 1) / n, 4) AS gini,
        |  round(CAST(tm AS DOUBLE) / CAST(sm AS DOUBLE), 4)
        |    AS top1pct_share
        |FROM tot, top""".stripMargin) { (s, d) =>
      val cust = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("m"))
      // global ascending rank via the shared recipe; i is 1-based
      val ranked = GlobalRank.withRank(cust,
        Seq(col("m"), col("o_custkey")))
        .withColumn("i", col("rk") + 1)
      val tot = ranked.agg(count(lit(1)).cast("bigint").as("n"),
        sum("m").as("sm"),
        sum(col("i").cast("decimal(18,0)") * col("m")).as("swm"))
      val top = ranked.crossJoin(broadcast(tot.select("n")))
        .filter(col("i") >
          col("n") - ceil(col("n").cast("double") * 0.01).cast("bigint"))
        .agg(sum("m").as("tm"))
      tot.crossJoin(top)
        .select(col("n"),
          round(lit(2) * col("swm").cast("double")
              / (col("n").cast("double") * col("sm").cast("double"))
            - (col("n").cast("double") + 1) / col("n"), 4).as("gini"),
          round(col("tm").cast("double") / col("sm").cast("double"), 4)
            .as("top1pct_share"))
    },

    // Hot-key skew profile of the lineitem⋈supplier join key — the
    // "which keys will melt a reducer?" diagnostic a pipeline runs
    // before choosing salting/broadcast strategy. One map-side-combined
    // count per key, one broadcast of the 2-value totals frame, top-10
    // via TakeOrdered — never a sort of the key frame. skew_vs_avg is
    // the key's row count over the uniform expectation (rows/keys).
    QueryDef.sql(
      "q_skew_profile",
      """WITH k AS (
        |  SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM lineitem GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys FROM k)
        |SELECT key, n_rows,
        |  round(CAST(n_rows AS DOUBLE) / total, 6) AS share,
        |  round(CAST(n_rows AS DOUBLE)
        |    / (CAST(total AS DOUBLE) / n_keys), 2) AS skew_vs_avg
        |FROM k, tot
        |ORDER BY n_rows DESC, key LIMIT 10""".stripMargin) { (s, d) =>
      val k = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").as("key"))
        .agg(count(lit(1)).as("n_rows"))
      val tot = k.agg(sum("n_rows").cast("bigint").as("total"),
        count(lit(1)).cast("bigint").as("n_keys"))
      k.crossJoin(broadcast(tot))
        .select(col("key"), col("n_rows"),
          round(col("n_rows").cast("double") / col("total"), 6).as("share"),
          round(col("n_rows").cast("double")
            / (col("total").cast("double") / col("n_keys")), 2)
            .as("skew_vs_avg"))
        .orderBy(desc("n_rows"), col("key")).limit(10)
    },

    // Kaplan-Meier survival curve for customer lifetime (weeks from
    // first to last order; churn event = last order > 8 weeks before
    // the dataset horizon, else censored) — the retention-analysis
    // primitive. The estimator runs entirely on the DURATION-DOMAIN
    // frame (≤ a few hundred distinct weeks at any corpus size): n-at-
    // risk via a reversed cumulative window, the KM product as a
    // cumulative sum of 6dp-rounded ln(1−d/n) terms (EXACT decimal
    // cumsum — a sequential product would be order-fragile), and
    // survival = exp of that narrow decimal.
    QueryDef.sql(
      "q_survival_km",
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(floor((CAST(max(o_orderdate) AS DATE)
        |      - CAST(min(o_orderdate) AS DATE)) / 7.0) AS BIGINT) AS w,
        |    CAST((SELECT CAST(max(o_orderdate) AS DATE) FROM orders)
        |      - CAST(max(o_orderdate) AS DATE) > 56 AS BIGINT) AS ev
        |  FROM orders GROUP BY o_custkey),
        |per_w AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS ending,
        |    CAST(SUM(ev) AS BIGINT) AS d
        |  FROM cust GROUP BY w),
        |risk AS (
        |  SELECT w, d,
        |    CAST(SUM(ending) OVER (ORDER BY w DESC) AS BIGINT) AS n_risk
        |  FROM per_w),
        |km AS (
        |  SELECT w, d, n_risk,
        |    SUM(CASE WHEN d > 0 AND d < n_risk THEN
        |      CAST(round(ln(1 - CAST(d AS DOUBLE) / n_risk), 6)
        |        AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
        |      OVER (ORDER BY w) AS ln_s
        |  FROM risk)
        |SELECT w AS week, n_risk, d AS n_events,
        |  CAST(ln_s AS DOUBLE) AS ln_survival,
        |  round(exp(CAST(ln_s AS DOUBLE)), 4) AS survival
        |FROM km ORDER BY week""".stripMargin) { (s, d) =>
      val horizon = Tables.orders(s, d)
        .agg(to_date(max("o_orderdate")).as("dmax"))
      val cust = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(to_date(min("o_orderdate")).as("dfirst"),
          to_date(max("o_orderdate")).as("dlast"))
        .crossJoin(broadcast(horizon))
        .select(
          floor(datediff(col("dlast"), col("dfirst")) / 7.0).cast("bigint")
            .as("w"),
          (datediff(col("dmax"), col("dlast")) > 56).cast("bigint").as("ev"))
      val perW = cust.groupBy("w")
        .agg(count(lit(1)).as("ending"), sum("ev").as("d"))
      val wDesc = Window.orderBy(col("w").desc)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wAsc = Window.orderBy("w")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = perW.withColumn("n_risk",
        sum("ending").over(wDesc).cast("bigint"))
      val lnTerm = when(col("d") > 0 && col("d") < col("n_risk"),
        round(log(lit(1) - col("d").cast("double") / col("n_risk")), 6)
          .cast("decimal(18,6)"))
        .otherwise(lit(BigDecimal(0)).cast("decimal(18,6)"))
      risk.withColumn("ln_s", sum(lnTerm).over(wAsc))
        .select(col("w").as("week"), col("n_risk"), col("d").as("n_events"),
          col("ln_s").cast("double").as("ln_survival"),
          round(exp(col("ln_s").cast("double")), 4).as("survival"))
        .orderBy("week")
    },

    // Lorenz curve by customer-spend decile (cumulative share of total
    // revenue held by the bottom k/10 of customers) — the distribution
    // view behind q_gini_concentration, same range-repartition rank, no
    // single-partition sort; decile sums and the running share stay
    // exact decimals until the final divisions.
    QueryDef.sql(
      "q_lorenz_deciles",
      """WITH cust AS (
        |  SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT m, row_number() OVER (ORDER BY m, o_custkey) - 1 AS rk
        |  FROM cust),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(m) AS sm
        |        FROM cust),
        |dec AS (
        |  SELECT CAST((rk * 10) // n AS BIGINT) AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS n_cust, SUM(m) AS dm
        |  FROM ranked, tot GROUP BY 1)
        |SELECT decile, n_cust,
        |  round(CAST(dm AS DOUBLE) / CAST(sm AS DOUBLE), 4)
        |    AS decile_share,
        |  round(CAST(SUM(dm) OVER (ORDER BY decile) AS DOUBLE)
        |    / CAST(sm AS DOUBLE), 4) AS cum_share
        |FROM dec, tot ORDER BY decile""".stripMargin) { (s, d) =>
      val cust = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("m"))
      val ranked = GlobalRank.withRank(cust,
        Seq(col("m"), col("o_custkey")))
      val tot = ranked.agg(count(lit(1)).cast("bigint").as("n"),
        sum("m").as("sm"))
      val dec = ranked
        .crossJoin(broadcast(tot))
        .groupBy(expr("(rk * 10) div n").cast("bigint").as("decile"),
          col("sm"))
        .agg(count(lit(1)).as("n_cust"), sum("m").as("dm"))
      dec.withColumn("cum",
          sum("dm").over(Window.orderBy("decile")
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile"), col("n_cust"),
          round(col("dm").cast("double") / col("sm").cast("double"), 4)
            .as("decile_share"),
          round(col("cum").cast("double") / col("sm").cast("double"), 4)
            .as("cum_share"))
        .orderBy("decile")
    }
  )
}
