package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-layout clustering for multi-dimensional file skipping.
  *
  * A single-column sort gives perfect min/max pruning on one key and
  * none on any other; interleaving the bits of two keys (Morton /
  * Z-order) gives a 1-D sort key whose ranges stay tight on BOTH
  * dimensions — the standard layout trick behind multi-column data
  * skipping. Writing 100 TB as
  * `df.repartitionByRange(N, zorderKey).sortWithinPartitions(zorderKey)`
  * yields files whose per-file min/max stats prune on either predicate
  * column (the same stats `StatsPruning` consumes on the read side).
  *
  * The interleave is pure integer bit-arithmetic
  * (`shiftright`/`&`/`<<` folded over 16 bit positions), fully
  * codegen'd, overflow-free under ANSI (results < 2^32) — and exactly
  * replicable in any engine, so the gate hash-checks it.
  */
object Layout {

  /** Morton (Z-order) interleave of the low 16 bits of two non-negative
    * keys: bit i of `x` lands at position 2i, bit i of `y` at 2i+1. */
  def zorder16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      (shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** DuckDB replay of the Hilbert xy→d walk: the same 8 rotate-and-fold
    * iterations the codegen'd kernel runs, unrolled as chained CTEs
    * (per level: d += s²·((3·rx) xor ry), then the conditional
    * reflect+swap of the working coordinates). */
  private def hilbertOracle: String = {
    val iters = (1 to 8).map { lvl =>
      val log2 = 8 - lvl
      val s = 1 << log2
      s"""h$lvl AS (
         |  SELECT cx, cy,
         |    d + ${s.toLong * s} * xor(3 * ((x >> $log2) & 1), (y >> $log2) & 1) AS d,
         |    CASE WHEN ((y >> $log2) & 1) = 0 THEN
         |      CASE WHEN ((x >> $log2) & 1) = 1 THEN $s - 1 - y ELSE y END
         |      ELSE x END AS x,
         |    CASE WHEN ((y >> $log2) & 1) = 0 THEN
         |      CASE WHEN ((x >> $log2) & 1) = 1 THEN $s - 1 - x ELSE x END
         |      ELSE y END AS y
         |  FROM h${lvl - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH h0 AS (
       |  SELECT o_custkey % 256 AS cx, o_orderkey % 256 AS cy,
       |    o_custkey % 256 AS x, o_orderkey % 256 AS y, CAST(0 AS BIGINT) AS d
       |  FROM orders),
       |$iters
       |SELECT CAST(d >> 10 AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(MIN(cx) AS BIGINT) AS cust_cell_min,
       |  CAST(MAX(cx) AS BIGINT) AS cust_cell_max,
       |  CAST(MIN(cy) AS BIGINT) AS order_cell_min,
       |  CAST(MAX(cy) AS BIGINT) AS order_cell_max
       |FROM h8 GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    // Hilbert layout audit — same grid and bucket math as the Z-order
    // audit below, but along the Hilbert curve. Buckets are aligned
    // 1024-cell curve ranges, and an aligned 4^5 Hilbert block is
    // EXACTLY one 32×32 quadrant — so every bucket's span is ≤ 32 cells
    // on BOTH axes (LayoutSpec pins it), with none of Z-order's
    // diagonal seam-jumps for unaligned ranges. The oracle unrolls the
    // identical bit walk in SQL, so the gate hash-checks every index.
    QueryDef.sql("q_hilbert_layout", hilbertOracle) { (s, d) =>
      Tables.orders(s, d)
        .withColumn("cx", col("o_custkey") % 256)
        .withColumn("cy", col("o_orderkey") % 256)
        .withColumn("hkey",
          graft.functions.GraftFunctions.hilbert(col("cx"), col("cy"), 8))
        .groupBy(shiftright(col("hkey"), 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("cx").as("cust_cell_min"), max("cx").as("cust_cell_max"),
          min("cy").as("order_cell_min"), max("cy").as("order_cell_max"))
        .orderBy("bucket")
    },
    // Z-order layout audit. Real layouts first QUANTIZE each column to a
    // bounded grid (range/quantile bucket ids), then interleave the grid
    // coordinates; here the grid map is `key mod 256` (dense synthetic
    // keys ⇒ uniform over the full 8-bit grid at every SF). Bucket =
    // top 6 bits of the 16-bit Morton code — the range buckets a
    // zorder-sorted write would produce — and each bucket's span on
    // BOTH grid axes is ≤ 2^5 (3 of 8 bits pinned per axis, asserted in
    // LayoutSpec): the property that lets per-file min/max stats prune
    // on either predicate column. The oracle replays the exact bit math.
    QueryDef.sql(
      "q_zorder_layout",
      """WITH z AS (
        |  SELECT o_custkey % 256 AS cx, o_orderkey % 256 AS cy,
        |    list_sum(list_transform(generate_series(0, 15), i ->
        |      (((o_custkey % 256) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
        |        + (((o_orderkey % 256) >> i) & 1)
        |          * (CAST(1 AS BIGINT) << (2 * i + 1))))
        |      AS zkey
        |  FROM orders)
        |SELECT CAST(zkey >> 10 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(cx) AS BIGINT) AS cust_cell_min,
        |  CAST(MAX(cx) AS BIGINT) AS cust_cell_max,
        |  CAST(MIN(cy) AS BIGINT) AS order_cell_min,
        |  CAST(MAX(cy) AS BIGINT) AS order_cell_max
        |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      orders
        .withColumn("cx", col("o_custkey") % 256)
        .withColumn("cy", col("o_orderkey") % 256)
        .withColumn("zkey", zorder16(col("cx"), col("cy")))
        .groupBy(shiftright(col("zkey"), 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("cx").as("cust_cell_min"), max("cx").as("cust_cell_max"),
          min("cy").as("order_cell_min"), max("cy").as("order_cell_max"))
        .orderBy("bucket")
    },

    // Compaction / file-sizing plan: per source partition, how many
    // output files a size-targeted rewrite should produce and what each
    // would weigh. In production the n_files column IS the argument to
    // `df.repartitionByRange(n_files, sortKey).write` — the table-
    // maintenance step that keeps 100 TB from fragmenting into millions
    // of small files (or a handful of unsplittable giants). The target
    // here is 4 KiB, the SF-scaled stand-in for the usual 128 MiB. One
    // count/sum aggregate over the corpus; the plan math is pure integer
    // (ceil-div via (b + t - 1) div t), so the oracle is bit-exact.
    QueryDef.sql(
      "q_compaction_plan",
      """WITH b AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY source),
        |f AS (SELECT source, n_docs, bytes,
        |        CAST(GREATEST(1, (bytes + 4095) // 4096) AS BIGINT)
        |          AS n_files
        |      FROM b)
        |SELECT source, n_docs, bytes, n_files,
        |  CAST(bytes // n_files AS BIGINT) AS avg_file_bytes,
        |  CAST(n_docs // n_files AS BIGINT) AS docs_per_file
        |FROM f ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bytes"))
        .withColumn("n_files",
          greatest(lit(1L), expr("(bytes + 4095) div 4096")))
        .select(col("source"), col("n_docs"), col("bytes"), col("n_files"),
          expr("bytes div n_files").as("avg_file_bytes"),
          expr("n_docs div n_files").as("docs_per_file"))
        .orderBy("source")
    },

    // ------------------------------------------------------------------
    // Shard content manifest — the integrity ledger of a 100 TB corpus:
    // per shard (doc_id div 100 ≈ ingest file), an ORDER-INDEPENDENT
    // content fingerprint (sum of a 16-bit integer decode of each row's
    // md5(doc_id:text) prefix), row count, and byte volume. Re-running
    // the manifest after a copy/compaction/engine-migration detects any
    // lost, duplicated, or silently-corrupted row without comparing data
    // — the exact use the cross-engine hash gate itself demonstrates.
    // SCALE: one codegen'd projection + one map-side-combined aggregate;
    // the fingerprint sum is commutative so partitioning never matters.
    QueryDef.sql(
      "q_shard_manifest", {
        val hexDigitsSql = (1 to 4).map { i =>
          val mult = math.pow(16, 4 - i).toLong
          s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1) * $mult"
        }.mkString(" + ")
        s"""SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
          |  CAST(SUM($hexDigitsSql) AS BIGINT) AS fingerprint
          |FROM (
          |  SELECT doc_id // 100 AS shard, n_chars,
          |    substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 4)
          |      AS h
          |  FROM documents)
          |GROUP BY shard ORDER BY shard""".stripMargin
      }) { (s, d) =>
      val h = substring(
        md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))),
        1, 4)
      val hexVal = (1 to 4).map { i =>
        val mult = math.pow(16, 4 - i).toLong
        (instr(lit("0123456789abcdef"), substring(col("h"), i, 1)) - 1)
          .cast("bigint") * mult
      }.reduce(_ + _)
      Tables.documents(s, d)
        .select(expr("doc_id div 100").as("shard"), col("n_chars"),
          h.as("h"))
        .groupBy("shard")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_chars").cast("bigint").as("n_bytes"),
          sum(hexVal).cast("bigint").as("fingerprint"))
        .orderBy("shard")
    },

    // Clustering-depth audit (Delta/Iceberg "overlap depth"): how many
    // files' [min,max] sort-key ranges stack on top of each other — THE
    // metric that decides whether a table needs re-clustering. Depth at
    // any point = number of shard intervals covering it; computed by the
    // classic sweep: +1 at each interval start, −1 at each end, running
    // sum in (time, starts-before-ends, shard) order — inclusive
    // overlaps counted exactly, all BIGINT. max_depth is the worst-case
    // "files a point lookup must read"; avg_start_depth ≈ 1 means
    // perfectly clustered, ≈ n_shards means fully interleaved ingest.
    // SCALE: the sweep runs over the ZONE-MAP frame (2 rows per file —
    // metadata scale, ~1e6 rows for a 100 TB table), built by one
    // map-side-combined aggregate over the data; the unpartitioned
    // window sits strictly above that aggregate, never the raw table.
    QueryDef.sql(
      "q_overlap_depth",
      s"""WITH z AS (
        |  SELECT l_orderkey // 1000 AS shard,
        |    MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx
        |  FROM lineitem GROUP BY 1),
        |ev AS (
        |  SELECT mn AS t, 1 AS delta, 0 AS is_end, shard FROM z
        |  UNION ALL
        |  SELECT mx AS t, -1 AS delta, 1 AS is_end, shard FROM z),
        |sweep AS (
        |  SELECT is_end,
        |    CAST(SUM(delta) OVER (ORDER BY t, is_end, shard) AS BIGINT)
        |      AS depth
        |  FROM ev)
        |SELECT
        |  CAST(SUM(CASE WHEN is_end = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shards,
        |  CAST(MAX(depth) AS BIGINT) AS max_depth,
        |  CAST(SUM(CASE WHEN is_end = 0 THEN depth ELSE 0 END) AS BIGINT)
        |    AS sum_start_depth,
        |  CAST(SUM(CASE WHEN is_end = 0 AND depth = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clean_starts,
        |  ${TextAnalysis.halfUp4Sql(
             "SUM(CASE WHEN is_end = 0 THEN depth ELSE 0 END)",
             "SUM(CASE WHEN is_end = 0 THEN 1 ELSE 0 END)")}
        |    AS avg_start_depth
        |FROM sweep""".stripMargin) { (s, d) =>
      val z = Tables.lineitem(s, d)
        .groupBy(expr("l_orderkey div 1000").as("shard"))
        .agg(min("l_shipdate").as("mn"), max("l_shipdate").as("mx"))
      val ev = z.select(col("mn").as("t"), lit(1L).as("delta"),
          lit(0).as("is_end"), col("shard"))
        .unionByName(z.select(col("mx").as("t"), lit(-1L).as("delta"),
          lit(1).as("is_end"), col("shard")))
      val sweep = ev.withColumn("depth",
        sum("delta").over(Window.orderBy("t", "is_end", "shard")))
      sweep.agg(
        sum(when(col("is_end") === 0, 1L).otherwise(0L)).cast("bigint")
          .as("n_shards"),
        max("depth").cast("bigint").as("max_depth"),
        sum(when(col("is_end") === 0, col("depth")).otherwise(0L))
          .cast("bigint").as("sum_start_depth"),
        sum(when(col("is_end") === 0 && col("depth") === 1, 1L)
          .otherwise(0L)).cast("bigint").as("n_clean_starts"),
        TextAnalysis.halfUp4(
          "SUM(CASE WHEN is_end = 0 THEN depth ELSE 0 END)",
          "SUM(CASE WHEN is_end = 0 THEN 1 ELSE 0 END)")
          .as("avg_start_depth"))
    }
  )
}
