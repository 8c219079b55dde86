package graft

/** Physical-plan shape assertions for the round-7 operators — the
  * properties that make them scale, pinned so a regression (a lost
  * broadcast, a surprise cartesian, a full sort where TakeOrdered
  * belongs) fails a test instead of only slowing the bench. */
class PlanShapeSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  test("bm25: df/stats sides broadcast; no cartesian beyond the 1-row stats") {
    val p = plan("text_bm25_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"df/stats should broadcast:\n$p")
    // the only nested-loop join allowed is the 1-row corpus-stats cross
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"unexpected extra nested-loop joins:\n$p")
    // global top-10 must be TakeOrdered — not a single-partition sort
    // or an unpartitioned window over the full scored set
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k should plan as TakeOrderedAndProject:\n$p")
  }

  test("semantic dedup: centroid assignment broadcasts, never a real cross product") {
    val p = plan("dedup_semantic")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"k-row centroid side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("repetition filters: map-only in-row stats, no joins, no aggregate exchange") {
    // r15 opt 2: both per-doc stats compute IN-ROW from the token array
    // (sorted-run modal count / array_distinct), so the plan must be a
    // pure projection chain — no joins, no HashAggregate, and the only
    // exchanges are the repartition spread and the output sort
    val p = plan("text_repetition")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"unexpected join shape:\n$p")
    assert(!p.contains("HashAggregate"),
      s"per-doc stats should be in-row, not aggregated:\n$p")
    assert(p.contains("array_sort") && p.contains("array_distinct"),
      s"expected the in-row sorted-run/distinct kernels:\n$p")
  }

  test("salted asof: window runs per (key, salt) — salt present in the sort") {
    val df = SparkEntry.queries("q_asof_join_salted")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window"), s"expected a window:\n$p")
    assert(p.contains("__salt"), s"salt column should partition the window:\n$p")
  }

  test("multiway join: dims broadcast, no cartesian, facts shuffle at most once each") {
    val p = plan("q_multiway_join")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 3, s"region/nation/supplier/customer should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"bad join shape:\n$p")
  }

  test("bloom join: probe filters the fact side below the join") {
    val p = plan("q_bloom_join")
    assert(p.contains("graft_bloom_contains"), s"probe missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("count-min: sketch cells and exact counts broadcast to the probes") {
    val p = plan("text_count_min")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"cell/exact sides should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("winsorized mean: the 3-row bounds frame broadcasts to the fact side") {
    val p = plan("q_winsorized_mean")
    assert(p.contains("BroadcastHashJoin"),
      s"bounds join must broadcast, never shuffle lineitem:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
  }

  test("quality classifier: single narrow projection, no joins or shuffles") {
    val df = SparkEntry.queries("text_quality_classifier")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"classifier must be a pure per-row projection:\n$p")
  }

  test("histogram: the 1-row extremes frame broadcasts; no real cartesian") {
    val p = plan("q_histogram")
    // the only nested-loop join allowed is the 1-row min/max cross
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1 &&
      !p.contains("CartesianProduct"), s"unexpected join shape:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
  }

  test("funnel: stage joins are hash joins on user_id, never a sort") {
    val p = plan("q_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"stage joins must stay hash-shaped:\n$p")
    assert(p.contains("user_id"), s"joins should key on user_id:\n$p")
  }

  test("applyChanges: no Except/Union chain; aggregation-shaped reconciliation") {
    val spark2 = spark
    import spark2.implicits._
    val base = Seq(("a", 1), ("b", 2)).toDF("k", "x")
    val feed = Seq(("add", 1L, "c", 3), ("remove", 2L, "a", 1))
      .toDF("_change_type", "_commit_version", "k", "x")
      .withColumn("_commit_timestamp", org.apache.spark.sql.functions.lit(0L))
      .select("k", "x", "_change_type", "_commit_version", "_commit_timestamp")
    val df = graft.sharing.GraftSharing.applyChanges(base, feed)
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("Except"), s"fold shape leaked back in:\n$p")
    // base and feed reconcile in ONE hash exchange on the row identity:
    // both aggregations reuse it, and no join re-shuffles either side
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val phys = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val exchanges = phys.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val joins = phys.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(exchanges.size == 1 && joins.isEmpty,
      s"expected one exchange and no join:\n$phys")
  }

  test("weighted sample: global top-k plans as TakeOrdered, never a full sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"A-ES top-k must be TakeOrdered:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global range sort for a k-row sample:\n$p")
  }

  test("mixture epochs: one corpus scan; normalizer broadcasts back") {
    val p = plan("q_mixture_epochs")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row normalizer should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
    // the persisted per-source frame must serve BOTH consumers (output
    // rows + normalizer) from the cache, so the corpus aggregation runs
    // once by construction ("Scan parquet" still appears inside each
    // InMemoryTableScan's cached-plan description, so count these)
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).length
    assert(cacheReads >= 2,
      s"both branches should read the persisted frame (got $cacheReads):\n$p")
  }

  test("compaction plan: single aggregation, pure integer file math") {
    val p = plan("q_compaction_plan")
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"plan should be agg + projection only:\n$p")
  }

  test("drift psi: corpus reduces to bin cells; parity halves are stable") {
    val p = plan("text_drift_psi")
    assert(p.contains("HashAggregate"), s"expected cell aggregation:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"totals must broadcast onto the 10-row cells:\n$p")
    val rows = SparkEntry.queries("text_drift_psi")(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 10, s"bins 0..9 only: ${rows.length}")
    // the parity halves draw from the same distribution — total PSI must
    // sit far below the classic 0.2 drift alarm
    val psi = rows.map(_.getDouble(3)).sum
    assert(psi >= 0 && psi < 0.2, s"parity cohorts should not drift: $psi")
    // every doc lands in exactly one cell
    val n = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(n == Tables.documents(spark, sf0001).count(), s"docs lost: $n")
  }

  test("weighted sample favors long docs; compaction files honor the target") {
    val ws = SparkEntry.queries("q_weighted_sample")(spark, sf0001).collect()
    assert(ws.length == 40, s"sample must be exactly k rows (got ${ws.length})")
    import org.apache.spark.sql.functions._
    val meanAll = Tables.documents(spark, sf0001)
      .select(avg(size(operators.TextAnalysis.tokens(col("text")))))
      .collect()(0).getDouble(0)
    val meanSample = ws.map(_.getInt(2).toDouble).sum / ws.length
    assert(meanSample > meanAll,
      s"length-weighted sample should skew long: $meanSample <= $meanAll")
    val cp = SparkEntry.queries("q_compaction_plan")(spark, sf0001).collect()
    cp.foreach { r =>
      val bytes = r.getLong(2); val nFiles = r.getLong(3)
      assert(nFiles == math.max(1L, (bytes + 4095) / 4096),
        s"n_files must be ceil-div of bytes: $r")
      assert(r.getLong(4) <= 4096, s"avg file exceeds target: $r")
    }
  }

  test("attribution: one window pass over events, never an event self-join") {
    val p = plan("q_attribution")
    assert(p.contains("Window"), s"attribution should be a window:\n$p")
    assert(!p.contains("Join"), s"event×event join crept in:\n$p")
    // one scan of the fact table only
    assert("Scan ".r.findAllIn(p).length <= 1, s"extra scans:\n$p")
  }

  test("welch t-test: ONE scan, conditional aggregate, no joins") {
    val p = plan("q_ab_welch_ttest")
    assert(!p.contains("Join"), s"arms must not join:\n$p")
    assert("Scan ".r.findAllIn(p).length == 1, s"one events scan only:\n$p")
    assert(p.contains("HashAggregate"), s"hash agg expected:\n$p")
  }

  test("regression trend: nation dim broadcasts; OLS sees only aggregates") {
    val p = plan("q_regression_trend")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"25-row nation should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("decay ltv: 1-row anchor broadcasts; weights need no extra shuffle") {
    val p = plan("q_decay_ltv")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1 && !p.contains("CartesianProduct"),
      s"only the 1-row anchor cross is allowed:\n$p")
    // shuffles: the 1-row anchor aggregate, the user-keyed aggregate,
    // and the output sort — broadcasts excluded (they move k rows)
    val shuffles = "Exchange".r.findAllIn(p).length -
      "BroadcastExchange".r.findAllIn(p).length
    assert(shuffles <= 3, s"shuffle creep ($shuffles):\n$p")
  }

  test("ngram novelty: inverted-index joins only, no pairwise anything") {
    val p = plan("text_ngram_novelty")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"pairwise shape crept in:\n$p")
  }

  test("incremental dedup: bucket joins only, no cross product anywhere") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    // the decision aggregate is the last stage; candidates come from
    // equi-joins (hash or sort-merge), never nested loops over docs
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join crept in:\n$p")
  }

  test("label propagation: per-round joins stay hash-shaped") {
    val p = plan("graph_label_propagation")
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"rounds should hash-join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"loop join crept in:\n$p")
  }

  test("itemset pairs: part broadcasts, pair ranking is TakeOrdered") {
    val p = plan("q_itemset_pairs")
    assert(p.contains("BroadcastHashJoin"),
      s"part/support sides should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 should plan as TakeOrderedAndProject:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("spearman: both rank tables broadcast onto one corpus pass") {
    val p = plan("q_spearman_corr")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"both distinct-value rank tables should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge join belongs in this shape:\n$p")
  }

  test("join-size estimate: the join is predicted, never executed") {
    val p = plan("q_join_size_estimate")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the estimated self-join must not appear in the plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top key should ride TakeOrdered:\n$p")
  }

  test("kcenter coreset: selected set broadcasts; argmax is TakeOrdered") {
    val p = graft.operators.Similarity
      .kcenterCoreset(Tables.embeddings(spark, sf0001), k = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject") || p.contains("Union"),
      s"greedy steps should surface as TakeOrdered/Union:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    // the docstring contract: each round is ONE corpus pass — the <=k-row
    // selection broadcasts into both the anti-join and the distance cross,
    // never a corpus-shuffling sort-merge join
    assert(!p.contains("SortMergeJoin"),
      s"selection joins must broadcast, not shuffle the corpus:\n$p")
  }
}
