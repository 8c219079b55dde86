package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}

/** Scale smoke harness.
  *
  * Default mode: runs EVERY registered query (headline or not) at the
  * given SF with a noop sink — the scale-regression smoke for operators
  * the bench subset doesn't time. Prints per-query seconds and a FAILED
  * list; exits nonzero on any failure.
  *
  * `heavy` mode (`runMain graft.tools.ScaleSmoke heavy`): replicates the
  * sf0.1 corpus ~10× (id-shifted copies — documents/embeddings/orders;
  * events shifted in TIME so event density stays constant and the range
  * join must prune 9/10 of the event span), then runs the heaviest
  * operators under the [[StageTasks]] listener and asserts NO stage
  * breaks its skew rule (max task <= 10× median) — the property that
  * decides whether a shape survives a 1000-executor cluster. Writes
  * SCALESMOKE.md in the working directory.
  */
object ScaleSmoke {

  def main(args: Array[String]): Unit =
    if (args.contains("heavy")) heavy() else smokeAll()

  private def smokeAll(): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.allDefs.foreach { q =>
      val t0 = System.nanoTime()
      try {
        q.build(spark, sf).write.format("noop").mode("overwrite").save()
        println(f"SMOKE ${q.name}%-32s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      } catch {
        case e: Throwable =>
          failed += q.name
          println(s"SMOKE ${q.name} FAILED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      } finally graft.CacheRegistry.releaseAll()
    }
    println(if (failed.isEmpty) "SMOKE ALL OK"
      else s"SMOKE FAILED: ${failed.mkString(", ")}")
    graft.CacheRegistry.releaseShared()
    graft.operators.ConnectorQueries.stopAll()
    spark.stop()
    sys.exit(if (failed.isEmpty) 0 else 1)
  }

  // ---- heavy mode -------------------------------------------------------

  /** Queries whose scale behavior the round verdicts flagged as worth a
    * dedicated skew check (LSH self-join, range join, iterative k-means,
    * global span dedup). */
  private val heavyQueries =
    Seq("dedup_minhash_lsh", "q_range_join", "sim_kmeans", "text_dedup_spans",
      "q_bloom_join", "q_hll_rollup", "q_hilbert_layout",
      "graph_pagerank", "graph_reachability", "sim_pq_adc",
      "graph_common_neighbors", "q_shard_pack",
      // r7 verdict: the heaviest benched queries that had no skew gate
      "graph_triangles", "q_winsorized_mean", "q_kll_rollup",
      "text_count_min", "q_multiway_join",
      // r8 additions with non-trivial shuffle shapes
      "dedup_incremental", "dedup_containment", "text_ngram_novelty",
      "graph_hits", "graph_label_propagation",
      // r8 second wave: token-stream joins (DSIR/KL), survivor-restricted
      // degree iterations (k-core), the B-wide bootstrap explode, the
      // range-repartition rank (gini), the distinct-value rank-sum
      // window (mann-whitney), and the MMR pool tail
      "text_dsir_weights", "text_kl_divergence", "graph_kcore",
      "q_bootstrap_ci", "q_gini_concentration", "q_mann_whitney",
      "sim_mmr_diversify",
      // r8 third wave: PPR iterations, KS distinct-value window, the
      // media-keyed scene-cut lag, the ranked lift table
      "graph_ppr", "q_ks_test", "mm_scene_cut", "q_decile_lift",
      // r9 wave: the basket self-join (order-keyed pair explosion), the
      // exploded mat-vec shuffles, the k-round corpus passes of
      // farthest-point sampling, and the token-bucket hash aggregate
      "q_itemset_pairs", "sim_pca_power", "sim_kcenter_coreset",
      "text_hashed_features",
      // r9 second wave: the bigram first-occurrence explode + global
      // doc rank, and the per-group cumulative-weight window
      "text_heaps_law", "q_weighted_percentile",
      // r9 third wave (inference suite): the two GlobalRank order-
      // statistic pipelines and the |sources|x|vocab| smoothed JSD grid
      "q_qte", "q_qini", "text_jsd",
      // r10 wave (r9 verdict ask): the 9-cell explode equi-join, the
      // blocked quadratic linkage compare, the two bounded-pool fusion /
      // mining pipelines, the coarsened-matching aggregate, and the
      // newly SHARDED corpus prefix-sum packing
      "spatial_grid_nn", "q_fuzzy_linkage", "sim_hybrid_rrf",
      "sim_margin_mining", "q_cem_att", "text_pack_offsets",
      // r10 second wave: the quantized corpus scan, the token-stream
      // scorer join, the bigram-type aggregates, and the GlobalRank
      // histogram build
      "sim_sq8_topk", "text_perplexity_buckets", "text_kneser_ney",
      "q_equidepth_histogram",
      // the 9-cell pair join + iterative closure at 10x point density
      "spatial_dbscan",
      // r11 wave: the three fused corpus-wide replace projections of
      // BPE tokenizer application
      "text_bpe_apply",
      // r12 wave: the probe-pruned inverted-list candidate join + ADC
      // rescore, and the 8-round dictionary-level BPE induction with
      // the corpus-wide broadcast encode join
      "sim_ivf_pq", "text_bpe_encode",
      // r13 wave: the 512-rows/media DCT fan-out + 6-chunk Hamming-band
      // pair join, and the second corpus pass of the fertility audit
      // over the shared BPE merge table
      "mm_phash_dedup", "text_token_fertility",
      // r13 second wave: the landmark-hash bucket self-join + offset
      // vote aggregation of the constellation fingerprint
      "mm_audio_fingerprint",
      // r14 wave: the files-served landmark index (build + hb-pruned
      // probe join + candidate-partition verify)
      "mm_afp_prebuilt",
      // r14: the content-defined-chunking boundary scan + stop-chunk-
      // capped bucket join (exact-dup cliques cross the cap at 10x by
      // design — the LSH oversized-bucket class)
      "mm_cdc_dedup",
      // r14 second wave (r13 verdict ask #1): the flagship streaming
      // compositions at 10x corpus — the curation stream drives
      // Dedup.incrementalDedup's oversized-bucket cap per CDF commit
      // (AvailableNow trigger = batch-style foreachBatch loop), and the
      // SCD2 fold's per-commit touched-keys join. Staging derives the
      // CDF fixtures from THIS dir's tables, so the arrivals are 10x.
      "connector_incremental_curation", "connector_cdf_scd2",
      // r15 wave (r14 verdict ask #4): the CDF-maintained IVF index —
      // per-commit assignment kernels + cell-partitioned appends compose
      // the IVF cell caps, the exact class the tiers exist for
      "connector_ivf_ingest",
      // r15 second wave: the CDF-maintained LSH dedup index (per-commit
      // touched-bucket probe joins compose the LSH caps; the 10x corpus
      // has exact-dup cliques by construction), and the label-filtered
      // IVF serve over the replicated embedding corpus
      "connector_dedup_ingest", "sim_filtered_ann",
      // r15 third wave: the per-byte Laplacian decode (repartitioned
      // corpus projection + media-keyed rollup at 10x media), and the
      // triangle-explode per-node counts over the shared capped graph
      "mm_image_blur", "graph_clustering_coeff")

  /** Build the replicated corpus if absent: id-shifted copies so join/
    * grouping keys stay distinct per copy; identical texts across copies
    * deliberately create exact-duplicate cliques (mega-cluster stress for
    * the skew caps). Events are shifted by 720 h per copy so per-hour
    * density is unchanged and interval probes only match 1/N of the span. */
  private def stageScaled(spark: SparkSession, baseSf: String, outDir: String,
      replicas: Int): Unit = {
    // tables joined the staged set over rounds — restage if any missing
    val required = Seq("lineitem", "supplier", "region", "nation",
      "customer", "part")
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(outDir, "_STAGED")) &&
        required.forall(t => java.nio.file.Files.exists(
          java.nio.file.Paths.get(outDir, s"$t.parquet"))))
      return
    val copies = 0 until replicas
    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    val docs = Tables.documents(spark, baseSf)
    write(copies.map(i => docs.withColumn("doc_id",
      col("doc_id") + lit(i * 10000000L))).reduce(_ unionAll _), "documents")
    val emb = Tables.embeddings(spark, baseSf)
    write(copies.map(i => emb.withColumn("vec_id",
      col("vec_id") + lit(i * 10000000L))).reduce(_ unionAll _), "embeddings")
    val orders = Tables.orders(spark, baseSf)
    write(copies.map(i => orders.withColumn("o_orderkey",
      col("o_orderkey") + lit(i * 100000000L))).reduce(_ unionAll _), "orders")
    val li = Tables.lineitem(spark, baseSf)
    write(copies.map(i => li.withColumn("l_orderkey",
      col("l_orderkey") + lit(i * 100000000L))).reduce(_ unionAll _), "lineitem")
    // replication leaves l_suppkey/o_custkey unshifted (the graph keeps
    // its node set, edges multiply) — one unshifted copy of each
    // dimension matches; at 100 TB dims scale far slower than facts, so
    // dims-constant/facts-replicated is also the realistic shape
    Seq("supplier", "region", "nation", "customer", "part").foreach(t =>
      write(Tables.load(spark, baseSf, t), t))
    val events = Tables.events(spark, baseSf)
    write(copies.map(i => events.withColumn("ts",
      col("ts") + expr(s"INTERVAL ${i * 720} HOURS"))).reduce(_ unionAll _),
      "events")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(outDir, "_STAGED"))
  }

  private def heavy(): Unit = {
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICAS", "10").toInt
    val baseSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      "target/scale-heavy")
    val spark = GraftSession.local(GraftSession.cpus)
    val stageTasks = new StageTasks(spark)

    stageScaled(spark, baseSf, outDir, replicas)

    val report = new StringBuilder
    report ++= s"# SCALESMOKE — heavy-tail skew audit\n\n"
    report ++= s"Corpus: $baseSf replicated ${replicas}x (id-shifted; " +
      "events time-shifted) — documents/embeddings/orders/lineitem/events " +
      s"at ~${replicas}x sf0.1 volume.\n\n"
    report ++= "Skew gate: in every stage with >= 8 tasks and median task " +
      ">= 300 ms, max task <= 10x median.\n\n"
    report ++= "| query | sec | stages | max tasks/stage | worst max/median | skew |\n"
    report ++= "|---|---|---|---|---|---|\n"

    var anyFail = false
    // optional re-measure filter: `heavy name1,name2` runs a subset
    // (prints rows, skips the SCALESMOKE.md rewrite so a partial run
    // can't masquerade as the full audit)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(',').toSet)
    only.foreach { names =>
      val unknown = names -- heavyQueries.toSet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_ONLY names not in heavyQueries: " +
          s"${unknown.mkString(", ")} — a typo would otherwise audit " +
          "nothing and still print ALL OK")
    }
    heavyQueries.filter(n => only.forall(_.contains(n))).foreach { name =>
      stageTasks.reset()
      val t0 = System.nanoTime()
      val outcome = try {
        SparkEntry.queries(name)(spark, outDir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      graft.CacheRegistry.releaseAll()
      val stages = stageTasks.snapshot()
      val ratios = stages.flatMap(StageTasks.gatedRatio)
      val worst = if (ratios.isEmpty) 0.0 else ratios.max
      val skewOk = !stages.exists(StageTasks.skewed)
      val ok = outcome.isEmpty && skewOk
      if (!ok) anyFail = true
      val status = outcome.map(e => s"FAILED ${e.getClass.getSimpleName}")
        .getOrElse(if (skewOk) "ok" else "SKEWED")
      report ++= f"| $name | $secs%.1f | ${stages.length} | " +
        f"${stages.map(_.tasks).maxOption.getOrElse(0)} | $worst%.1f | $status |\n"
      println(f"HEAVY $name%-24s $secs%8.1f s stages ${stages.length}%3d " +
        f"worst-skew $worst%5.1f  $status")
    }
    report ++= s"\nResult: ${if (anyFail) "FAIL" else "ALL OK"}\n"
    if (only.isEmpty) // a partial re-measure must not pose as the audit
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("SCALESMOKE.md"), report.toString)
    println(if (anyFail) "HEAVY FAIL" else "HEAVY ALL OK")
    graft.CacheRegistry.releaseShared()
    graft.operators.ConnectorQueries.stopAll()
    spark.stop()
    sys.exit(if (anyFail) 1 else 0)
  }
}
