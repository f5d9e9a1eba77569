package graft

import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale claims in PLANS.md/SCALING.md as
  * enforced tests, so a refactor that silently loses pushdown, broadcast, a
  * rank-limit, or map-side partials fails CI instead of surviving as a
  * perf-only regression.
  */
class PlanSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Static (pre-execution) plan string: what the PLANNER emitted. Right for
    * scan-level facts (pushdown, read schema, partial aggregation modes,
    * rank limits) that AQE never revisits.
    */
  private def plan(name: String): String = {
    val df = Queries.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  /** FINAL adaptive plan: executes the query so AQE's runtime re-planning is
    * reflected — required for join-strategy claims, which AQE may change.
    */
  private def finalPlan(name: String): String = {
    val df = Queries.queries(name)(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("isFinalPlan=false"), s"plan never finalized:\n$p")
    p
  }

  test("q05: filter and projection reach the parquet scan") {
    val p = plan("q05_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double"), p)
  }

  test("q21: the bounded candidate side is broadcast in the FINAL plan") {
    val p = finalPlan("q21_fuzzy_top1")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q58: both top-1 stages use the WindowGroupLimit rank pushdown") {
    val p = plan("q58_places_backfill")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("q62: percentile gate has no per-stratum global sort; prune join is broadcast") {
    val p = finalPlan("q62_percentile_gate")
    // the two-pass gate ranks only within fine-grained (source, score)
    // buckets and derives pr arithmetically; a bare percent_rank window
    // would reintroduce the one-reducer-per-stratum sort this design
    // removed, so its absence IS the scale property.
    assert(!p.contains("percent_rank"), p)
    assert(p.contains("row_number"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
  }

  test("q01: aggregation is partial map-side before the exchange") {
    val p = plan("q01_pricing_agg")
    assert(p.contains("partial_sum"), p)
  }

  test("per-row scalar queries (lang_id, clean_text, rep_signals, shape_audit) have no Exchange") {
    for (q <- Seq("q30_lang_id", "q79_clean_text", "q81_rep_signals")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles a per-row pipeline:\n$p")
    }
    // shape_audit keeps the per-row property EXCEPT for the deliberate
    // scan-parallelism fan-out (Tables.fanOut, optimization r21): the ONLY
    // allowed exchange is the explicit REPARTITION_BY_NUM, never an
    // algorithmic (hash-for-aggregation/join) shuffle
    val p = plan("q114_shape_audit")
    val exchanges = "Exchange [^\n]*".r.findAllIn(p).toSeq
    assert(exchanges.forall(_.contains("REPARTITION_BY_NUM")),
      s"q114 grew a non-fan-out shuffle:\n$p")
  }

  test("q72: BM25 corpus stats ride a broadcast; no cartesian product") {
    val p = finalPlan("q72_bm25")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q80: contamination probe is a keyed join, never a cartesian product") {
    val p = finalPlan("q80_contamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q89: boilerplate is equi-joins only; the flag pass is a left-semi") {
    val p = plan("q89_boilerplate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("semantic pairs: centroid assignment broadcasts; candidates equi-join on cell") {
    val emb = Tables(spark, sfDir, "embeddings")
    val pairs = graft.llm.Dedup.semanticPairs(emb,
      graft.llm.SimSearch.seedCentroids(emb, 64), "embedding", "vec_id", 0.25)
    pairs.collect()
    val p = pairs.queryExecution.executedPlan.toString
    // the ONLY non-equi join is the bounded centroid broadcast; the
    // within-cell candidate join must be keyed, never cartesian
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q91: shard export pays one hash exchange, never a global range sort") {
    val p = plan("q91_shard_export")
    assert(!p.contains("rangepartitioning"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q98: chunking is a pure explode — zero exchanges, fused into the scan") {
    val p = plan("q98_chunks")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("q99: vocab top-V is a TakeOrdered merge, never a global sort; vocab side broadcasts") {
    val p = finalPlan("q99_oov_profile")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q95: substring spans merge per doc — no global sort, dup filter is a semi-join") {
    val p = plan("q95_substring_spans")
    // the islands window sorts WITHIN doc partitions (hashpartitioning(id));
    // a rangepartitioning exchange would mean a global sort crept in
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("q104: FIM rewrite is pure per-row work — zero exchanges") {
    val p = plan("q104_fim")
    assert(!p.contains("Exchange"), p)
  }

  test("q102: BPE top-100 is a TakeOrdered merge over the pair relation") {
    val p = plan("q102_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q101: DSIR bucket stats broadcast; no cartesian on the gram relation") {
    val p = finalPlan("q101_dsir_weights")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
  }

  test("q103: entropy is keyed hash aggregation, never a global sort") {
    val p = plan("q103_char_entropy")
    assert(!p.contains("rangepartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q100: pageRank output reads a checkpoint — iterative lineage stays flat") {
    val df = Queries.queries("q100_pagerank")(spark, sfDir)
    // the returned frame must scan the final round's localCheckpoint (a
    // LogicalRDD), not replay 5 rounds of joins per downstream action
    assert(df.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      df.queryExecution.optimizedPlan.toString)
  }

  test("q105: phrase table broadcasts; gram side never range-sorts") {
    val p = finalPlan("q105_phrase_search")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("rangepartitioning"), p)
    spark.catalog.clearCache()
  }

  test("q107: A-ES top-k uses the WindowGroupLimit rank pushdown") {
    val p = plan("q107_weighted_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q108: resize plan is pure per-row work — zero exchanges") {
    val p = plan("q108_resize_plan")
    assert(!p.contains("Exchange"), p)
  }

  test("q110: temperature rates touch no data-sized shuffle beyond the count") {
    val p = finalPlan("q110_temp_mixture")
    // the rates side is a |sources|-row relation + one-row scalar, broadcast
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q109/q112: inverse-CDF lookup is a broadcast array search, not a BNL join") {
    for (q <- Seq("q109_quantile_norm", "q112_quantile_norm_mean")) {
      val p = finalPlan(q)
      // the pr <= cdf theta-join form fans every row out to the whole bucket
      // relation (O(rows x buckets) — VERDICT r08 #1); the native expression
      // replaces it with an O(log buckets)/row binary search
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q: inverse-CDF lookup regressed to a nested-loop join:\n$p")
      assert(p.contains("inv_cdf_lookup"), s"$q: expected inv_cdf_lookup in:\n$p")
    }
  }

  test("q111: vocabulary side carries no forced broadcast; AQE still broadcasts when small") {
    val p = finalPlan("q111_bpe_encode")
    // the hint-free equi-join must come back as a runtime broadcast at this
    // scale (proving no local perf regression) — while an oversized crawl
    // vocabulary would now legally fall back to a shuffled join instead of
    // a driver OOM (VERDICT r08 #2)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q115: paragraph winner agg is map-side partial; no cartesian anywhere") {
    val p = plan("q115_para_dedup")
    // min(struct(doc_id, pos)) per paragraph hash: a struct buffer forces
    // SortAggregate, but the partial/final split must survive — each mapper
    // ships ONE candidate winner per distinct paragraph, not every occurrence
    assert(p.contains("partial_min"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q116: KMV sketch partial-aggregates map-side before the exchange") {
    val p = plan("q116_kmv_distinct")
    assert("partial_kmv_sketch".r.findFirstIn(p).isDefined
      || "kmv_sketch".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Expand"), p) // not the countDistinct expansion
  }

  test("q117/q118/q122: PQ family joins codes against broadcast tables; no vector cross join") {
    for (q <- Seq("q117_pq_topk", "q118_ivfpq_topk", "q122_ivfpq_residual")) {
      val p = finalPlan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      // top-k via the bounded-heap aggregate, not a corpus-wide window sort
      assert(p.contains("top_k_by_score"), s"$q:\n$p")
    }
  }

  test("q124: appended-index search keeps the PQ-family shape — broadcasts, no cross join") {
    val p = finalPlan("q124_incremental_ann")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("top_k_by_score"), p)
  }

  test("q126: active gap fill has no cross join — per-key spine only") {
    val p = finalPlan("q126_gap_fill_active")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q127: bucket prune join is a hash join, not nested-loop over the docs") {
    val p = finalPlan("q127_ccnet_buckets")
    // the only BNLs are the two 1-row scalar broadcasts (LM corpus stats);
    // the percentile buckets join on null-safe keys must hash
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q130: IVF+SQ8 prunes by probed cell with hash joins; top-k via bounded heap") {
    val p = finalPlan("q130_ivfsq8_topk")
    // the only nested-loop shapes are 1-row broadcast stats/frac scalars;
    // the cell prune and the probe/query fan-out must be hash joins
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("top_k_by_score"), p)
  }

  test("q133: PII scrub is a pure projection — zero exchanges, zero joins") {
    val p = plan("q133_pii_scrub")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q134: blocklist probe is a broadcast hash join; no cartesian") {
    val p = finalPlan("q134_url_blocklist")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q135: refine prunes the raw-vector fetch through broadcast candidate joins") {
    val p = finalPlan("q135_ann_refine")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
    // the final exact-rescore ranking is the bounded heap, not a window sort
    assert(p.contains("top_k_by_score") || p.contains("TopKByScore"), p)
  }

  test("q136/q137: classifier scoring broadcasts the bounded model; no cartesian") {
    val p1 = finalPlan("q136_quality_clf")
    assert(p1.contains("BroadcastExchange"), p1)
    assert(!p1.contains("CartesianProduct"), p1)
    val p2 = finalPlan("q137_nb_clf")
    assert(p2.contains("BroadcastExchange"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("q138: tf-idf reads ONE pinned weighted-postings pass; equi-joins only") {
    val p = finalPlan("q138_tfidf_similar")
    // the weighted postings are localCheckpointed: the 1-row stats BNLJ and
    // the idf join live inside that single materialization, so the query
    // plan itself is checkpoint scans + broadcast hash joins
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
  }

  test("q139: multimodal pack keeps the q85 FFD shape — one hash exchange, no global sort") {
    val p = finalPlan("q139_mm_pack")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // FFD packs within hash partitions: local sort only, never a range
    // (global) sort exchange
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q145: diff join carries only (key, fingerprint) — text never shuffles") {
    val p = finalPlan("q145_snapshot_diff")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("FullOuter"), p)
    // md5 is computed IN the scan-side projection, so no exchange row type
    // contains the text column
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text#")), p)
  }

  test("q146: funnel reads checkpointed stage states; joins stay user-keyed hash") {
    val p = finalPlan("q146_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ExistingRDD"), p) // localCheckpointed per-stage state
  }

  test("q147: retention is hash aggregates only — no global sort, no cartesian") {
    val p = finalPlan("q147_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q148: epoch mixing explodes in the scan; rates join by broadcast") {
    val p = finalPlan("q148_epoch_mix")
    assert(p.contains("Generate explode"), p) // replication fused, not joined
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q149: path window partitions by user; no cartesian anywhere") {
    val p = finalPlan("q149_event_paths")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the single-partition top-10 window runs on the bounded |vocab|^3
    // relation AFTER the per-user lead window + hash aggregate
    assert(p.contains("lead("), p)
  }

  test("q155: SCD2 windows are all key-partitioned; no cartesian, no global sort") {
    val p = plan("q155_scd2")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // every Sort feeding a window must be a LOCAL per-partition sort (the
    // key hash-partitions the timeline) — a GLOBAL sort (printed
    // `Sort [...], true, 0`) would mean a single-reducer window snuck in
    assert(!p.contains("], true, 0"), p)
    assert(p.contains("lag(") && p.contains("lead("), p)
  }

  test("q156: triangle closure is equi-joins only; sole BNL is the 1-row total attach") {
    val p = finalPlan("q156_triangles")
    assert(!p.contains("CartesianProduct"), p)
    // the wedge build and closure must be hash equi-joins; the ONE
    // BroadcastNestedLoopJoin is the broadcast of the 1-row total aggregate
    // (plan string = final + initial section, so the node prints twice)
    val finalSection = p.split("== Initial Plan ==").head
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalSection).size == 1, p)
    // the top-20 cut is a TakeOrderedAndProject, not a global window
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q158: as-of join is one union-tag window, not a theta join") {
    val p = finalPlan("q158_asof_scd2")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("last("), p) // the carry-forward window
  }

  test("dynamic partition pruning reaches a partitioned fact scan") {
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString + "/t"
    spark.range(2000)
      .select(col("id"), (col("id") % 10).as("p"))
      .write.partitionBy("p").parquet(dir)
    val facts = spark.read.parquet(dir)
    val dim = spark.range(10).select(col("id").as("p"), (col("id") * 3).as("attr"))
      .filter(col("attr") === 9L) // selective: exactly one partition survives
    val joined = facts.join(dim, "p")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan:\n$p")
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    val prev = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // fixture scans are far below the 10GB production default — drop the
      // application-side threshold so the injection fires at harness scale
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // broadcast would bypass the bloom (DPP-style reuse) — force SMJ/SHJ
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
      val o = Tables(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 200000.0)
        .select("o_orderkey")
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"expected a runtime bloom filter on the fact side:\n$p")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("AQE splits a skewed sort-merge join at runtime") {
    import spark.implicits._
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // tiny thresholds so the harness-sized hot key counts as skew
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      // 95% of facts share one key -> one reducer partition dwarfs the rest
      val facts = spark.range(200000)
        .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id") % 40).as("k"),
          col("id").as("payload"))
      val dim = spark.range(40).select(col("id").as("k"), (col("id") * 2).as("attr"))
      val joined = facts.join(dim, "k")
      // execute THIS dataframe's own QueryExecution: count() wraps it in an
      // agg and write() in a command, both with their OWN adaptive plan —
      // collect() is what finalizes joined.queryExecution itself
      assert(joined.collect().length == 200000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p)
      assert(p.contains("skew=true"),
        s"expected AQE skew-join split in final plan:\n$p")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q183: benchmark gram set broadcasts; training grams never cartesian") {
    val p = finalPlan("q183_decontam")
    val fin = p.split("== Initial Plan ==").head
    assert(fin.contains("BroadcastHashJoin"), p)
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"), p)
  }

  /** The final section of query `name`'s executed plan, and how many of
    * its scans are key-grouped graft scans.
    */
  private def keyGroupedScans(name: String): (String, Int) = {
    import org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = Queries.queries(name)(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val keyed = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) { case s: BatchScanExec if s.scan.isInstanceOf[graft.sources.GraftScan] &&
        s.outputPartitioning.isInstanceOf[KeyGroupedPartitioning] => s }
    (plan.toString.split("== Initial Plan ==").head, keyed.size)
  }

  test("q212: the fact–fact join rides two SPJ scans with no join-side Exchange") {
    val (fin, keyed) = keyGroupedScans("q212_spj_join")
    assert(keyed == 2, s"both sides must take the key-grouped scan path:\n$fin")
    // the aggregation above the join still shuffles (count distinct expands
    // twice); the JOIN KEYS must never — that's the storage-partitioned win
    assert(!fin.contains("hashpartitioning(l_orderkey") &&
      !fin.contains("hashpartitioning(o_orderkey"),
      s"join keys must not reach an Exchange:\n$fin")
    assert(fin.contains("SortMergeJoin"), fin)
  }

  test("q214: the composite-layout self-join key-groups on (day, bucket) with no join-side Exchange") {
    val (fin, keyed) = keyGroupedScans("q214_spj_composite")
    assert(keyed == 2, s"both halves must take the key-grouped scan path:\n$fin")
    // the aggregation above still shuffles on the event-type pair; the
    // JOIN keys (user_id, ts) must never reach an Exchange
    assert(!fin.contains("hashpartitioning(user_id"),
      s"join keys must not reach an Exchange:\n$fin")
    assert(fin.contains("SortMergeJoin"), fin)
  }

  test("q191: trace joins broadcast and the top-k rank is a bounded heap, not a sort-all") {
    val p = finalPlan("q191_decontam_trace")
    val fin = p.split("== Initial Plan ==").head
    assert(fin.contains("BroadcastHashJoin"), p)
    assert(fin.contains("WindowGroupLimit"),
      s"rank<=k must push a bounded per-partition heap:\n$p")
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"), p)
  }
}
