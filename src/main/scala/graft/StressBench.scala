package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.PartSpec

/** Scaling-curve probe: replicate the sf0.1 inputs in-memory by factors
  * 1/4/16 and measure the heavy operators' runtime growth. Replicated
  * documents are salted per replica (a replica tag spliced between words) so
  * near-dup detection faces an honestly-scaled corpus rather than a
  * pathological everything-is-a-dup one. Results back SCALING.md's
  * linear-growth claims with measurements.
  *
  * Usage: runMain graft.StressBench [sfDir]
  */
object StressBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    // optional 2nd arg: comma-separated op-label prefixes — run only those
    // probes (local iteration on one op's curve without the full sweep)
    val onlyOps: Option[Seq[String]] =
      if (args.length > 1) Some(args(1).split(",").toSeq) else None
    // replication factors for every curve — override for deeper sweeps
    // (e.g. SPARK_GRAFT_STRESS_FACTORS=1,16,64 for the 64x refresh)
    val factors: Seq[Int] = sys.env.get("SPARK_GRAFT_STRESS_FACTORS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 4, 16))
    val spark = GraftSession.build()

    def docsTimes(f: Int): DataFrame = {
      val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
      if (f == 1) docs
      else docs.crossJoin(spark.range(f).select(col("id").as("rep")))
        .select((col("doc_id") * f + col("rep")).as("doc_id"),
          regexp_replace(col("text"), lit(" "),
            concat(lit(" z"), col("rep").cast("string"), lit(" "))).as("text"))
    }
    // Per-(doc, replica) salt: the shared-per-replica salt above makes every
    // doc of a replica share ~half its token mass with every other — ALL of
    // a replica's simhashes collapse into one near-dup cluster and the pair
    // output itself goes quadratic (measured: 16x stress ran >28 min). A
    // unique salt per row keeps replicas uncorrelated, so bucketed near-dup
    // ops face honestly-scaled sparse data.
    def docsTimesUncorr(f: Int): DataFrame = {
      val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
      if (f == 1) docs
      else docs.crossJoin(spark.range(f).select(col("id").as("rep")))
        .select((col("doc_id") * f + col("rep")).as("doc_id"),
          regexp_replace(col("text"), lit(" "),
            concat(lit(" z"), (col("doc_id") * f + col("rep")).cast("string"),
              lit(" "))).as("text"))
    }
    def embTimes(f: Int): DataFrame = {
      val emb = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
      if (f == 1) emb
      else emb.crossJoin(spark.range(f).select(col("id").as("rep")))
        .select((col("vec_id") * f + col("rep")).as("vec_id"), col("embedding"))
    }
    def eventsTimes(f: Int): DataFrame = {
      val e = Tables(spark, sfDir, "events").select("user_id", "ts", "event_type")
      if (f == 1) e
      else e.crossJoin(spark.range(f).select(col("id").as("rep")))
        .select((col("user_id") * f + col("rep")).as("user_id"),
          col("ts"), col("event_type"))
    }
    def lineitemTimes(f: Int): DataFrame = {
      val l = Tables(spark, sfDir, "lineitem")
      if (f == 1) l
      else l.crossJoin(spark.range(f).select(col("id").as("rep"))).drop("rep")
    }
    // keys scale with the data, per-key history length stays constant — the
    // honest direction for keyed-timeline ops (SCD2, change feed)
    def ordersTimes(f: Int): DataFrame = {
      val o = Tables(spark, sfDir, "orders")
      if (f == 1) o
      else o.crossJoin(spark.range(f).select(col("id").as("rep")))
        .select((col("o_custkey") * f + col("rep")).as("o_custkey"),
          (col("o_orderkey") * f + col("rep")).as("o_orderkey"),
          col("o_orderstatus"), col("o_orderpriority"),
          col("o_orderdate"), col("o_totalprice"))
    }
    // f DISJOINT copies of the co-occurrence graph: m scales ×f with the
    // degree distribution preserved (offsetting only orderkeys would
    // DENSIFY the fixed part set toward a complete graph — cubic triangle
    // growth by fixture construction, not algorithm behavior)
    def coocTimes(f: Int): DataFrame = {
      val li = Tables(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      (if (f == 1) li
       else li.crossJoin(spark.range(f).select(col("id").as("rep")))
         .select((col("o") * f + col("rep")).as("o"),
           (col("p") * f + col("rep")).as("p"))).distinct()
    }

    def time(label: String, f: Int)(df: => DataFrame): Unit = {
      if (!onlyOps.forall(_.exists(label.startsWith))) return
      df.write.format("noop").mode("overwrite").save() // warm (codegen)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      println(f"""[stress] {"op":"$label","factor":$f,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    }

    for (f <- factors) {
      time("minhash_pairs", f)(
        graft.llm.Dedup.minhashPairs(docsTimes(f), "text", "doc_id", 3, 16, 4, 0.5))
      time("winnow", f)(
        graft.llm.TextStats.winnowFingerprintsRolling(docsTimes(f), "doc_id", "text", 8, 16))
      time("topk_agg", f)({
        val e = embTimes(f)
        graft.llm.SimSearch.bruteForceTopKAgg(
          e.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("embedding")),
          e, 5)
      })
      time("pricing_agg", f)(
        lineitemTimes(f)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"),
            count(lit(1)).as("n")))
      time("simhash_swept", f)(
        graft.llm.Dedup.simhashPairsSwept(docsTimesUncorr(f), "text", "doc_id", 7, 6))
      time("jaccard_prefix", f)(
        graft.llm.Dedup.jaccardPairsPrefix(docsTimesUncorr(f), "text", "doc_id", 3, 0.5))
      time("lang_id", f)(
        docsTimes(f).select(col("doc_id"),
          graft.llm.TextStats.langIdNative(
            graft.llm.TextStats.tokens(lower(col("text")))).as("lang")))
      time("bm25", f)({
        import spark.implicits._
        val qs = graft.llm.Retrieval.sampleQueries.toDF("query_id", "qtext")
        graft.llm.Retrieval.bm25TopK(docsTimesUncorr(f), "doc_id", "text",
          qs, "query_id", "qtext", 10)
      })
      time("salted_join", f)({
        val facts = lineitemTimes(f)
          .select(col("l_orderkey"), col("l_partkey").as("k"), col("l_quantity"))
        val dim = Tables(spark, sfDir, "part").select(col("p_partkey").as("k"), col("p_name"))
        graft.ops.Skew.saltedJoin(facts, dim, "k", 8)
      })
      // round-9 headline fix: the inverse-CDF lookup must scale with the
      // ROWS (percentileGate windows), not rows x buckets — replicas shift
      // n_chars by rep so the bucket relation grows too, exercising both
      // axes of the old BNL blow-up
      time("quantile_norm_mean", f)({
        val docs = Tables(spark, sfDir, "documents").select("doc_id", "source", "n_chars")
        val d = if (f == 1) docs
          else docs.crossJoin(spark.range(f).select(col("id").as("rep")))
            .select((col("doc_id") * f + col("rep")).as("doc_id"), col("source"),
              (col("n_chars") + col("rep")).as("n_chars"))
        graft.llm.Sampling.quantileNormalizeMean(d, "source", col("n_chars"),
          col("doc_id"), maxBuckets = 1L << 21)
      })
      // round-9 additions: paragraph winner agg (footer groups grow with N —
      // the partial-min shape must stay linear), PQ with its FIXED codebook
      // (the capped seed is the linearity claim), and the KMV sketch (k longs
      // per group regardless of distinct count)
      time("para_dedup", f)({
        val ws = split(col("text"), " ")
        val built = docsTimesUncorr(f).select(col("doc_id"),
          concat_ws("\n\n", array_join(slice(ws, 1, 8), " "),
            concat(lit("footer boilerplate "), pmod(col("doc_id"), lit(7))),
            array_join(slice(ws, 9, 8), " ")).as("text"))
        graft.llm.ParagraphDedup.dedup(built, "doc_id", "text")
      })
      time("pq_topk", f)({
        val e = embTimes(f)
        graft.llm.ProductQuant.pqTopK(
          e.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("embedding")),
          e, 5, trainSample = 4096)
      })
      time("bigram_lm", f)({
        val d = docsTimesUncorr(f)
        val (uni, bi) = graft.llm.LangModel.bigramLm(d, "doc_id", "text")
        graft.llm.LangModel.scoreDocsBigram(d, "doc_id", "text", uni, bi, 0.0)
      })
      time("cms_freq", f)({
        val tok = docsTimesUncorr(f).select(explode(
          graft.llm.TextStats.tokens(graft.llm.Dedup.normalize(col("text")))).as("term"))
        graft.llm.Sketches.cmsMatrix(tok, "term", d = 4, w = 1024)
      })
      time("ivfpq_topk", f)({
        val e = embTimes(f)
        graft.llm.ProductQuant.ivfPqTopK(
          e.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("embedding")),
          e, 5, trainSample = 4096)
      })
      time("ivfsq8_topk", f)({
        val e = embTimes(f)
        graft.llm.ScalarQuant.ivfSq8TopK(
          e.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("embedding")),
          e, 5, trainSample = 4096)
      })
      // r12 additions: both trained classifiers (one-pass NB; 3-round GD —
      // per-round cost must track the feature relation linearly), the
      // postings-probe TF-IDF search (uncorrelated salts blow up the vocab,
      // stressing the idf join), and the exact-refine tail over IVFPQ
      // (bounded |Q|·k' rescore must stay flat next to the index's growth)
      time("nb_clf", f)({
        val d = docsTimesUncorr(f).withColumn("is_pos",
          lower(col("text")).contains("window").cast("int"))
        graft.llm.Classifier.naiveBayes(d, "doc_id", "text", "is_pos")
      })
      time("logreg_clf", f)({
        val d = docsTimesUncorr(f).withColumn("is_pos",
          (pmod(col("doc_id"), lit(3)) === 0).cast("int"))
        graft.llm.Classifier.qualityClassifier(d, "doc_id", "text", "is_pos")
      })
      time("tfidf_similar", f)({
        val d = docsTimesUncorr(f)
        graft.llm.Retrieval.tfIdfSimilar(d, "doc_id", "text",
          d.filter(col("doc_id") < 4).select("doc_id"), 5)
      })
      time("ann_refine", f)({
        val e = embTimes(f)
        val qs = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding"))
        graft.llm.SimSearch.refineTopK(qs, e,
          graft.llm.ProductQuant.ivfPqTopK(qs, e, 20, trainSample = 4096), 5)
      })
      time("quantile_sketch", f)(
        graft.llm.Sketches.bottomKQuantiles(lineitemTimes(f), "l_returnflag",
          col("l_orderkey") * 10 + col("l_linenumber"), col("l_extendedprice"),
          64, Seq(0.1, 0.5, 0.9)))
      time("split_guard", f)(
        graft.llm.Split.leakageReport(docsTimesUncorr(f), "doc_id", "text", 0.2))
      time("curation_funnel", f)({
        val d = docsTimesUncorr(f).withColumn("source",
          pmod(col("doc_id"), lit(10)).cast("string"))
        graft.llm.QualityModel.curationFunnel(d, "doc_id", "text", "source")
      })
      time("hash_embed", f)(
        graft.llm.HashEmbed.docEmbeddings(docsTimesUncorr(f), "doc_id", "text", 64))
      // r12 batch 3: snapshot diff (the shuffle carries only (key, md5) — a
      // text-payload diff must cost like a thin join, not a text join), the
      // ordered funnel + weekly retention (user-keyed state chains; users
      // scale WITH the data so per-user state stays one row), and
      // epoch-aware mixture replication (explode fused into the scan; cost
      // is the OUTPUT multiset, 2.4x rows here)
      time("snapshot_diff", f)({
        val d = docsTimesUncorr(f)
        graft.ops.Diff.snapshotDiff(
          d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", Seq("text"))
      })
      time("funnel", f)(
        graft.ops.EventAnalytics.funnel(eventsTimes(f), "user_id", "ts",
          "event_type", Seq("signup", "click", "purchase")))
      time("retention", f)(
        graft.ops.EventAnalytics.weeklyRetention(eventsTimes(f), "user_id", "ts"))
      time("epoch_mix", f)(
        graft.llm.Sampling.epochMixture(docsTimesUncorr(f), col("doc_id"), lit(2.4)))
      // r12 batch 4: one-pass profiling aggregates (must track the scan
      // linearly — the model row is fixed-size) and incremental aggregate
      // maintenance (3 delta folds; per-batch cost must track the DELTA,
      // with bucket-pruned state reads)
      time("corr_matrix", f)(
        graft.ops.Stats.corrMatrix(lineitemTimes(f),
          Seq("l_quantity", "l_extendedprice", "l_discount")))
      time("histogram", f)(
        graft.ops.Stats.histogram(lineitemTimes(f), "l_extendedprice", 16))
      time("inc_agg", f)({
        val root = java.nio.file.Files.createTempDirectory(s"stress-inc$f")
          .toString + "/state"
        val l = lineitemTimes(f)
        Seq(0, 1, 2).foreach { b =>
          graft.ops.IncrementalAgg.applyBatch(spark, root,
            l.filter(pmod(col("l_orderkey"), lit(3)) === b),
            "l_partkey", "l_extendedprice", nBuckets = 32)
        }
        graft.sources.ManifestTable.read(spark, root,
          graft.ops.IncrementalAgg.stateSchema)
      })
      time("kmv_distinct", f)({
        val hv = conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
          .cast("long")
        lineitemTimes(f).groupBy("l_returnflag")
          .agg(org.apache.spark.sql.graft.KmvColumns.kmvSketch(hv, 64).as("s"))
          .select(col("l_returnflag"), col("s.est"))
      })
      // r12 batch 5: SCD2 (keys scale with data, per-key timeline constant
      // — windows must stay per-key), degree-ordered triangles (f disjoint
      // graph copies: edge/wedge volume ×f, linear by construction — the
      // DENSIFYING direction is excluded by design, that's a fixture
      // property, not an algorithm one), merge-on-read delete (predicate
      // eval is one scan, DV write ∝ matches), the partition-pruned change
      // feed, and the KMV distinct view (3 delta folds, bucket-pruned reads)
      time("scd2", f)(
        graft.ops.Scd.type2(ordersTimes(f), "o_custkey", "o_orderdate",
          Seq("o_orderstatus", "o_orderpriority"), "o_orderkey"))
      time("triangles", f)({
        val li = coocTimes(f)
        val e = li.as("x").join(li.as("y"),
            col("x.o") === col("y.o") && col("x.p") < col("y.p"))
          .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
        graft.ops.LinkGraph.triangleStats(e)
      })
      time("delete_vectors", f)({
        val root = java.nio.file.Files.createTempDirectory(s"stress-dv$f")
          .toString + "/t"
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
        val o = ordersTimes(f).select("o_orderkey", "o_orderpriority", "o_totalprice")
        graft.sources.ManifestTable.commit(o, root, Some(PartSpec.Identity("o_orderpriority")))
        graft.sources.ManifestTable.deleteWhere(spark, root, schema,
          pmod(col("o_orderkey"), lit(100)) === 0)
        graft.sources.ManifestTable.read(spark, root, schema)
      })
      time("change_feed", f)({
        val root = java.nio.file.Files.createTempDirectory(s"stress-cdf$f")
          .toString + "/t"
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
        val o = ordersTimes(f).select("o_orderkey", "o_orderpriority", "o_totalprice")
        graft.sources.ManifestTable.commit(o, root, Some(PartSpec.Identity("o_orderpriority")))
        graft.sources.ManifestTable.commit(
          o.filter(col("o_orderpriority") === "1-URGENT")
            .withColumn("o_totalprice", col("o_totalprice") + 1.0),
          root, Some(PartSpec.Identity("o_orderpriority")))
        graft.sources.ManifestTable.changes(spark, root, schema, Seq("o_orderkey"), 1L, 2L)
      })
      time("inc_distinct", f)({
        val root = java.nio.file.Files.createTempDirectory(s"stress-ikmv$f")
          .toString + "/state"
        val l = lineitemTimes(f)
        val hv = conv(substring(md5(col("l_partkey").cast("string")), 1, 15), 16, 10)
          .cast("long")
        Seq(0, 1, 2).foreach { b =>
          graft.ops.IncrementalAgg.applyDistinctBatch(spark, root,
            l.filter(pmod(col("l_orderkey"), lit(3)) === b),
            "l_returnflag", hv, k = 64, nBuckets = 8)
        }
        graft.sources.ManifestTable.read(spark, root,
          graft.ops.IncrementalAgg.distinctStateSchema)
      })
      // r12 batch 6: robust medians (two per-group window sorts — groups
      // are few and huge, the adversarial direction for windows), the
      // as-of feature join (keys ×f, one union-tag window), hop windows
      // (4× generate fused into the scan), decay scores (two keyed aggs),
      // and JW linkage (corpus ×f against a FIXED probe set — linear;
      // scaling probes WITH the corpus would be quadratic by construction)
      time("robust_outliers", f)(
        graft.ops.Stats.robustOutliers(lineitemTimes(f),
          "l_returnflag", "l_extendedprice"))
      time("asof_scd2", f)({
        val o = ordersTimes(f)
        val dim = graft.ops.Scd.type2(o, "o_custkey", "o_orderdate",
            Seq("o_orderstatus", "o_orderpriority"), "o_orderkey")
          .select(col("o_custkey"), col("o_orderstatus").as("st"),
            col("o_orderpriority").as("pr"), col("valid_from"))
        val facts = o.select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderdate") - expr("INTERVAL 30 DAYS")).as("ts30"))
        graft.ops.TemporalJoin.asOf(facts, dim, "o_custkey", "ts30", "valid_from")
      })
      time("hop_windows", f)(
        eventsTimes(f).groupBy(window(col("ts"), "1 hour", "15 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n")))
      time("decay_score", f)(
        graft.ops.EventAnalytics.halfLifeScore(eventsTimes(f),
          "user_id", "ts", 21600000000L))
      time("jaro_link", f)({
        val base = Tables(spark, sfDir, "customer").select("c_custkey", "c_name")
        val cust = if (f == 1) base
          else base.crossJoin(spark.range(f).select(col("id").as("rep")))
            .select((col("c_custkey") * f + col("rep")).as("c_custkey"),
              col("c_name"))
        val probes = base.filter(pmod(col("c_custkey"), lit(101)) === 0)
          .select(col("c_custkey").as("probe_id"),
            concat(substring(col("c_name"), 1, 9),
              substring(col("c_name"), 11, 64)).as("probe"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("c_custkey"))
        cust.crossJoin(broadcast(probes))
          .withColumn("sim", graft.functions.Fuzzy.jaroWinkler(col("c_name"), col("probe")))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
      })
    }
    // 64x probes ONLY the bucketed-dedup family (VERDICT r05 #3): these are
    // the ops where quadratic effects would FIRST bite (candidate-pair
    // generation), so the curve needs a point far enough out to expose a
    // bend the 16x sweep could hide; the other ops' growth is already
    // pinned ~linear at 16x and a 64x everything-sweep buys nothing for its
    // wall-clock cost.
    for (f <- Seq(64)) {
      time("minhash_pairs", f)(
        graft.llm.Dedup.minhashPairs(docsTimes(f), "text", "doc_id", 3, 16, 4, 0.5))
      time("simhash_swept", f)(
        graft.llm.Dedup.simhashPairsSwept(docsTimesUncorr(f), "text", "doc_id", 7, 6))
      time("jaccard_prefix", f)(
        graft.llm.Dedup.jaccardPairsPrefix(docsTimesUncorr(f), "text", "doc_id", 3, 0.5))
      // r11: the sample-bounded PQ training claims CORPUS-SIZE-INDEPENDENT
      // train cost; 16x barely exercises it (128k sample vs 32k corpus at
      // 16x means the 4096 cap bites, but encode still dominates). The 64x
      // point pins the claim: growth beyond 16x must track the single
      // encode pass alone.
      time("pq_topk", f)({
        val e = embTimes(f)
        graft.llm.ProductQuant.pqTopK(
          e.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("embedding")),
          e, 5, trainSample = 4096)
      })
    }
    // r12: recall@5 vs exact squared-L2 truth at 1x and 16x — the SCALING.md
    // quality row next to the runtime rows: a bucketed index whose RECALL
    // collapses as the corpus grows would pass every runtime curve while
    // silently degrading. Values print per method (q131 is the oracled
    // fixture-scale counterpart). Replicas are PERTURBED per (replica, dim)
    // — identical copies would make every query's true top-5 its own
    // distance-0 clones, which every quantizer also ranks first (measured:
    // flat 1.000 across the board), so the 16x point would claim recall the
    // fixture never tested. Perturbation densifies each vector's
    // neighborhood instead, which is the adversarial direction for a
    // quantized index (cell/code boundaries now split true neighbors).
    for (f <- Seq(1, 16)) {
      if (onlyOps.forall(_.exists("ann_recall".startsWith))) {
        val base = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
        val e = (if (f == 1) base
          else base.crossJoin(spark.range(f).select(col("id").as("rep")))
            .select((col("vec_id") * f + col("rep")).as("vec_id"),
              transform(col("embedding"), (x, i) =>
                x + pmod(col("rep") * 7 + i, lit(13)).cast("float") * lit(0.01f))
                .as("embedding"))).localCheckpoint()
        val qs = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding"))
        import graft.llm._
        SimSearch.annRecall(qs, e, 5, Seq(
          "pq" -> ProductQuant.pqTopK(qs, e, 5, trainSample = 4096),
          "ivfpq" -> ProductQuant.ivfPqTopK(qs, e, 5, trainSample = 4096),
          "ivfpq_res" -> ProductQuant.ivfPqResidualTopK(qs, e, 5, trainSample = 4096),
          "sq8" -> ScalarQuant.sq8TopK(qs, e, 5),
          "ivfsq8" -> ScalarQuant.ivfSq8TopK(qs, e, 5, trainSample = 4096)))
          .groupBy("method").agg(avg(col("recall")).as("recall"))
          .collect().sortBy(_.getString(0))
          .foreach { r =>
            println(f"""[stress] {"op":"ann_recall_${r.getString(0)}","factor":$f,"recall":${r.getDouble(1)}%.3f}""")
          }
        org.apache.spark.sql.graft.Checkpoints.release(e)
      }
    }
    // r13: merge WRITE AMPLIFICATION curve — the mergeDv claim measured.
    // A FIXED 500-row update batch lands in a lineitem-derived table at
    // 1x/4x/16x via (a) copy-on-write (mergePartitionPruned + commit: every
    // touched partition rewritten) and (b) merge-on-read (mergeDv: batch
    // append + DV positions). CoW bytes must grow with the corpus (the
    // batch touches every partition), MoR bytes must stay ~flat — the
    // O(changed rows) contract as a measured curve, not a scaladoc claim.
    if (onlyOps.forall(_.exists("dv_merge".startsWith))) {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("p", StringType),
        StructField("v", DoubleType)))
      def dirBytes(d: java.io.File): Long =
        if (!d.exists) 0L
        else d.listFiles.map(x =>
          if (x.isDirectory) dirBytes(x) else x.length).sum
      for (f <- factors) {
        val rows = Tables(spark, sfDir, "lineitem")
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id0"),
            col("l_extendedprice").as("v"))
          .crossJoin(spark.range(f).select(col("id").as("rep")))
          .select((col("id0") * f + col("rep")).as("id"),
            concat(lit("p"), pmod(col("id0") * f + col("rep"), lit(8))).as("p"),
            col("v"))
        val batch = rows.filter(col("id") % 4801 === 0)
          .withColumn("v", col("v") * 2).localCheckpoint()
        for (mode <- Seq("cow", "mor")) {
          val root = java.nio.file.Files.createTempDirectory(s"dvamp-$mode")
            .toString + "/t"
          graft.sources.ManifestTable.commit(rows, root, Some(PartSpec.Identity("p")))
          val t0 = System.nanoTime()
          if (mode == "cow")
            graft.sources.ManifestTable.commit(graft.ops.Upsert.mergePartitionPruned(
              graft.sources.ManifestTable.read(spark, root, schema), batch, "id", "p"),
              root, Some(PartSpec.Identity("p")))
          else
            graft.sources.ManifestTable.mergeDv(batch, root, schema, Seq("id"),
              Some(PartSpec.Identity("p")))
          val sec = (System.nanoTime() - t0) / 1e9
          val written = dirBytes(new java.io.File(s"$root/v00000002")) +
            dirBytes(new java.io.File(s"$root/d00000002"))
          println(f"""[stress] {"op":"dv_merge_$mode","factor":$f,"sec":$sec%.2f,"mb_written":${written / 1e6}%.1f}""")
        }
        org.apache.spark.sql.graft.Checkpoints.release(batch)
      }
    }
    // r14: STREAMING REPLICATION cost curve — the change-feed stream's
    // O(changed rows) claim measured. Source at 1x/4x/16x with the
    // partition count scaling alongside (8f dirs of ~constant size — the
    // 100 TB layout posture); after the seed micro-batch (O(table), grows),
    // a change set confined to 8 FIXED-size partitions replays through
    // readStream(graft) -> writeStream(cdf) and its wall time must stay
    // ~flat: the feed opens only the touched partitions' versions, the
    // sink's merge writes O(batch + matched positions).
    if (onlyOps.forall(_.exists("cdf_stream".startsWith))) {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("p", StringType),
        StructField("v", DoubleType)))
      for (f <- factors) {
        val pn = 8 * f
        val rows = Tables(spark, sfDir, "lineitem")
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id0"),
            col("l_extendedprice").as("v"))
          .crossJoin(spark.range(f).select(col("id").as("rep")))
          .select((col("id0") * f + col("rep")).as("id"),
            concat(lit("p"), pmod(col("id0") * f + col("rep"), lit(pn))).as("p"),
            col("v"))
        val base = java.nio.file.Files.createTempDirectory("cdfstr").toString
        val src = s"$base/src"; val dst = s"$base/dst"
        graft.sources.ManifestTable.commit(rows, src, Some(PartSpec.Identity("p")))
        val q = spark.readStream.format("graft").schema(schema)
          .option("key", "id").load(src)
          .writeStream.format("graft")
          .option("partitionBy", "p").option("mergeKey", "id").option("cdf", "true")
          .option("checkpointLocation", s"$base/ckpt").start(dst)
        try {
          val t0 = System.nanoTime(); q.processAllAvailable()
          val seedSec = (System.nanoTime() - t0) / 1e9
          // the change set lives entirely in partitions p0..p7 (fixed count,
          // ~fixed size at every f) — upserts + a delete leg with the
          // partition hint, one source commit
          val hotPred = pmod(col("id"), lit(pn)) < 8
          val batch = rows.filter(hotPred && col("id") % 599 === 0)
            .withColumn("v", col("v") * 2).localCheckpoint()
          val dels = rows.filter(hotPred && col("id") % 1013 === 0)
            .select("id", "p").localCheckpoint()
          val hotDirs = (0 until 8).map(i =>
            graft.sources.ManifestTable.partDirName("p", s"p$i"))
          graft.sources.ManifestTable.mergeDv(batch, src, schema, Seq("id"),
            Some(PartSpec.Identity("p")), Nil, Nil, Some(dels), Some(hotDirs))
          val t1 = System.nanoTime(); q.processAllAvailable()
          val incSec = (System.nanoTime() - t1) / 1e9
          println(f"""[stress] {"op":"cdf_stream","factor":$f,"seed_sec":$seedSec%.2f,"inc_sec":$incSec%.2f}""")
          org.apache.spark.sql.graft.Checkpoints.release(batch)
          org.apache.spark.sql.graft.Checkpoints.release(dels)
        } finally q.stop()
      }
    }
    // r14: DISK-RESIDENT ANN INDEX curve — the q180 composition at growth.
    // The cell-clustered code relation grows with the corpus (files scale
    // with factor), but a fixed query batch's probed-cell IN-list keeps
    // opening ~nprobe/|cells| of the index FILES (kept/total ~flat), so
    // search cost tracks the probed slice, never the table.
    if (onlyOps.forall(_.exists("ann_disk".startsWith))) {
      import graft.llm.ProductQuant
      import org.apache.spark.sql.types._
      for (f <- factors) {
        val e = embTimes(f).localCheckpoint()
        val frac = ProductQuant.trainFracFor(e, 4096)
        val sample = ProductQuant.sampleFor(e, frac, "vec_id")
        // production cell count (√N posture): 32 cells, so a 4-query ×
        // nprobe=2 batch provably touches ≤ 1/4 of the cells
        val coarse = ProductQuant.trainCodebooks(e, 1, 64, 32, 2, 32, "vec_id",
          frac, sample)
        val cb = ProductQuant.trainCodebooks(e, 8, 8, 32, 2, 16, "vec_id",
          frac, sample)
        ProductQuant.releaseSample(sample)
        val codes = ProductQuant.encodeBatch(e, coarse, cb, 8, 8, "vec_id")
        val root = java.nio.file.Files.createTempDirectory(s"anndisk$f")
          .toString + "/t"
        val t0 = System.nanoTime()
        graft.sources.ManifestTable.commit(
          codes.select(col("vec_id"), col("sub"), col("code"), col("cell"))
            .repartitionByRange(32 * f, col("cell"), col("vec_id")),
          root, None, statsCols = Seq("cell"), bloomCols = Seq("cell"))
        val buildSec = (System.nanoTime() - t0) / 1e9
        // 4 DISTINCT original vectors as the query batch at every factor
        val q = e.filter(col("vec_id") % f === 0 && col("vec_id") < 4 * f)
          .select((col("vec_id") / f).cast("long").as("query_id"), col("embedding"))
        val probed = ProductQuant.coarseProbes(q, coarse, 64, 2, "query_id")
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq
        val idxSchema = StructType(Seq(
          StructField("vec_id", LongType), StructField("sub", IntegerType),
          StructField("code", LongType), StructField("cell", LongType)))
        val pred = col("cell").isin(probed: _*)
        val (rg, pt, ay) = graft.sources.ManifestTable.extractHintsFor(
          spark, idxSchema, pred)
        val (kept, total) = graft.sources.ManifestTable.pruneCounts(
          spark, root, rg, pt, ay)
        val t1 = System.nanoTime()
        val n = ProductQuant.ivfPqSearch(q,
          graft.sources.ManifestTable.readAuto(spark, root, idxSchema, pred),
          coarse, cb, 5, 8, 8, nprobe = 2).count()
        val searchSec = (System.nanoTime() - t1) / 1e9
        org.apache.spark.sql.graft.Checkpoints.release(e)
        println(f"""[stress] {"op":"ann_disk","factor":$f,"files_kept":$kept,"files_total":$total,"build_sec":$buildSec%.2f,"search_sec":$searchSec%.2f,"rows":$n}""")
      }
    }
    // r13 (VERDICT r12 #7): PRODUCTION-ks recall. The 0.30-0.43 PQ recalls
    // above are a toy-ks=16 artifact — 2^4 codes per subspace cannot
    // separate 32k perturbation-densified neighbors. ks=256 (the
    // Jégou/FAISS byte-code default) at 16x MEASURES the production
    // codebook's recovery instead of arguing it; seed needs
    // stride·ks = 8192 <= 16x corpus (32k), so the default stride holds.
    if (onlyOps.forall(_.exists("ann_recall256".startsWith))) {
      val f = 16
      val base = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
      val e = base.crossJoin(spark.range(f).select(col("id").as("rep")))
        .select((col("vec_id") * f + col("rep")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + pmod(col("rep") * 7 + i, lit(13)).cast("float") * lit(0.01f))
            .as("embedding")).localCheckpoint()
      val qs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      import graft.llm._
      SimSearch.annRecall(qs, e, 5, Seq(
        "pq_ks256" -> ProductQuant.pqTopK(qs, e, 5, ks = 256, trainSample = 4096),
        "ivfpq_res_ks256" -> ProductQuant.ivfPqResidualTopK(qs, e, 5,
          ks = 256, trainSample = 4096)))
        .groupBy("method").agg(avg(col("recall")).as("recall"))
        .collect().sortBy(_.getString(0))
        .foreach { r =>
          println(f"""[stress] {"op":"ann_recall_${r.getString(0)}","factor":$f,"recall":${r.getDouble(1)}%.3f}""")
        }
      org.apache.spark.sql.graft.Checkpoints.release(e)
    }
    // r14: SQL MERGE write-amplification curve — the GraftCatalog row-level
    // DML path measured end-to-end through spark.sql. A FIXED ~500-row
    // MERGE INTO lands in a catalog table at 1x/4x/16x: wall time may grow
    // with the corpus (the rewrite's target scan is one honest pass — a
    // DML scan reads its whole pinned snapshot), but bytes written must
    // stay ~flat (delta files + DV positions only — never a partition
    // rewrite). Catalog name is per-factor: Spark caches catalog instances
    // by name, so a reused name would pin the first factor's warehouse.
    if (onlyOps.forall(_.exists("sql_merge".startsWith))) {
      def dirBytes(d: java.io.File): Long =
        if (!d.exists) 0L
        else d.listFiles.map(x =>
          if (x.isDirectory) dirBytes(x) else x.length).sum
      for (f <- factors) {
        val rows = Tables(spark, sfDir, "lineitem")
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id0"),
            col("l_extendedprice").as("v"))
          .crossJoin(spark.range(f).select(col("id").as("rep")))
          .select((col("id0") * f + col("rep")).as("id"),
            concat(lit("p"), pmod(col("id0") * f + col("rep"), lit(8))).as("p"),
            col("v"))
        val cat = s"gsm$f"
        val wh = java.nio.file.Files.createTempDirectory(s"sqlmerge$f").toString
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, p STRING, v DOUBLE) " +
          "PARTITIONED BY (p)")
        rows.createOrReplaceTempView("sm_rows")
        spark.sql(s"INSERT INTO $cat.db.t SELECT id, p, v FROM sm_rows")
        // lineitem repeats (l_orderkey, l_linenumber): dedupe the SOURCE —
        // Spark's MergeRows validator rightly aborts when several source
        // rows hit one target row (MERGE_CARDINALITY_VIOLATION). The
        // modulus scales with f so the batch stays FIXED-size (~125 rows)
        // while the corpus grows — flat kb_written is then the claim.
        rows.filter(col("id") % lit(4801L * f) === 0).withColumn("v", col("v") * 2)
          .dropDuplicates("id").localCheckpoint().createOrReplaceTempView("sm_batch")
        val t0 = System.nanoTime()
        spark.sql(s"""MERGE INTO $cat.db.t t USING sm_batch s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET v = s.v
          WHEN NOT MATCHED THEN INSERT *""")
        val sec = (System.nanoTime() - t0) / 1e9
        val root = s"$wh/db/t"
        val written = dirBytes(new java.io.File(s"$root/v00000002")) +
          dirBytes(new java.io.File(s"$root/d00000002"))
        println(f"""[stress] {"op":"sql_merge","factor":$f,"sec":$sec%.2f,"kb_written":${written / 1e3}%.1f}""")
      }
    }
    // r17 (VERDICT r16 #8): DECONTAM TRACE at production n — q191 is
    // fixture-driven at n=4 (short docs need collisions to exist at
    // sf0.01); this leg runs the trace at the n≈8-real-words operating
    // point over the 16x corpus and proves the OUTPUT stays pair-bounded
    // (≤ flagged_docs × k rows) when the flag rate is overlap-driven, not
    // phrase-frequency-driven. Replicas use the per-replica salt
    // (docsTimes): cross-replica grams never collide (honest growth — a
    // bigger corpus is new documents, not denser overlap), and the salt
    // interleaves one token per word, so the real-word window n doubles
    // with salting: f=1 raw text runs n=8, f=16 salted runs n=16 — both
    // compare 8 consecutive REAL words.
    if (onlyOps.forall(_.exists("decontam_trace".startsWith))) {
      for ((f, n) <- Seq((1, 8), (16, 16))) {
        val docs = docsTimes(f).localCheckpoint()
        val bench = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
        val train = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
        val t0 = System.nanoTime()
        val tr = graft.llm.Decontam.gramTrace(train, bench, "doc_id", "text",
          n = n, k = 3).localCheckpoint()
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = tr.count()
        val flagged = tr.select("doc_id").distinct().count()
        println(f"""[stress] {"op":"decontam_trace","factor":$f,"n":$n,"sec":$sec%.2f,"rows":$rows,"flagged_docs":$flagged,"pair_bound":${flagged * 3}}""")
        org.apache.spark.sql.graft.Checkpoints.release(tr)
        org.apache.spark.sql.graft.Checkpoints.release(docs)
      }
    }
    // r17 (VERDICT r16 #1): COMMIT-PATH microbench — the commit-heavy query
    // family (q153/q171/q173) idled at 1.25-1.56x its r14 budgets after the
    // r15/r16 staged-commit protocol landed, and bench data alone can't
    // separate protocol cost from box noise. Three probes pin it:
    //   commit_meta_raw    — N direct publishManifest calls (entries carried,
    //                        no data): the r14-shaped commit floor — one
    //                        prior-#ts resolve + manifest write + arbiter
    //                        rename per commit, ZERO Spark jobs.
    //   commit_meta_staged — N publishStaged calls with an empty stage dir
    //                        (the r15/r16 protocol): adds the claim marker
    //                        create/verify/delete + stage rename + rebase
    //                        machinery. staged − raw = the protocol's
    //                        per-commit metadata overhead, measured.
    //   commit_full        — the q173-shaped sequence (seed + 3 mergeDv +
    //                        1 deleteWhere + 1 compact) as sec/commit: the
    //                        end-to-end cost those queries actually pay,
    //                        dominated by Spark job scheduling — the
    //                        context that says whether the metadata
    //                        overhead is even visible.
    if (onlyOps.forall(o => o.exists("commit_meta".startsWith) ||
        o.exists("commit_full".startsWith))) {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("p", StringType),
        StructField("v", DoubleType)))
      val n = 50
      for (probe <- Seq("commit_meta_raw", "commit_meta_staged")
           if onlyOps.forall(_.exists("commit_meta".startsWith))) {
        val root = java.nio.file.Files.createTempDirectory(probe).toString + "/t"
        val seed = spark.range(1000).select(col("id"),
          concat(lit("p"), pmod(col("id"), lit(8))).as("p"),
          (col("id") * 0.5).as("v"))
        graft.sources.ManifestTable.commit(seed, root, Some(PartSpec.Identity("p")))
        // warm the FS/code path with 3 unmeasured commits
        for (_ <- 1 to 3) graft.sources.ManifestTable.metadataCommitProbe(
          spark, root, staged = probe.endsWith("staged"))
        val t0 = System.nanoTime()
        for (_ <- 1 to n) graft.sources.ManifestTable.metadataCommitProbe(
          spark, root, staged = probe.endsWith("staged"))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""[stress] {"op":"$probe","n":$n,"ms_per_commit":${sec * 1000 / n}%.2f}""")
      }
      for (f <- factors
           if onlyOps.forall(_.exists("commit_full".startsWith))) {
        val rows = Tables(spark, sfDir, "lineitem")
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id0"),
            col("l_extendedprice").as("v"))
          .crossJoin(spark.range(f).select(col("id").as("rep")))
          .select((col("id0") * f + col("rep")).as("id"),
            concat(lit("p"), pmod(col("id0") * f + col("rep"), lit(8))).as("p"),
            col("v"))
        val root = java.nio.file.Files.createTempDirectory(s"cfull$f").toString + "/t"
        val t0 = System.nanoTime()
        graft.sources.ManifestTable.commit(rows, root, Some(PartSpec.Identity("p")))
        for (i <- 1 to 3) {
          val batch = rows.filter(col("id") % lit(4801L * f + i) === 0)
            .withColumn("v", col("v") * 2).dropDuplicates("id")
          graft.sources.ManifestTable.mergeDv(batch, root, schema, Seq("id"),
            Some(PartSpec.Identity("p")))
        }
        graft.sources.ManifestTable.deleteWhere(spark, root, schema,
          col("id") % 977 === 0)
        graft.sources.ManifestTable.compact(spark,
          graft.sources.ManifestTable.snapshot(spark, root), schema, Some(PartSpec.Identity("p")))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""[stress] {"op":"commit_full","factor":$f,"commits":6,"sec":$sec%.2f,"sec_per_commit":${sec / 6}%.3f}""")
      }
    }
    // r20 (VERDICT r19 #2): STORAGE-PARTITIONED JOIN curve — two graft
    // tables bucketed `bucket(32, k)`, fact–fact join on k at growing
    // scale, measured BOTH ways on fresh sessions: the ordinary shuffling
    // SortMergeJoin (control) vs the key-grouped SPJ scan
    // (spark.sql.sources.v2.bucketing.enabled). Reported shuffle bytes
    // come from task metrics: the control pays O(both sides) network every
    // run; SPJ pays ZERO join-side shuffle at every factor — at 100 TB
    // that recurring both-sides shuffle IS the reason to bucket.
    if (onlyOps.forall(_.exists("spj_join".startsWith))) {
      for (f <- factors) {
        val wh = java.nio.file.Files.createTempDirectory(s"spjst$f").toString
        val cat = s"gspjf$f"
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        val base = Tables(spark, sfDir, "lineitem")
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id0"),
            col("l_extendedprice").as("v"))
          .crossJoin(spark.range(f).select(col("id").as("rep")))
          .select((col("id0") * f + col("rep")).as("k"), col("v"))
        base.createOrReplaceTempView("spjst_a")
        base.select(col("k"), (col("v") * 0.5).as("w"))
          .filter(col("k") % 3 =!= 0).createOrReplaceTempView("spjst_b")
        spark.sql(s"""CREATE TABLE $cat.db.a (k BIGINT, v DOUBLE)
          PARTITIONED BY (bucket(32, k))""")
        spark.sql(s"""CREATE TABLE $cat.db.b (k BIGINT, w DOUBLE)
          PARTITIONED BY (bucket(32, k))""")
        spark.sql(s"INSERT INTO $cat.db.a SELECT * FROM spjst_a")
        spark.sql(s"INSERT INTO $cat.db.b SELECT * FROM spjst_b")
        val n = spark.table(s"$cat.db.a").count()
        for (mode <- Seq("shuffle", "spj")) {
          val s2 = spark.newSession()
          s2.conf.set(s"spark.sql.catalog.$cat",
            classOf[graft.sources.GraftCatalog].getName)
          s2.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
          s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s2.conf.set("spark.sql.sources.v2.bucketing.enabled",
            (mode == "spj").toString)
          val shuf = new java.util.concurrent.atomic.AtomicLong()
          val lsn = new org.apache.spark.scheduler.SparkListener {
            override def onTaskEnd(
                t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
              if (t.taskMetrics != null)
                shuf.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
          }
          spark.sparkContext.addSparkListener(lsn)
          try {
            val t0 = System.nanoTime()
            val out = s2.sql(s"""SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(v + w AS DECIMAL(18,6))) AS DOUBLE) AS s
              FROM $cat.db.a JOIN $cat.db.b ON a.k = b.k""").collect()
            val sec = (System.nanoTime() - t0) / 1e9
            Thread.sleep(800) // listener bus drain before reading the sum
            println(f"""[stress] {"op":"spj_join","mode":"$mode","factor":$f,"rows":$n,"joined":${out.head.getLong(0)},"sec":$sec%.2f,"shuffle_mb":${shuf.get() / 1e6}%.1f}""")
          } finally spark.sparkContext.removeSparkListener(lsn)
        }
      }
    }
    // r20 second pass: COMPOSITE-LAYOUT SPJ curve — two `(days(ts),
    // bucket(16, k))` tables joined on the bucket key ALONE (join keys ⊂
    // partition keys, Spark's subset switches + pushPartValues padding the
    // day sets; ts carried through the join — the alias-aware-projection
    // constraint). Control = the ordinary shuffling SortMergeJoin. The
    // join fan-out is held at ~320 pairs/key so the curve isolates the
    // shuffle, not the join arithmetic.
    if (onlyOps.forall(_.exists("spj_composite".startsWith))) {
      val epoch = 1704067200000000L // 2024-01-01T00Z µs
      for (f <- factors) {
        val wh = java.nio.file.Files.createTempDirectory(s"spjc$f").toString
        val cat = s"gspjc$f"
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        val users = 5000L * f
        def rows(n: Long): org.apache.spark.sql.DataFrame =
          spark.range(n).select(
            pmod(col("id"), lit(users)).as("k"),
            timestamp_micros(lit(epoch) +
              pmod(col("id"), lit(30L)) * 86400000000L).as("ts"),
            (col("id") % 97 * 0.5).as("v"))
        rows(200000L * f).createOrReplaceTempView("spjc_a")
        rows(40000L * f).withColumnRenamed("v", "w")
          .createOrReplaceTempView("spjc_b")
        spark.sql(s"""CREATE TABLE $cat.db.a (k BIGINT, ts TIMESTAMP, v DOUBLE)
          PARTITIONED BY (days(ts), bucket(16, k))""")
        spark.sql(s"""CREATE TABLE $cat.db.b (k BIGINT, ts TIMESTAMP, w DOUBLE)
          PARTITIONED BY (days(ts), bucket(16, k))""")
        spark.sql(s"INSERT INTO $cat.db.a SELECT * FROM spjc_a")
        spark.sql(s"INSERT INTO $cat.db.b SELECT * FROM spjc_b")
        for (mode <- Seq("shuffle", "spj")) {
          val s2 = spark.newSession()
          s2.conf.set(s"spark.sql.catalog.$cat",
            classOf[graft.sources.GraftCatalog].getName)
          s2.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
          s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          Seq("spark.sql.sources.v2.bucketing.enabled",
            "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
            "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled")
            .foreach(k => s2.conf.set(k, (mode == "spj").toString))
          if (mode == "spj")
            s2.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
          val shuf = new java.util.concurrent.atomic.AtomicLong()
          val lsn = new org.apache.spark.scheduler.SparkListener {
            override def onTaskEnd(
                t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
              if (t.taskMetrics != null)
                shuf.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
          }
          spark.sparkContext.addSparkListener(lsn)
          try {
            val t0 = System.nanoTime()
            // max(ts) keeps the partition-source column alive to the join
            val out = s2.sql(s"""SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(v + w AS DECIMAL(18,6))) AS DOUBLE) AS s,
                max(a.ts) AS mta, max(b.ts) AS mtb
              FROM $cat.db.a a JOIN $cat.db.b b ON a.k = b.k""").collect()
            val sec = (System.nanoTime() - t0) / 1e9
            Thread.sleep(800) // listener bus drain before reading the sum
            println(f"""[stress] {"op":"spj_composite","mode":"$mode","factor":$f,"joined":${out.head.getLong(0)},"sec":$sec%.2f,"shuffle_mb":${shuf.get() / 1e6}%.1f}""")
          } finally spark.sparkContext.removeSparkListener(lsn)
        }
      }
    }
    // r20 (VERDICT r19 #4): REF/METADATA-LOG resolution at high commit
    // counts — a streaming sink committing every minute for days
    // accumulates O(commits) manifests and `_ref` markers, and every head
    // resolution lists the table root. Three numbers per factor:
    //   commit_ms       — staged metadata commit cost as the log grows
    //                     (each commit lists the root for maxManifestV +
    //                     ref resolution, so this is the O(log) tax);
    //   resolve_ms_before / after — head resolution (currentVersion +
    //                     refs) against the full log vs after ONE
    //                     vacuum(retainVersions=5), which folds superseded
    //                     ref markers (head = max survives) and trims
    //                     manifests — the metadata-checkpoint story: flat
    //                     resolution restored by routine retention, no
    //                     separate checkpoint file format needed.
    if (onlyOps.forall(_.exists("ref_resolution".startsWith))) {
      import graft.sources.ManifestTable
      for (f <- factors) {
        val n = 300 * f
        val root = java.nio.file.Files.createTempDirectory(s"refres$f")
          .toString + "/t"
        val seed = spark.range(100).select(col("id"),
          concat(lit("p"), pmod(col("id"), lit(4))).as("p"),
          (col("id") * 0.5).as("v"))
        ManifestTable.commit(seed, root, Some(PartSpec.Identity("p")))
        ManifestTable.createBranch(spark, root, "wip") // markers in play
        val tc0 = System.nanoTime()
        for (_ <- 1 to n)
          ManifestTable.metadataCommitProbe(spark, root, staged = true)
        val commitMs = (System.nanoTime() - tc0) / 1e6 / n
        def resolveMs(k: Int): Double = {
          val t0 = System.nanoTime()
          for (_ <- 1 to k) {
            ManifestTable.currentVersion(spark, root)
            ManifestTable.refs(spark, root)
          }
          (System.nanoTime() - t0) / 1e6 / k
        }
        val before = resolveMs(50)
        val tv0 = System.nanoTime()
        ManifestTable.vacuum(spark, root, retainVersions = 5)
        val vacSec = (System.nanoTime() - tv0) / 1e9
        val after = resolveMs(50)
        val rootEntries = new java.io.File(root).listFiles.length
        println(f"""[stress] {"op":"ref_resolution","factor":$f,"commits":$n,"commit_ms":$commitMs%.2f,"resolve_ms_before":$before%.2f,"resolve_ms_after":$after%.2f,"vacuum_sec":$vacSec%.2f,"root_entries_after":$rootEntries}""")
      }
    }
    // r16: HOT-PARTITION COMPACT curve — partition-scoped OPTIMIZE's
    // O(partition) claim measured. 8f partitions of ~constant size (the
    // 100 TB layout posture: growing corpus = more partitions, not bigger
    // ones); ONE partition fragments via 5 small appends. Whole-table
    // compact must write O(table) (grows ~16x across the sweep);
    // compactPartition must write O(partition) (~flat) while reading only
    // the fragmented partition's files.
    if (onlyOps.forall(_.exists("hot_compact".startsWith))) {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("p", StringType),
        StructField("v", DoubleType)))
      def dirBytes(d: java.io.File): Long =
        if (!d.exists) 0L
        else d.listFiles.map(x =>
          if (x.isDirectory) dirBytes(x) else x.length).sum
      for (f <- factors) {
        val pn = 8 * f
        val rows = Tables(spark, sfDir, "lineitem")
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id0"),
            col("l_extendedprice").as("v"))
          .crossJoin(spark.range(f).select(col("id").as("rep")))
          .select((col("id0") * f + col("rep")).as("id"),
            concat(lit("p"), pmod(col("id0") * f + col("rep"), lit(pn))).as("p"),
            col("v"))
        for (mode <- Seq("table", "partition")) {
          val root = java.nio.file.Files.createTempDirectory(s"hotc-$mode")
            .toString + "/t"
          graft.sources.ManifestTable.commit(rows, root, Some(PartSpec.Identity("p")))
          // fragment p0 with five fixed-size appends (the streaming-sink
          // accretion pattern)
          for (i <- 1 to 5)
            graft.sources.ManifestTable.append(
              spark.range(1000).select(
                (col("id") + lit(100000000L + i * 1000L)).as("id"),
                lit("p0").as("p"), (col("id") * 0.5).as("v")),
              root, Some(PartSpec.Identity("p")))
          val t0 = System.nanoTime()
          val snap = graft.sources.ManifestTable.snapshot(spark, root)
          if (mode == "table")
            graft.sources.ManifestTable.compact(spark, snap, schema, Some(PartSpec.Identity("p")))
          else
            graft.sources.ManifestTable.compactPartition(
              spark, snap, schema, PartSpec.Identity("p"), "p0")
          val sec = (System.nanoTime() - t0) / 1e9
          val v = graft.sources.ManifestTable.currentVersion(spark, root).get
          val written = dirBytes(new java.io.File(f"$root/v$v%08d"))
          println(f"""[stress] {"op":"hot_compact_$mode","factor":$f,"sec":$sec%.2f,"mb_written":${written / 1e6}%.1f}""")
        }
      }
    }
    // r17: FIELD-ID RENAME at scale — the metadata-only claim measured.
    // The SAME full-scan aggregate is timed over the same committed data
    // before the rename (by-name column resolution) and after it (by
    // parquet field id), plus the rename itself. Expectation: rename cost
    // FLAT across factors (one sidecar write, zero data I/O), read cost
    // UNCHANGED (id resolution happens inside the reader's schema
    // clipping, not as an operator) — where a rewrite-based rename would
    // grow 16x and a name-based engine would silently NULL the column.
    if (onlyOps.forall(_.exists("rename_scale".startsWith))) {
      for (f <- factors) {
        val wh = java.nio.file.Files.createTempDirectory(s"ren$f").toString
        val cat = s"grs$f" // fresh catalog name per warehouse (cached by name)
        spark.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v DOUBLE, p STRING) " +
          "PARTITIONED BY (p)")
        Tables(spark, sfDir, "lineitem")
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id0"),
            col("l_extendedprice").as("v"),
            concat(lit("p"), pmod(col("l_orderkey"), lit(8))).as("p"))
          .crossJoin(spark.range(f).select(col("id").as("rep")))
          .select((col("id0") * f + col("rep")).as("id"), col("v"), col("p"))
          .createOrReplaceTempView(s"ren_src_$f")
        spark.sql(s"INSERT INTO $cat.db.t SELECT id, v, p FROM ren_src_$f")
        def aggTime(vcol: String): Double = {
          val t0 = System.nanoTime()
          // sum() declines the metadata aggregate pushdown, so this is a
          // genuine full scan of every data file
          spark.sql(s"SELECT count(*) AS n, sum($vcol) AS s FROM $cat.db.t")
            .collect()
          (System.nanoTime() - t0) / 1e9
        }
        aggTime("v") // warm (plan + page cache)
        val pre = aggTime("v")
        val tr0 = System.nanoTime()
        spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN v TO val_renamed")
        val renameSec = (System.nanoTime() - tr0) / 1e9
        aggTime("val_renamed") // warm the by-id plan
        val post = aggTime("val_renamed")
        println(f"""[stress] {"op":"rename_scale","factor":$f,"pre_read_sec":$pre%.3f,"rename_sec":$renameSec%.4f,"post_read_sec":$post%.3f}""")
      }
    }

    // r18 (VERDICT r17 #2): ANN delete-maintenance LIFECYCLE — q194's
    // query-time mask is O(deleted keys) per query, so under churn every
    // query pays a growing changes-scan + broadcast anti-join. The
    // rebuild (survivor anti-join rewrite + #basedOn re-stamp, the
    // rebuild_index procedure body) is paid ONCE; afterwards the mask
    // reads empty. masked_sec vs post_sec at growing corpus scale is the
    // flat-after-rebuild claim, rebuild_sec its amortized price.
    if (onlyOps.forall(_.exists("ann_rebuild".startsWith))) {
      import graft.llm.SimSearch
      import graft.sources.ManifestTable
      for (f <- factors) {
        val base = java.nio.file.Files.createTempDirectory(s"annrb$f").toString
        val corpusRoot = s"$base/corpus"; val idxRoot = s"$base/index"
        val emb = embTimes(f).localCheckpoint()
        val embSchema = emb.schema
        ManifestTable.commit(emb, corpusRoot, None)
        // stride scales WITH the factor so the CELL COUNT stays constant:
        // this leg measures the rebuild lifecycle, and letting centroids
        // grow as n/64 made assignment O(n * n/64) — the 64x sweep ran the
        // 1x leg's work 4096x (a fixture artifact, not a rebuild property;
        // the coprime-stride lesson's sibling)
        val cents = SimSearch.trainCentroids(emb, centroidStride = 64 * f, iters = 2)
        val builtAt = ManifestTable.currentVersion(spark, corpusRoot).get
        ManifestTable.withBasedOn(builtAt) {
          ManifestTable.commit(
            emb.join(SimSearch.assignCells(emb, cents), Seq("vec_id"))
              .select(col("vec_id"), col("cell"), col("embedding"))
              .repartitionByRange(8, col("cell"), col("vec_id")),
            idxRoot, None, statsCols = Seq("cell"), bloomCols = Seq("cell"))
        }
        // churn: ~30% of the corpus deleted since the index was built
        ManifestTable.deleteWhere(spark, corpusRoot, embSchema,
          pmod(col("vec_id"), lit(10)) < 3)
        val idxSchema = org.apache.spark.sql.types.StructType(Seq(
          embSchema("vec_id"),
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.LongType),
          embSchema("embedding")))
        val q = emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("query_id"), col("embedding"))
        def maskedQuery(): DataFrame = {
          val dead = ManifestTable.deletedKeysSince(spark, corpusRoot,
            embSchema, Seq("vec_id"), builtAt)
          SimSearch.ivfTopKStored(q,
            ManifestTable.read(spark, idxRoot, idxSchema)
              .join(broadcast(dead), Seq("vec_id"), "left_anti"),
            cents, 5, nprobe = 2)
        }
        def plainQuery(): DataFrame = SimSearch.ivfTopKStored(q,
          ManifestTable.read(spark, idxRoot, idxSchema), cents, 5, nprobe = 2)
        def secs(df: => DataFrame): Double = {
          df.write.format("noop").mode("overwrite").save() // warm
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
          (System.nanoTime() - t0) / 1e9
        }
        val maskedSec = secs(maskedQuery())
        val tr0 = System.nanoTime()
        val dead = ManifestTable.deletedKeysSince(spark, corpusRoot,
          embSchema, Seq("vec_id"), builtAt)
        ManifestTable.withBasedOn(
          ManifestTable.currentVersion(spark, corpusRoot).get) {
          ManifestTable.commit(
            ManifestTable.read(spark, idxRoot, idxSchema)
              .join(broadcast(dead), Seq("vec_id"), "left_anti")
              .repartitionByRange(8, col("cell"), col("vec_id")),
            idxRoot, None, carryForward = false,
            statsCols = Seq("cell"), bloomCols = Seq("cell"))
        }
        val rebuildSec = (System.nanoTime() - tr0) / 1e9
        val postSec = secs(plainQuery())
        println(f"""[stress] {"op":"ann_rebuild","factor":$f,"masked_sec":$maskedSec%.3f,"rebuild_sec":$rebuildSec%.3f,"post_sec":$postSec%.3f}""")
      }
    }

    // r18 (VERDICT r17 #8): WIDE-SCHEMA commit/read curve — the field-id
    // seam attaches per-field metadata on every write and parses the
    // sidecar id map on every read, so this measures whether that cost
    // stays per-COLUMN-flat as schemas widen 10 -> 100 -> 1000 columns
    // (cell count is held constant: rows shrink as columns grow, so any
    // superlinear growth is schema overhead, not data volume). alter_sec
    // times one RENAME at width (full sidecar rewrite + memo refresh).
    if (onlyOps.forall(_.exists("wide_schema".startsWith))) {
      for (w <- Seq(10, 100, 1000)) {
        val wh = java.nio.file.Files.createTempDirectory(s"wide$w").toString
        val cat = s"gws$w" // fresh catalog name per warehouse (cached by name)
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        val colDdl = (1 to w).map(i => s"c$i DOUBLE").mkString(", ")
        spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, $colDdl)")
        val rows = math.max(1000, 400000 / w)
        val src = spark.range(rows).select(
          (col("id") +: (1 to w).map(i =>
            pmod(col("id") * i, lit(97)).cast("double").as(s"c$i"))): _*)
        src.createOrReplaceTempView(s"wide_src_$w")
        val ti0 = System.nanoTime()
        spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM wide_src_$w")
        val insertSec = (System.nanoTime() - ti0) / 1e9
        def readSec(): Double = {
          val t0 = System.nanoTime()
          spark.sql(s"SELECT sum(c1) AS a, sum(c$w) AS b, count(*) AS n " +
            s"FROM $cat.db.t").collect()
          (System.nanoTime() - t0) / 1e9
        }
        readSec() // warm
        val rd = readSec()
        val ta0 = System.nanoTime()
        spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN c2 TO c2_renamed")
        val alterSec = (System.nanoTime() - ta0) / 1e9
        println(f"""[stress] {"op":"wide_schema","cols":$w,"rows":$rows,"insert_sec":$insertSec%.3f,"read_sec":$rd%.3f,"alter_sec":$alterSec%.4f}""")
      }
    }
    // SCAN-STATISTICS JOIN BENEFIT (r18): what the post-pruning size
    // estimate unlocks — a fact table joined to a partition-pruned slice
    // of a catalog dimension. The catalog scan's statistics let the pruned
    // slice report its real (small) bytes and auto-broadcast; the
    // control forces the no-stats outcome (sort-merge, via
    // autoBroadcastJoinThreshold=-1 — exactly what a Long.Max size
    // estimate produces at any threshold). The gap is the price every
    // star-schema query pays when the planner can't see scan sizes.
    if (onlyOps.forall(_.exists("scan_stats".startsWith))) {
      for (f <- factors) {
        val wh = java.nio.file.Files.createTempDirectory(s"sst$f").toString
        val cat = s"gss$f"
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        spark.sql(s"""CREATE TABLE $cat.db.dim (user_id BIGINT, event_type STRING)
          PARTITIONED BY (event_type)""")
        eventsTimes(f).createOrReplaceTempView(s"sst_src_$f")
        spark.sql(s"INSERT INTO $cat.db.dim SELECT DISTINCT user_id, event_type FROM sst_src_$f")
        val fact = eventsTimes(f).select(col("user_id"), col("ts"))
        fact.createOrReplaceTempView(s"sst_fact_$f")
        def join(): Double = {
          val t0 = System.nanoTime()
          spark.sql(s"""SELECT count(*) AS n FROM sst_fact_$f f
            JOIN $cat.db.dim d ON f.user_id = d.user_id
            WHERE d.event_type = 'click'""").collect()
          (System.nanoTime() - t0) / 1e9
        }
        join() // warm
        val bcast = join()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val smj = try { join(); join() } finally
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        println(f"""[stress] {"op":"scan_stats","factor":$f,"broadcast_sec":$bcast%.3f,"sortmerge_sec":$smj%.3f}""")
      }
    }

    // CHECK-CONSTRAINT OVERHEAD (r18): the q206 claim measured — a guarded
    // INSERT (two constraints fused into the write's own projection) vs an
    // unguarded one over the same growing batch. The assert_true filter
    // rides the staging job, so the delta should be expression-evaluation
    // noise at every factor, never a second scan.
    if (onlyOps.forall(_.exists("check_overhead".startsWith))) {
      for (f <- factors) {
        val wh = java.nio.file.Files.createTempDirectory(s"chk$f").toString
        val cat = s"gco$f"
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        spark.sql(s"CREATE TABLE $cat.db.plain (user_id BIGINT, ts TIMESTAMP, event_type STRING)")
        spark.sql(s"""CREATE TABLE $cat.db.guarded (user_id BIGINT, ts TIMESTAMP, event_type STRING)
          TBLPROPERTIES (
            'graft.check.uid_nonneg' = 'user_id >= 0',
            'graft.check.known_type' = "event_type IN ('click','view','purchase','signup','error')")""")
        eventsTimes(f).createOrReplaceTempView(s"chk_src_$f")
        def ins(t: String): Double = {
          val t0 = System.nanoTime()
          spark.sql(s"INSERT INTO $cat.db.$t SELECT user_id, ts, event_type FROM chk_src_$f")
          (System.nanoTime() - t0) / 1e9
        }
        val plain = ins("plain"); val guarded = ins("guarded")
        println(f"""[stress] {"op":"check_overhead","factor":$f,"plain_sec":$plain%.3f,"guarded_sec":$guarded%.3f}""")
      }
    }

    // HIDDEN-PARTITION PRUNE CURVE (r18): a days(ts)-partitioned catalog
    // table at 1x/4x/16x events; a one-day ranged aggregate through the
    // catalog (directory-pruned before any file listing) vs the SAME
    // aggregate forced through an unpruned full read. Both legs grow with
    // the corpus (the day itself grows), so the claim measured here is the
    // RATIO: pruned cost tracks the touched day's share (~1/30) at every
    // factor — at 100 TB that ratio, not either absolute number, is what
    // keeps a day-ranged scan O(day). evolve_sec times one
    // set_partitioning call (metadata-only: must stay flat in f).
    if (onlyOps.forall(_.exists("part_prune".startsWith))) {
      for (f <- factors) {
        val wh = java.nio.file.Files.createTempDirectory(s"ppr$f").toString
        val cat = s"gpp$f" // fresh catalog name per warehouse (cached by name)
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        spark.sql(s"""CREATE TABLE $cat.db.ev (
          user_id BIGINT, ts TIMESTAMP, event_type STRING)
          PARTITIONED BY (days(ts))""")
        eventsTimes(f).createOrReplaceTempView(s"ppr_src_$f")
        val ti0 = System.nanoTime()
        spark.sql(s"INSERT INTO $cat.db.ev SELECT user_id, ts, event_type FROM ppr_src_$f")
        val insertSec = (System.nanoTime() - ti0) / 1e9
        // 2024-01-15T00Z .. 2024-01-16T00Z (one day of ~30)
        val dayPred = "ts >= timestamp_micros(1705276800000000) " +
          "AND ts < timestamp_micros(1705363200000000)"
        def prunedSec(): Double = {
          val t0 = System.nanoTime()
          spark.sql(s"SELECT count(*) AS n, count(DISTINCT user_id) AS u " +
            s"FROM $cat.db.ev WHERE $dayPred").collect()
          (System.nanoTime() - t0) / 1e9
        }
        def fullSec(): Double = {
          val sch = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType)))
          val t0 = System.nanoTime()
          graft.sources.ManifestTable.read(spark, s"$wh/db/ev", sch)
            .filter(expr(dayPred))
            .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("u"))
            .collect()
          (System.nanoTime() - t0) / 1e9
        }
        prunedSec(); fullSec() // warm
        val pr = prunedSec(); val fl = fullSec()
        // the STRUCTURAL effect (what scales): directories the ranged scan
        // assembles vs the table's — wall-clock converges to launch
        // overhead at fixture scale, the dir ratio is the 100 TB claim
        val (dk, dt) = graft.sources.ManifestTable.prunePartitionCounts(
          spark, s"$wh/db/ev",
          Seq(graft.sources.ManifestTable.ColRange("ts",
            java.lang.Long.valueOf(1705276800000000L),
            java.lang.Long.valueOf(1705363199999999L))))
        val te0 = System.nanoTime()
        spark.sql(s"CALL $cat.system.set_partitioning('db.ev', 'bucket(16, user_id)')")
        val evolveSec = (System.nanoTime() - te0) / 1e9
        println(f"""[stress] {"op":"part_prune","factor":$f,"insert_sec":$insertSec%.3f,"pruned_sec":$pr%.3f,"full_sec":$fl%.3f,"dirs_kept":$dk,"dirs_total":$dt,"evolve_sec":$evolveSec%.4f}""")
      }
    }
    spark.stop()
  }
}
