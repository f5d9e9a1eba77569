package graft

import org.apache.spark.sql.functions._

import graft.llm.Dedup
import graft.sources.PartSpec

/** Randomized differential properties over many seeds: each distributed
  * algorithm vs an independent driver-side reference implementation. The
  * planted-fixture specs prove specific behaviors; these sweep the input
  * space for the cases nobody thought to plant.
  */
class PropertySpec extends SparkSuite {

  test("perRowBands emits byte-identical band keys to the batch bandRel") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = (1L to 60L).map { i =>
      val n = rnd.nextInt(12) // includes 0-token and shorter-than-shingle docs
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for ((k, bands) <- Seq((16, 4), (8, 2))) {
      val batch = Dedup.bandRel(
        Dedup.shingleRel(docs, "text", "doc_id", 3), k, bands)
        .as[(Long, String)].collect().toSet
      val perRow = Dedup.perRowBands(docs, "text", "doc_id", 3, k, bands)
        .as[(Long, String)].collect().toSet
      assert(perRow == batch, s"k=$k bands=$bands: ${(perRow -- batch).take(3)} vs ${(batch -- perRow).take(3)}")
    }
    spark.catalog.clearCache()
  }

  test("connected components match driver-side union-find on random graphs") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.04
      } yield (a.toLong, b.toLong)).toSeq
      // reference: plain union-find with path compression
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1 to n).map { i =>
        // component representative = min node id in the component
        val root = find(i)
        val minId = (1 to n).filter(j => find(j) == root).min
        i.toLong -> minId.toLong
      }.toMap
      val pairsDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        else edges.toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(pairsDf, (1L to n.toLong).toDF("doc_id"),
        "doc_id", maxIter = 30).as[(Long, Long)].collect().toMap
      assert(got == expected, s"seed $seed: $got vs $expected")
    }
  }

  test("swept simhash equals brute-force all-pairs over random hash sets") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(100 + seed)
      val hashes = (1L to 40L).map { i =>
        // mix of fully random hashes and low-hamming perturbations of others
        if (i <= 25 || rnd.nextBoolean()) (i, rnd.nextLong())
        else {
          val base = rnd.nextLong()
          val flips = (0 until rnd.nextInt(7)).map(_ => 1L << rnd.nextInt(64))
          (i, flips.foldLeft(base)(_ ^ _))
        }
      }
      // perturb some EXISTING entries so qualifying pairs actually occur
      val perturbed = hashes ++ hashes.take(8).map { case (i, h) =>
        (i + 100L, h ^ (1L << rnd.nextInt(64)) ^ (1L << rnd.nextInt(64)))
      }
      val df = perturbed.toDF("id", "sh")
      val brute = df.select(col("id").as("id_a"), col("sh").as("sh_a"))
        .crossJoin(df.select(col("id").as("id_b"), col("sh").as("sh_b")))
        .filter(col("id_a") < col("id_b"))
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
        .filter(col("hamming") <= 6)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
      val swept = Dedup.sweptPairsFromHashes(df, 7, 6)
        .as[(Long, Long, Int)].collect().toSet
      assert(swept == brute, s"seed $seed")
    }
  }

  test("prefix-filtered jaccard equals brute force on random corpora") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(200 + seed)
      val vocab = 30 + rnd.nextInt(40)
      val rows = (1L to 25L).map { i =>
        (i, (1 to 10 + rnd.nextInt(20)).map(_ => s"w${rnd.nextInt(vocab)}").mkString(" "))
      }
      val df = rows.toDF("doc_id", "text")
      val t = 0.3 + rnd.nextInt(4) * 0.1
      val brute = Dedup.bruteForceJaccardPairs(df, "text", "doc_id", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.jaccardPairsPrefix(df, "text", "doc_id", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == brute, s"seed $seed threshold $t")
    }
  }

  test("large-star/small-star components equal min-label propagation on random graphs") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(40 + seed)
      val n = 40
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.05
      } yield (a.toLong, b.toLong)).toSeq
      val pairsDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        else edges.toDF("id_a", "id_b")
      val nodes = (1L to n.toLong).toDF("doc_id")
      // min-label is the oracle twin (itself differentially tested against
      // union-find above)
      val minLabel = Dedup.connectedComponents(pairsDf, nodes, "doc_id", maxIter = 40)
        .as[(Long, Long)].collect().toMap
      val star = Dedup.connectedComponentsStar(pairsDf, nodes, "doc_id")
        .as[(Long, Long)].collect().toMap
      assert(star == minLabel, s"seed $seed")
    }
  }

  test("star components collapse a diameter-79 chain past min-label's default budget") {
    import spark.implicits._
    val pairs = (1L until 80L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (1L to 80L).toDF("doc_id")
    // per-hop propagation needs 79 rounds — the default budget fails loudly
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, nodes, "doc_id")
    }
    // the O(log diameter) variant converges well inside its default budget
    val star = Dedup.connectedComponentsStar(pairs, nodes, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(star.size == 80 && star.values.forall(_ == 1L))
  }

  test("star components handle duplicate edges, reversed edges, and self-loops") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)).toDF("id_a", "id_b")
    val nodes = (1L to 4L).toDF("doc_id")
    val star = Dedup.connectedComponentsStar(pairs, nodes, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(star == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("folded convergence check runs fewer jobs than the diff-join loop") {
    import spark.implicits._
    // the r03-shape loop: same propagate round, but convergence is a
    // SEPARATE diff-join count() job — kept here as the comparison twin for
    // the VERDICT r03 #6 assertion (folding halves the per-round job count)
    def diffJoinCC(pairs: org.apache.spark.sql.DataFrame,
                   nodes: org.apache.spark.sql.DataFrame): Unit = {
      val sym = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      var labels = nodes.select(col("doc_id").as("u"), col("doc_id").as("comp"))
        .localCheckpoint()
      var changed = 1L
      while (changed > 0) {
        val nbrMin = sym
          .join(labels.select(col("u").as("v"), col("comp").as("vcomp")), Seq("v"))
          .groupBy("u").agg(min(col("vcomp")).as("nmin"))
        val next = labels.join(nbrMin, Seq("u"), "left")
          .select(col("u"),
            least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
          .localCheckpoint()
        changed = next
          .join(labels.select(col("u"), col("comp").as("old")), Seq("u"))
          .filter(col("comp") =!= col("old")).count()
        labels = next
      }
    }
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (1L to 8L).toDF("doc_id")
    // warm-up outside the count: codegen/AQE first-run noise
    Dedup.connectedComponents(pairs, nodes, "doc_id").collect()
    val folded = jobsIn(Dedup.connectedComponents(pairs, nodes, "doc_id").collect())
    val unfolded = jobsIn(diffJoinCC(pairs, nodes))
    // measured 41 vs 75 on this input (the diff-join adds ~4 AQE jobs per
    // round). Per-round job counts are AQE-scheduling internals that shift
    // across Spark upgrades, so assert only the INVARIANT the folding
    // optimization guarantees — strictly fewer jobs — not a pinned ratio.
    assert(folded < unfolded, s"folded=$folded unfolded=$unfolded")
  }

  test("packing invariants hold across random workloads") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(300 + seed)
      val maxTokens = 512L + rnd.nextInt(2048)
      val docs = (1L to (100 + rnd.nextInt(300)).toLong)
        .map(i => (i, 1L + rnd.nextInt(3000))).toSeq
      val packs = graft.llm.Packing.packGreedy(
        docs.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens",
        maxTokens, partitions = 1 + rnd.nextInt(6)).collect()
      val packed = packs.flatMap(_.getSeq[Long](1))
      assert(packed.sorted.toSeq == docs.map(_._1), s"seed $seed: not exactly-once")
      val sizes = docs.toMap
      packs.foreach { p =>
        val ids = p.getSeq[Long](1)
        val tot = p.getLong(3)
        assert(tot == ids.map(sizes).sum, s"seed $seed: total mismatch")
        assert(tot <= maxTokens || ids.size == 1, s"seed $seed: over budget")
      }
    }
  }

  test("split leakage report matches a driver-side reference on random dup-heavy corpora") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def hash01(s: String): Double =
      java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16).toDouble / 4294967296.0
    def norm(t: String): String = t.trim.toLowerCase.replaceAll("\\s+", " ")
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(700 + seed)
      val vf = 0.1 + rnd.nextDouble() * 0.5
      val docs = (1L to (80 + rnd.nextInt(120)).toLong).map { i =>
        (i, s"  Body ${rnd.nextInt(30)} ${if (rnd.nextBoolean()) "X" else "x"} ")
      }
      val got = graft.llm.Split.leakageReport(docs.toDF("doc_id", "text"),
          "doc_id", "text", vf)
        .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      val fps = docs.map { case (id, t) => (id, md5hex(norm(t))) }
      def rep(side: ((Long, String)) => Boolean) = {
        val groups = fps.groupBy(_._2).values.map { g =>
          val (va, tr) = g.partition(side)
          (tr.size.toLong, va.size.toLong)
        }
        (groups.map(_._1).sum, groups.map(_._2).sum,
          groups.map(g => g._1 * g._2).sum)
      }
      val byId = rep { case (id, _) => hash01(id.toString) < vf }
      val byFp = rep { case (_, fp) => hash01(fp) < vf }
      assert((got("by_id")._2, got("by_id")._3, got("by_id")._4) == byId, s"seed $seed id")
      assert((got("by_fp")._2, got("by_fp")._3, got("by_fp")._4) == byFp, s"seed $seed fp")
      assert(got("by_fp")._4 == 0L, s"seed $seed: fp policy must be leak-free")
    }
  }

  test("naive bayes scores match a driver-side reference on random corpora") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def bucket(term: String, b: Int): Long =
      java.lang.Long.parseLong(md5hex(term).substring(0, 14), 16) % b
    def lnMicro(num: Double, den: Double): Long =
      math.floor(math.log(num / den) * 1e6 + 0.5).toLong
    val B = 32
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(900 + seed)
      val vocab = Vector("red", "blue", "green", "cat", "dog", "fox", "sun", "moon")
      val docs = (1L to (60 + rnd.nextInt(60)).toLong).map { i =>
        val n = 1 + rnd.nextInt(10)
        (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
          if (rnd.nextInt(3) == 0) 1 else 0)
      }
      val got = graft.llm.Classifier.naiveBayes(docs.toDF("doc_id", "text", "y"),
          "doc_id", "text", "y", buckets = B)
        .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
      // reference: exact integer replay
      val feats = docs.map { case (id, t, y) =>
        (id, y, t.split("\\s+").filter(_.nonEmpty)
          .groupBy(w => bucket(w, B)).map { case (b, ws) => b -> ws.length.toLong })
      }
      val c1 = new Array[Long](B); val c0 = new Array[Long](B)
      feats.foreach { case (_, y, m) =>
        m.foreach { case (b, x) => if (y == 1) c1(b.toInt) += x else c0(b.toInt) += x } }
      val (t1, t0) = (c1.sum, c0.sum)
      val llr = Array.tabulate(B)(b =>
        lnMicro(c1(b) + 1.0, t1 + B.toDouble) - lnMicro(c0(b) + 1.0, t0 + B.toDouble))
      val n1 = docs.count(_._3 == 1); val n0 = docs.size - n1
      val prior = lnMicro(n1.toDouble, docs.size.toDouble) -
        lnMicro(n0.toDouble, docs.size.toDouble)
      feats.foreach { case (id, y, m) =>
        val s = m.map { case (b, x) => x * llr(b.toInt) }.sum + prior
        val (gl, gs, gp) = (got(id)._2, got(id)._3, got(id)._4)
        assert(gl == y.toLong && gs == s.toDouble / 1e6 && gp == (s >= 0),
          s"seed $seed doc $id: ($gl,$gs,$gp) != ($y,${s / 1e6},${s >= 0})")
      }
    }
  }

  test("bottom-k quantiles match a driver-side reference on random duplicate-heavy multisets") {
    import spark.implicits._
    def md5hex13(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(0, 13), 16)
    }
    val probes = Seq(0.0, 0.3, 0.5, 0.8, 1.0)
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(500 + seed)
      // keys drawn from a SMALL range → heavy duplication, the adversarial
      // case for the per-copy disambiguation
      val data = (1 to 200 + rnd.nextInt(200)).map { _ =>
        val g = if (rnd.nextBoolean()) "a" else "b"
        (g, rnd.nextInt(40).toLong, rnd.nextDouble() * 1000)
      }
      val k = 8 + rnd.nextInt(48)
      val got = graft.llm.Sketches.bottomKQuantiles(
        data.toDF("g", "rk", "v"), "g", col("rk"), col("v"), k, probes)
        .as[(String, Long, Double, Double)].collect()
        .map(r => (r._1, r._3) -> (r._2, r._4)).toMap
      // reference: exact replay of the contract in plain Scala
      data.groupBy(_._1).foreach { case (g, rows) =>
        val vqs = rows.map(r => (r._2.toString, math.floor(r._3 * 1e6 + 0.5).toLong))
        val expanded = vqs.groupBy(identity).toSeq.flatMap { case ((key, vq), copies) =>
          copies.indices.map(i => (md5hex13(s"$key#$i"), vq))
        }
        // (hv, vq) order — the heap pins equal-hash ties (same key,
        // different values → same md5(key#i)) by the smaller value id
        val sample = expanded.sorted.take(k).map(_._2).sorted
        probes.foreach { p =>
          val idx = math.floor(p * (sample.size - 1) + 0.5).toInt
          val est = sample(idx).toDouble / 1e6
          val (n, gotEst) = got((g, p))
          assert(n == rows.size, s"seed $seed $g: n $n != ${rows.size}")
          assert(gotEst == est, s"seed $seed $g p=$p: $gotEst != $est")
        }
      }
    }
  }

  test("composite-key mergeDv equals a driver-side map replay on random dup-heavy op sequences") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.ManifestTable
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k1", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k2", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(4200 + seed)
      // tiny composite keyspace -> heavy k1 duplication (the lineitem trap);
      // the partition is a pure function of the key (immutability contract)
      def randKey() = (rnd.nextInt(6).toLong, rnd.nextInt(5).toLong)
      def partOf(k: (Long, Long)) = "p" + (k._1 % 3)
      var model = Map.empty[(Long, Long), Long]
      val root = java.nio.file.Files.createTempDirectory(s"mdvprop$seed").toString + "/t"
      val init = (1 to 20).map(_ => randKey()).distinct.map { k =>
        val v = rnd.nextLong() % 1000
        model += k -> v
        (k._1, k._2, partOf(k), v)
      }
      ManifestTable.commit(init.toDF("k1", "k2", "p", "v"), root, Some(PartSpec.Identity("p")))
      val v0 = ManifestTable.currentVersion(spark, root).get
      // the model state at every committed version
      var states = Map(v0 -> model)
      // rows ever written: nothing is compacted, so each is live or masked
      var written = init.size
      def counts(step: String): Unit = {
        assert(ManifestTable.rowCount(spark, root) == model.size, s"seed $seed $step rowCount")
        assert(ManifestTable.deletedRowCount(spark, root) == written - model.size,
          s"seed $seed $step deletedRowCount")
      }
      counts("commit")
      // `upParts`: the partitions the upsert leg appends to. A batch
      // confined to p0 whose deletes land elsewhere changes those
      // partitions through the DV alone, which changes() must still see
      def merge(hinted: Boolean, upParts: Set[String] = Set("p0", "p1", "p2")): Unit = {
        val ups = ((0L to 2L).map(k1 => (k1, rnd.nextInt(5).toLong)) ++
          (1 to 8).map(_ => randKey())).filter(k => upParts(partOf(k))).distinct.map { k =>
          (k, rnd.nextLong() % 1000)
        }
        val dels = (1 to 5).map(_ => randKey()).distinct
        // model replay of ONE merge commit: deletes and upsert supersessions
        // mask pre-merge copies; a key in both legs keeps the upsert
        model = (model -- dels -- ups.map(_._1)) ++ ups.map { case (k, v) => k -> v }
        // hinted: the delete leg names its partitions, so the position scan
        // is restricted; unhinted: the full-snapshot scan
        val v = ManifestTable.mergeDv(
          ups.map { case (k, v) => (k._1, k._2, partOf(k), v) }.toDF("k1", "k2", "p", "v"),
          root, schema, Seq("k1", "k2"), Some(PartSpec.Identity("p")), Nil, Nil,
          Some(dels.map(k => (k._1, k._2)).toDF("k1", "k2")),
          if (hinted) Some(dels.map(k => ManifestTable.partDirName("p", partOf(k))).distinct)
          else None)
        states += v -> model
        written += ups.size
        counts(s"merge $v")
      }
      merge(hinted = true)
      merge(hinted = true)
      // a deleteWhere commit moves the DV without appending anything
      model = model.filter { case (_, v) => v % 2 != 0 }
      states += ManifestTable.deleteWhere(spark, root, schema, col("v") % 2 === 0) -> model
      counts("deleteWhere")
      merge(hinted = true)
      merge(hinted = false)
      merge(hinted = true, upParts = Set("p0"))
      val got = ManifestTable.read(spark, root, schema)
        .as[(Long, Long, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._4).toMap
      assert(got == model, s"seed $seed final state")
      // the net change feed equals the model diff on every adjacent window,
      // on a window spanning merge commits around the deleteWhere, and
      // on the whole range
      val vs = states.keys.toSeq.sorted
      val windows = vs.zip(vs.tail) ++ Seq((vs(1), vs(4)), (vs.head, vs.last))
      windows.foreach { case (a, b) =>
        val ch = ManifestTable.changes(spark, root, schema, Seq("k1", "k2"), a, b)
          .select("_change_type", "k1", "k2")
          .as[(String, Long, Long)].collect()
        val (before, after) = (states(a), states(b))
        val expIns = after.keySet -- before.keySet
        val expDel = before.keySet -- after.keySet
        val expUpd = (after.keySet & before.keySet).filter(k => after(k) != before(k))
        val w = s"seed $seed window ($a, $b)"
        assert(ch.collect { case ("insert", x, y) => (x, y) }.toSet == expIns, s"$w ins")
        assert(ch.collect { case ("delete", x, y) => (x, y) }.toSet == expDel, s"$w del")
        assert(ch.collect { case ("update_postimage", x, y) => (x, y) }.toSet == expUpd, s"$w upd")
      }
    }
  }

  test("gramTrace equals brute-force window attribution on random dup-heavy corpora") {
    import spark.implicits._
    import graft.llm.Decontam
    val n = 3
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(300 + seed)
      // tiny vocab -> heavy cross-doc n-gram collisions by construction
      def doc(len: Int) = (1 to len).map(_ => s"w${rnd.nextInt(8)}").mkString(" ")
      val bench = (100L to 104L).map(i => (i, doc(4 + rnd.nextInt(8)))).toSeq
      val train = (1L to 20L).map(i => (i, doc(rnd.nextInt(12)))).toSeq
      def grams(text: String): Seq[Seq[String]] = {
        val w = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        if (w.size < n) Nil else w.sliding(n).toSeq
      }
      val benchSets = bench.map { case (id, txt) => id -> grams(txt).toSet }
      // brute force: per (train doc, bench doc) count of the train doc's
      // gram WINDOWS present in that bench doc's gram SET
      val expPairs = (for {
        (tid, txt) <- train; ws = grams(txt)
        (bid, bset) <- benchSets
        hits = ws.count(bset.contains) if hits > 0
      } yield (tid, bid) -> hits.toLong).toMap
      val trace = Decontam.gramTrace(train.toDF("doc_id", "text"),
          bench.toDF("doc_id", "text"), "doc_id", "text", n, k = 100)
        .as[(Long, Long, Long, Int)].collect()
      assert(trace.map(r => (r._1, r._2) -> r._3).toMap == expPairs, s"seed $seed pairs")
      // ranks are dense per doc, ordered by (hits desc, bench_id)
      trace.groupBy(_._1).foreach { case (tid, rows) =>
        val byRank = rows.sortBy(_._4)
        assert(byRank.map(_._4).toSeq == (1 to rows.length), s"seed $seed doc $tid ranks")
        val want = rows.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq
        assert(byRank.map(r => (r._2, r._3)).toSeq == want, s"seed $seed doc $tid order")
      }
      // the flagged-doc set reconciles with the gramHits audit, and each
      // doc's audit total is bounded by its per-pair attribution
      val hits = Decontam.gramHits(train.toDF("doc_id", "text"),
          bench.toDF("doc_id", "text"), "doc_id", "text", n)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
      assert(hits.keySet == trace.map(_._1).toSet, s"seed $seed flag sets")
      hits.foreach { case (tid, h) =>
        val pair = trace.filter(_._1 == tid).map(_._3)
        assert(h >= pair.max && h <= pair.sum, s"seed $seed doc $tid bounds")
      }
    }
  }

  test("mergeDv masks exactly the rows a left_semi join on its keys matches") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    import graft.sources.ManifestTable
    val dec = DecimalType(12, 2)
    def decs(xs: String*) = xs.map(x => if (x == null) null else new java.math.BigDecimal(x))
    // (name, table key types, batch key types, one value pool per key)
    val cases: Seq[(String, Seq[DataType], Seq[DataType], Seq[Seq[Any]])] = Seq(
      ("composite", Seq(LongType, StringType), Seq(LongType, StringType),
        Seq(Seq(1, 2, 3, null), Seq("a", "b", null))),
      ("int batch key, long table key", Seq(LongType), Seq(IntegerType), Seq((0 until 12) :+ null)),
      ("double", Seq(DoubleType), Seq(DoubleType),
        Seq(Seq(Double.NaN, -0.0, 0.0, 1.5, -1.5, null))),
      ("decimal and string", Seq(dec, StringType), Seq(dec, StringType),
        Seq(decs("1.10", "2.25", "-3.00", "0.00", null), Seq("x", "", "y", null))))
    def conv(x: Any, t: DataType): Any = (x, t) match {
      case (i: Int, LongType) => i.toLong
      case _ => x
    }
    for ((name, tTypes, bTypes, pools) <- cases; seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val keys = pools.indices.map(i => s"k$i")
      def pick(): Seq[Any] = pools.map(p => p(rnd.nextInt(p.size)))
      def schemaOf(types: Seq[DataType]) = StructType(keys.zip(types).map { case (k, t) =>
        StructField(k, t) } :+ StructField("v", StringType))
      def frame(schema: StructType, ks: Seq[Seq[Any]], tag: String) = spark.createDataFrame(
        ks.zipWithIndex.map { case (k, i) => Row.fromSeq(k.zip(schema.fields).map { case (x, f) =>
          conv(x, f.dataType) } :+ s"$tag$i") }.asJava, schema)
      val tSchema = schemaOf(tTypes)
      val root = java.nio.file.Files.createTempDirectory("keyprobe").toString + "/t"
      ManifestTable.commit(frame(tSchema, Seq.fill(40)(pick()), "old"), root, None)
      val batch = frame(schemaOf(bTypes), Seq.fill(6)(pick()).distinct, "new")
      val dels = frame(schemaOf(bTypes), Seq.fill(4)(pick()), "del").drop("v")
      // the reference: Spark's own join over the same keys
      val expected = ManifestTable.read(spark, root, tSchema)
        .join(batch.select(keys.map(col): _*).unionByName(dels), keys, "left_anti")
        .collect().map(_.toString).sorted.toSeq
      ManifestTable.mergeDv(batch, root, tSchema, keys, None, deleteKeys = Some(dels))
      val (old, landed) = ManifestTable.read(spark, root, tSchema).collect().toSeq
        .partition(_.getString(keys.size).startsWith("old"))
      assert(old.map(_.toString).sorted == expected, s"$name seed $seed")
      assert(landed.size == batch.count(), s"$name seed $seed")
    }
  }
}
