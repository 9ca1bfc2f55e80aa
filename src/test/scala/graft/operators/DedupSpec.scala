package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Dedup operator semantics that the DuckDB oracles can't pin down:
  * banding completeness for the SimHash scheme, connected-components
  * edge cases (empty input, chain-shaped clusters, reliable
  * checkpointing), and the multi-probe LSH recall gain.
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  // ---- SimHash combinatorial banding ----

  test("simHashBandKeys: complete for hamming <= 3 (every perturbed pair shares a table key)") {
    // 500 deterministic (sig, sig-with-<=3-flipped-bits) pairs: the
    // Manku pigeonhole guarantees at least one of the C(6,3)=20 block
    // combinations is untouched, i.e. band keys match at the SAME index.
    val rnd = new scala.util.Random(42)
    val pairs = Seq.tabulate(500) { _ =>
      val sig = rnd.nextLong() & ((1L << 61) - 1)
      val nFlips = 1 + rnd.nextInt(3)
      val flipped = (1 to nFlips).foldLeft(sig)((s, _) => s ^ (1L << rnd.nextInt(61)))
      (sig, flipped)
    }
    val df = pairs.toDF("sig_a", "sig_b")
      .select(
        Dedup.simHashBandKeys(col("sig_a"), 3).as("ka"),
        Dedup.simHashBandKeys(col("sig_b"), 3).as("kb"))
      .select(exists(zip_with(col("ka"), col("kb"), (x, y) => x === y),
        identity).as("collides"))
    assert(df.filter(!col("collides")).count() == 0)
  }

  test("simHashDup: band-join output equals brute-force hamming pairs on planted dups") {
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    // plant exact duplicates (hamming 0) of every 5th doc
    val docs = base.union(
      base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val banded = Dedup.simHashDup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sig = docs.select(col("doc_id").as("id"),
      graft.functions.TextFunctions.simHash(col("text")).as("sig"))
    val brute = sig.as("l").join(sig.as("r"), col("l.id") < col("r.id"))
      .select(col("l.id"), col("r.id"),
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).cast("long").as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty) // planted dups guarantee a non-vacuous check
    assert(banded == brute)
  }

  // ---- randomized equivalence: compacted operators vs pure-Scala brute force ----

  // Independent reimplementation of the hash math (no Spark expressions
  // involved): fold (acc*31 + cp) mod 1e9+7, the low-half fold, minhash
  // perms (h*(2i+1) + 7919i+13) mod P, ordered band folds, 61-bit
  // majority-vote simhash — the same definitions the DuckDB oracle
  // states in SQL, here in plain Scala as the property-test referee.
  private val P = 1000000007L
  private def phS(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
  private def ph2S(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 1000003L + c.toLong) % 2147483647L)
  private def shingleSetS(text: String, k: Int): Set[Long] = {
    val toks = text.split(" ", -1)
    if (toks.length < k) Set.empty
    else toks.sliding(k).map(w => phS(w.mkString(" "))).toSet
  }
  private def bandKeysS(text: String, k: Int, nh: Int, bands: Int): Option[Seq[Long]] = {
    val sh = shingleSetS(text, k)
    if (sh.isEmpty) None
    else {
      val sig = (0 until nh).map(i =>
        sh.map(h => (h * (2L * i + 1) + (7919L * i + 13)) % P).min)
      val rows = nh / bands
      Some((0 until bands).map(b =>
        sig.slice(b * rows, b * rows + rows).foldLeft(0L)((a, v) => (a * 31 + v) % P)))
    }
  }
  private def jacS(a: Set[Long], b: Set[Long]): Double = {
    val u = (a ++ b).size
    if (u == 0) 0.0 else (a & b).size.toDouble / u
  }
  private def simhashS(text: String): Long = {
    val hs = text.split(" ", -1).map(t => phS(t) * 2147483648L + ph2S(t))
    (0 until 61).foldLeft(0L) { (acc, j) =>
      if (2L * hs.count(h => ((h >> j) & 1L) == 1L) > hs.length) acc | (1L << j)
      else acc
    }
  }

  test("minHashLsh and simHashDup equal pure-Scala brute force on random corpora (compaction is invisible)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // vocab includes punctuation-bearing and empty tokens (an empty
    // token is what a double space produces under split-on-space) —
    // the tokenization edges where engines drift
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
      "a.b,c", "x-y!", "")
    val genDoc: Gen[String] = for {
      n <- Gen.choose(0, 10)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield toks.mkString(" ")
    // small vocab → organic near-dups; explicit verbatim copies → the
    // compaction path always exercised; an occasional null text → the
    // drop-before-hash path exercised
    val genCorpus: Gen[List[String]] = for {
      base <- Gen.choose(1, 20)
      docs <- Gen.listOfN(base, genDoc)
      nDup <- Gen.choose(0, base)
      dups <- Gen.listOfN(nDup, Gen.oneOf(docs))
      withNull <- Gen.oneOf(true, false)
    } yield docs ++ dups ++ (if (withNull) List(null: String) else Nil)
    val (k, nh, bands, thr, maxH) = (2, 8, 4, 0.3, 3)
    val prop = Prop.forAll(genCorpus) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val clean = texts.zipWithIndex.collect { case (t, i) if t != null => (i.toLong, t) }
      // minHashLsh: candidates share a band AT THE SAME INDEX, then
      // exact Jaccard ≥ threshold
      val bruteLsh = (for {
        (ia, ta) <- clean; (ib, tb) <- clean if ia < ib
        ka <- bandKeysS(ta, k, nh, bands); kb <- bandKeysS(tb, k, nh, bands)
        if ka.zip(kb).exists { case (x, y) => x == y }
        j = jacS(shingleSetS(ta, k), shingleSetS(tb, k)) if j >= thr
      } yield (ia, ib, j)).toSet
      val gotLsh = Dedup.minHashLsh(docs, "doc_id", "text", k, nh, bands, thr)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // simHashDup: banding is pigeonhole-complete, so output = ALL
      // pairs at hamming ≤ maxH
      val bruteSim = (for {
        (ia, ta) <- clean; (ib, tb) <- clean if ia < ib
        h = java.lang.Long.bitCount(simhashS(ta) ^ simhashS(tb)).toLong if h <= maxH
      } yield (ia, ib, h)).toSet
      val gotSim = Dedup.simHashDup(docs, "doc_id", "text", maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ok = gotLsh == bruteLsh && gotSim == bruteSim
      if (!ok) println(s"corpus=$texts\nlsh got=$gotLsh want=$bruteLsh\n" +
        s"sim got=$gotSim want=$bruteSim")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- prefix-filtered exact Jaccard ----

  test("prefixJaccardPairs equals pure-Scala brute force on random corpora (the filter is lossless)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
      "a.b,c", "x-y!", "")
    val genDoc: Gen[String] = for {
      n <- Gen.choose(0, 10)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield toks.mkString(" ")
    val genCorpus: Gen[(List[String], Double)] = for {
      base <- Gen.choose(1, 20)
      docs <- Gen.listOfN(base, genDoc)
      nDup <- Gen.choose(0, base)
      dups <- Gen.listOfN(nDup, Gen.oneOf(docs))
      thr <- Gen.oneOf(0.3, 0.5, 0.7, 1.0)
      withNull <- Gen.oneOf(true, false)
    } yield (docs ++ dups ++ (if (withNull) List(null: String) else Nil), thr)
    val k = 2
    val prop = Prop.forAll(genCorpus) { case (texts, thr) =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val clean = texts.zipWithIndex.collect { case (t, i) if t != null => (i.toLong, t) }
      val brute = (for {
        (ia, ta) <- clean; (ib, tb) <- clean if ia < ib
        j = jacS(shingleSetS(ta, k), shingleSetS(tb, k)) if j >= thr
      } yield (ia, ib, j)).toSet
      val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", k, thr)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val ok = got == brute
      if (!ok) println(s"corpus=$texts thr=$thr\ngot=$got want=$brute")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("prefixJaccardPairs: exact-boundary pair (J = 7/10 at t = 0.7) survives the size prune and verify") {
    // 1-shingles: A has 10 distinct tokens, B the first 7 — overlap 7,
    // union 10, J = 7/10 whose double equals the 0.7 literal exactly.
    // The size prune (least >= t*greatest - 1e-9: 7 >= 6.999...) and the
    // verify (J >= t at equality) must BOTH keep it — the seam where a
    // sloppier double prune would silently drop a mathematically-true
    // pair.
    val a = (1 to 10).map(i => s"tok$i").mkString(" ")
    val b = (1 to 7).map(i => s"tok$i").mkString(" ")
    val got = Dedup.prefixJaccardPairs(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text",
      n = 1, threshold = 0.7).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 2L)
    assert(got(0).getDouble(2) == 0.7)
  }

  test("prefixJaccardPairs: candidate-pair budget fails loudly before the verify starts") {
    // 40 identical docs: every prefix shingle lands in all 40 prefixes,
    // so the hottest bucket alone is 40*39/2 = 780 pairs > budget 100.
    val docs = (1L to 40L).map(i => (i, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.prefixJaccardPairs(docs, "doc_id", "text", n = 2,
        threshold = 0.7, maxCandidatePairs = 100L)
    }
    assert(e.getMessage.contains("candidate pairs"))
    // the same corpus passes under the default budget and emits all pairs
    assert(Dedup.prefixJaccardPairs(docs, "doc_id", "text", n = 2,
      threshold = 0.7).count() == 40L * 39 / 2)
  }

  test("prefixTokens plan: df aggregate partials map-side; rank window is per-doc, never global") {
    // The deliberate NON-reuse: the df branch's explode is column-pruned
    // to the bare token, so its partial_count collapses tokens per
    // partition and the aggregate exchange ships (t, count) — sharing
    // the join side's exchange would instead ship the FULL (t, id, sz)
    // token stream into the aggregate. A regression that loses the
    // partial (shipping raw tokens to count them) fails here.
    val docs = (1L to 50L).map(i => (i, s"a b c d$i e f")).toDF("doc_id", "text")
    val p = Dedup.prefixTokens(Dedup.prefixShingles(docs, "doc_id", "text", 3), 0.7)
      .queryExecution.executedPlan.toString
    val lines = p.linesIterator.toSeq
    val partialIdx = lines.indexWhere(_.contains("partial_count"))
    assert(partialIdx >= 0, p)
    // the partial sits BELOW (after, in printed order) its exchange
    assert(lines.take(partialIdx).exists(_.contains("Exchange hashpartitioning(t#")), p)
    // the prefix rank is a per-doc window (shuffle on id), not a global sort
    assert(p.contains("windowspecdefinition(id#"), p)
    assert(!p.contains("windowspecdefinition()"), p)
  }

  test("prefixJaccardPairs plan: join stages read materialized scans; corpus arrays exchanged once") {
    // Post-checkpoint shape: shingling ran exactly once (no Generate —
    // both the candidate join and the verify sides read the
    // materialized prefix/shingle scans), and the array-bearing corpus
    // table is exchanged ONCE with the second verify side reading it as
    // ReusedExchange.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (1L to 60L).map(i =>
        (i, if (i % 10 == 0) "a b c d e f g h" else s"a b c d$i e f g$i h"))
        .toDF("doc_id", "text")
      val p = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 0.7)
        .queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"), p)
      assert(!p.contains("Generate"), p)
      assert(p.linesIterator.count(_.contains("ReusedExchange")) >= 1, p)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  // ---- connected components ----

  /** Both [[Dedup.clusters]] paths: the driver pass at its production
    * bound, and the distributed loop forced through the edge-bound
    * seam. Every clusters test below runs on both. */
  private val clusterPaths = Seq(
    "driver" -> Dedup.DriverMaxEdges, "distributed" -> -1L)

  private def clustersOn(bound: Long, pairs: org.apache.spark.sql.DataFrame,
      reliable: Boolean = false, maxIters: Int = 50) =
    Dedup.clustersWithIters(pairs, "doc_a", "doc_b", reliable, maxIters, bound)

  /** Spark jobs started by `body` on this thread: a listener counts the
    * jobs tagged with a local property, and a tagged sentinel job after
    * the body proves every earlier job start has been delivered. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.test.jobs"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).orNull match {
          case "body" => n.incrementAndGet()
          case "sentinel" => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val v = try body finally sc.setLocalProperty(tag, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (v, n.get)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("clusters: empty pair input converges to an empty result (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(empty, "doc_a", "doc_b").count() == 0)
    for ((path, bound) <- clusterPaths) {
      val (labels, iters) = clustersOn(bound, empty)
      assert(labels.count() == 0 && iters == 1, path)
    }
  }

  test("clusters: chain-shaped cluster labels in depth-adaptive rounds, reliable checkpointing") {
    // path 1-2-3-4-5-6: diameter 5 — the worst case for min-label
    // propagation (near-dup clusters are usually star-shaped). The
    // 1-hop-seeded init (r21) banks hop 1; rounds 1-2 are 1-hop (hops
    // 2, 3 — the shallow common case never pays a wasted second hop);
    // the still-unconverged graph then switches to TWO hops per round
    // (r22): round 3 covers hops 4-5 (reaches the far end), round 4
    // observes the fixpoint — 4 rounds total. The driver pass reports
    // the same count.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString)
    val itersByPath = for ((path, bound) <- clusterPaths;
        reliable <- Seq(false, true)) yield {
      val (labels, iters) = clustersOn(bound, chain, reliable = reliable)
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == (1L to 6L).map((_, 1L)).toSet, s"$path reliable=$reliable")
      assert(iters == 4, s"$path reliable=$reliable: expected 2 + ceil((5-3)/2) + 1 = 4 rounds, got $iters")
      iters
    }
    assert(itersByPath.distinct.size == 1, itersByPath)
  }

  test("clusters: star-shaped (diameter <= 2) components keep the single-hop round counts") {
    // the COMMON near-dup shape: LSH emits all in-group pairs, so the
    // component is an all-pairs group the 1-hop-seeded init solves
    // outright — exactly ONE observing round, and it must be a 1-hop
    // round (the depth-adaptive switch only fires from round 3), so
    // shallow graphs never pay a wasted second edge-list join
    val star = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val itersByPath = for ((path, bound) <- clusterPaths) yield {
      val (labels, iters) = clustersOn(bound, star)
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)), path)
      assert(iters == 1, s"$path: expected the single observing round, got $iters")
      iters
    }
    assert(itersByPath.distinct.size == 1, itersByPath)
  }

  test("clusters equals pure-Scala union-find on random pair lists") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genPairs: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(2, 18)
      m <- Gen.choose(1, 25)
      pairs <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1) if a != b
      } yield (a, b))
    } yield pairs
    val prop = Prop.forAll(genPairs, Gen.oneOf(false, true)) { (pairList, intIds) =>
      // referee: path-compressed union-find, label = component min
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      pairList.foreach { case (a, b) => union(a, b) }
      val want = parent.keys.map(x => (x, find(x))).toSet
      val df =
        if (intIds) pairList.map { case (a, b) => (a.toInt, b.toInt) }.toDF("doc_a", "doc_b")
        else pairList.toDF("doc_a", "doc_b")
      val runs = clusterPaths.map { case (_, bound) => clustersOn(bound, df) }
      val got = runs.map { case (labels, _) => labels.collect().map(r =>
        (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet }
      val schemas = runs.map(_._1.schema)
      val ok = got.forall(_ == want) && schemas.distinct.size == 1 &&
        schemas.head.map(_.dataType.typeName).distinct ==
          Seq(if (intIds) "integer" else "long") &&
        runs.map(_._2).distinct.size == 1
      if (!ok) println(s"pairs=$pairList intIds=$intIds got=$got want=$want " +
        s"schemas=$schemas iters=${runs.map(_._2)}")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("clusters: adversarial 60-chain aborts at the default diameter-50 bound; explicit maxIters converges") {
    // The r11 scaladoc documents that the DEFAULT maxIters=50 bounds
    // component diameter at 50 — general-purpose long-path graphs must
    // opt in with an explicit budget. Pin both halves of that contract:
    // a 61-node path (diameter 60, needs 60 rounds) must abort under
    // the default with the documented message, and the SAME graph must
    // converge when the caller raises the budget. Both paths, with the
    // same message and round count.
    val chain = (1L to 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.clusters(chain, "doc_a", "doc_b").collect()
    }
    assert(e.getMessage.contains("50 edge-list hops"), e.getMessage)
    assert(e.getMessage.contains("raise maxIters"), e.getMessage)
    val byPath = for ((path, bound) <- clusterPaths) yield {
      val e = intercept[IllegalStateException](clustersOn(bound, chain))
      assert(e.getMessage.contains("50 edge-list hops"), s"$path: ${e.getMessage}")
      assert(e.getMessage.contains("raise maxIters"), s"$path: ${e.getMessage}")
      val (labels, iters) = clustersOn(bound, chain, maxIters = Int.MaxValue)
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == (1L to 61L).map((_, 1L)).toSet, path)
      assert(iters == 32, s"$path: expected 2 + ceil((60-3)/2) + 1 = 32 rounds, got $iters")
      (e.getMessage, iters)
    }
    assert(byPath.distinct.size == 1, byPath)
  }

  test("clusters: a graph deeper than maxIters aborts loudly instead of shuffling on") {
    // same chain, diameter 5 (needs 5 hops; the init banks hop 1 and
    // convergence still needs an observing round) — a 2-hop budget must
    // fail with the hop count, not return partially-propagated labels
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.clusters(chain, "doc_a", "doc_b", maxIters = 2).collect()
    }
    assert(e.getMessage.contains("2 edge-list hops"))
    val messages = for ((path, bound) <- clusterPaths) yield {
      val e = intercept[IllegalStateException](clustersOn(bound, chain, maxIters = 2))
      assert(e.getMessage.contains("2 edge-list hops"), path)
      e.getMessage
    }
    assert(messages.distinct.size == 1, messages)
  }

  test("clusters: 64-bit ids (negative, near Long.MaxValue) converge on both paths (exact label-sum check)") {
    // xxhash64-style ids: a Long Σ over these labels overflows (ANSI
    // mode throws ARITHMETIC_OVERFLOW); the DECIMAL(38,0) Σ does not
    val (max, min, x) = (Long.MaxValue, Long.MinValue, 4000000000000000000L)
    val pairs = Seq((max - 2, max - 1), (max - 1, max), (min, -5L), (-5L, 7L),
      (x, x + 1), (x + 1, x + 2)).toDF("doc_a", "doc_b")
    val want = Set((max - 2, max - 2), (max - 1, max - 2), (max, max - 2),
      (min, min), (-5L, min), (7L, min), (x, x), (x + 1, x), (x + 2, x))
    for ((path, bound) <- clusterPaths) {
      val (labels, iters) = clustersOn(bound, pairs)
      assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want, path)
      assert(iters == 2, s"$path: depth-2 components need one propagating round + one observing, got $iters")
    }
  }

  test("clusters: a small graph is solved in at most 3 Spark jobs, whatever its depth") {
    // the driver pass: stage + count (one job), collect (one job) — no
    // per-round checkpoint/Σ-collect barriers; a 30-chain would need
    // 17 distributed rounds
    val chain = (1L to 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ((labels, iters), jobs) = jobsOf(Dedup.clustersWithIters(chain, "doc_a", "doc_b"))
    assert(iters == 17)
    assert(jobs <= 3, s"clusters ran $jobs jobs on a 30-edge graph")
    assert(labels.collect().map(_.getLong(1)).toSet == Set(1L))
  }

  // ---- multi-probe LSH recall ----

  test("embeddingNearDupMultiProbe finds strictly more true near-dup pairs than single-probe") {
    // 300 deterministic (vector, noisy copy) pairs with cosine ~0.97:
    // noise flips each hyperplane with prob ~0.1, so single-probe LSH
    // keeps ~(1-q)^8 = 42% of pairs while 1-bit-flip multi-probe keeps
    // ~80% — on 300 pairs the gap cannot vanish.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val rows = (0 until 300).flatMap { i =>
      val v = vec()
      val noisy = v.map(x => x + (rnd.nextFloat() * 2f - 1f) * 0.25f)
      Seq((i.toLong, v), (i.toLong + 100000L, noisy))
    }
    val emb = rows.toDF("vec_id", "embedding")
    def planted(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("id_b") - col("id_a") === 100000L).count()
    val single = planted(Dedup.embeddingNearDup(
      emb, "vec_id", "embedding", nPlanes = 8, dim = 64, threshold = 0.9))
    val multi = planted(Dedup.embeddingNearDupMultiProbe(
      emb, "vec_id", "embedding", nPlanes = 8, dim = 64, threshold = 0.9))
    assert(multi > single,
      s"multi-probe recall ($multi) must beat single-probe ($single)")
    // and multi-probe is a superset: same verify threshold, more candidates
    assert(multi <= 300 && single <= 300)
  }

  // ---- corpus-derived k-means cells: bounded at 10x ----

  test("kmeansCentroids + suggestedCells keep cell volume bounded on a 10x corpus") {
    // 10x self-union of the sf0.01 embeddings with id offsets and a
    // copy-dependent single-dimension perturbation (pure scaling would
    // preserve direction and stack all copies into the same cells).
    // The claim under test is the dd9 scale fix: nCells grows linearly
    // with the corpus, so in-cell pair volume grows ~linearly — against
    // the FIXED cell count whose pair volume grows quadratically.
    val base = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding"))
    val big = (0 until 10).map { c =>
      base.select((col("vec_id") + c * 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + when(i === c % 64, lit(0.37f * c)).otherwise(lit(0.0f)))
            .cast("float")).as("embedding"))
    }.reduce(_ union _)
    def volume(df: org.apache.spark.sql.DataFrame, k: Int) =
      Dedup.semanticCellVolume(df, "vec_id", "embedding",
        Dedup.kmeansCentroids(df, "vec_id", "embedding", k))
    val n1 = base.count()
    val n10 = big.count()
    val k1 = Dedup.suggestedCells(n1, targetCellSize = 100L)
    val k10 = Dedup.suggestedCells(n10, targetCellSize = 100L)
    assert(n10 == 10 * n1)
    assert(k10 > 5 * k1, s"nCells must grow ~linearly: $k1 -> $k10")
    val derived = volume(big, k10)
    val fixed = volume(big, k1) // the old stub shape: cell count frozen
    // derived cells: hottest cell and total pair volume both far below
    // the frozen-cell-count plan on the same 10x corpus
    assert(derived.maxBlock < fixed.maxBlock,
      s"derived max cell ${derived.maxBlock} !< fixed ${fixed.maxBlock}")
    assert(derived.totalPairs * 2 < fixed.totalPairs,
      s"derived pairs ${derived.totalPairs} not <2x below fixed ${fixed.totalPairs}")
    // and the dedup itself runs under the default pair budget
    assert(Dedup.semanticDedup(big, "vec_id", "embedding",
      Dedup.kmeansCentroids(big, "vec_id", "embedding", k10)).count() >= 0L)
  }

  test("kmeansCentroids returns a materialized scan whose plan size does not grow with iters") {
    // The starved-cell left join references the previous centroid table
    // twice, so an unbroken lineage DOUBLES per iteration (ADVICE r10);
    // per-iteration localCheckpoint makes the returned plan a constant-
    // size scan of the final k-row RDD regardless of iteration count.
    val base = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    def planLen(iters: Int): Int =
      Dedup.kmeansCentroids(base, "vec_id", "embedding",
        nCells = 4, iters = iters)
        .queryExecution.analyzed.treeString.length
    val p1 = planLen(1)
    val p5 = planLen(5)
    // identical scan-shaped plans (RDD ids differ, lengths match); an
    // unbroken lineage would be ~2^4 bigger at iters=5
    assert(p5 <= p1 + 64, s"plan grew with iters: $p1 -> $p5")
  }

  test("splitOvergrownCells: nothing overgrown short-circuits to a pure projection (no joins, no exchange)") {
    // the common path with a well-sized nCells: the split must cost the
    // per-cell count and NOTHING else — the output keeps the composite
    // cell-id contract (parent·2^20, sub 0) bit-identically to the
    // general path's untouched branch, and the plan is join-free
    val assigned = (0 until 40).map(i => (i.toLong, (i % 4).toLong,
      Array.tabulate(64)(j => if (j == i % 8) 1.0f else 0.0f)))
      .toDF("id", "cell", "v")
    val out = Dedup.splitOvergrownCells(assigned,
      splitOver = 50L, target = 25L, iters = 1)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange"), p)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0 until 40).map(i =>
      (i.toLong, (i % 4).toLong * (1L << 20))).toSet)
  }

  test("splitOvergrownCells plan: corpus side joins broadcast-only; the one SortMergeJoin is the k-row Lloyd coalesce feeding a broadcast") {
    // the scale contract of the split: the corpus-side tables (the
    // materialized assignment scan and the residual-member scan) are
    // joined against the tiny overgrown/sub-centroid tables ONLY via
    // broadcast probes (no corpus SortMergeJoin, no cartesian). Since
    // r22 the LAST Lloyd round is fused into the final re-assignment
    // job instead of paying its own localCheckpoint boundary (its table
    // has exactly one consumer — semanticDedup materializes the split
    // OUTPUT, so the fused round still runs once), which puts the
    // round's machinery inside this plan: the single SortMergeJoin is
    // the (cell, sub)-keyed LEFT-OUTER coalesce between the kc-row
    // sub-centroid init and the kc-row recomputed means — both bounded
    // by the sub-centroid count, never the corpus — and its output
    // feeds a BroadcastExchange, which is the proof it is
    // centroid-side. Corpus-side rows enter exactly three
    // BroadcastHashJoins: the untouched anti-join and the two argmax
    // assignment probes (Lloyd round + final re-assignment).
    val hot = (0 until 200).map(i => (i.toLong, 7L,
      Array.tabulate(64)(j => if (j == i % 8) 1.0f else 0.1f * (i % 5))))
      .toDF("id", "cell", "v")
    val p = Dedup.splitOvergrownCells(hot, 50L, 25L, 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) == 1, p)
    // the SMJ's output is broadcast — centroid-side, not corpus-side
    val lines = p.linesIterator.toVector
    val smjIdx = lines.indexWhere(_.contains("SortMergeJoin"))
    val bcastAbove = lines.take(smjIdx).reverse
      .exists(_.contains("BroadcastExchange"))
    assert(bcastAbove, p)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 3, p)
    // both corpus-side inputs are materialized scans — the O(N·nCells)
    // assignment cannot be silently recomputed per consumer
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("assignCells plan: centroids broadcast into a partial-agg argmax — no cartesian, no corpus window sort") {
    // the O(N·nCells) assignment fragment feeding dd9/semanticDedup:
    // tiny centroid table broadcast against the corpus
    // (BroadcastNestedLoopJoin Cross over k rows, never
    // CartesianProduct), reduced by a map-side partial max_by — not a
    // row_number window sort over the nCells×N intermediate. Pinned
    // here because semanticDedup's final plan reads the materialized
    // split output, so the assignment shape no longer appears there.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val cents = Dedup.kmeansCentroids(emb, "vec_id", "embedding", 8)
    val ap = Dedup.assignCells(emb, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!ap.contains("CartesianProduct"), ap)
    assert(ap.contains("partial_max_by"), ap)
    assert(!ap.contains("windowspecdefinition(id"), ap)
  }

  test("splitOvergrownCells bounds the hottest cell, preserves membership, leaves small cells intact") {
    // one 500-member hot cell (vectors fanned over a half-circle in the
    // first two dims, so sub-clustering has real geometry to separate)
    // plus one 50-member cell that must pass through untouched
    def fan(i: Int, n: Int): Array[Float] = {
      val th = math.Pi * i / n
      Array.tabulate(64)(j =>
        if (j == 0) math.cos(th).toFloat
        else if (j == 1) math.sin(th).toFloat else 0f)
    }
    val hot = (0 until 500).map(i => (i.toLong, 7L, fan(i, 500)))
    val cold = (0 until 50).map(i => (1000L + i, 3L, fan(i, 50)))
    val assigned = (hot ++ cold).toDF("id", "cell", "v")
    def run() = Dedup.splitOvergrownCells(assigned,
        splitOver = 100L, target = 50L, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = run()
    // membership preserved exactly: same 550 ids, each once
    assert(out.map(_._1) == (hot ++ cold).map(_._1).toSet)
    assert(out.size == 550)
    // the small cell passes through as parent*2^20 + 0 for every member
    assert(out.filter(_._1 >= 1000L).map(_._2) == Set(3L * (1L << 20)))
    // the hot cell split into multiple subcells, every one strictly
    // smaller than the original and the hottest within ~3x of target
    val subSizes = out.toSeq.filter(_._1 < 1000L).groupBy(_._2)
      .map { case (_, ms) => ms.size }
    assert(subSizes.size > 1, s"hot cell was not split: $subSizes")
    assert(subSizes.max < 500, s"no subcell may keep the full cell: $subSizes")
    assert(subSizes.max <= 150, s"hottest subcell ${subSizes.max} > 3x target")
    // deterministic: a second run reproduces the assignment bit-exactly
    assert(run() == out)
  }

  test("semanticDedup splits overgrown cells before the pair-budget guard (skewed corpus passes)") {
    // 400 near-identical vectors (tiny angular jitter) all land in one
    // k-means cell: without the split, C(400,2) = 79,800 pairs trips a
    // 20k budget; the split must bound the cell and let the dedup run.
    val rows = (0 until 400).map { i =>
      val th = 0.001 * i
      (i.toLong, Array.tabulate(64)(j =>
        if (j == 0) math.cos(th).toFloat
        else if (j == 1) math.sin(th).toFloat else 0f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Dedup.kmeansCentroids(emb, "vec_id", "embedding", nCells = 2)
    // split disabled: guard trips (proves the corpus is genuinely skewed)
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(emb, "vec_id", "embedding", cents,
        maxPairsPerCell = 20000L, splitCellsOver = Long.MaxValue)
    }
    assert(e.getMessage.contains("pairs > budget"), e.getMessage)
    // split enabled (defaults scaled down): guard holds, dedup runs, and
    // the near-identical corpus still dedups heavily within subcells
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding", cents,
      maxPairsPerCell = 20000L, splitCellsOver = 150L, splitTarget = 100L)
    assert(out.count() > 300, "near-identical vectors must still dedup in-cell")
  }

  // ---- exact cross-document substring spans (dd13) ----

  test("exactSubstringSpans: hand pins — interior span, two disjoint spans, coverage-boundary merge") {
    // k = 3. Doc 1 shares its head [1..5] with doc 2 and its tail
    // [9..12] with doc 3 — windows at 1,2,3 then 9,10: the 3→9 gap
    // (> k) splits them into two maximal spans.
    val docs = Seq(
      (1L, "a b c d e x1 y1 z1 p q r s"),
      (2L, "a b c d e"),
      (3L, "zz p q r s"),
      // doc 4 repeats "m n o" WITHIN itself only — cross-doc
      // duplication must not mark it
      (4L, "m n o m n o"),
      // docs 5/6/7: doc 5's dup starts are 1,2 (cover 1-4) and 4,5
      // (cover 4-7) — start 4 is 2 apart from start 2 (≤ k), so
      // coverage is contiguous and ONE span [1..7] must come out
      (5L, "q w e r t y u"),
      (6L, "q w e r"),
      (7L, "r t y u"),
      (8L, null.asInstanceOf[String]),
      (9L, "a b")) // shorter than k: no windows
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, 1L, 5L, 5L), (1L, 9L, 12L, 4L),
      (2L, 1L, 5L, 5L),
      (3L, 2L, 5L, 4L),
      (5L, 1L, 7L, 7L),
      (6L, 1L, 4L, 4L),
      (7L, 1L, 4L, 4L)), got.toSeq.sorted.mkString("; "))
  }

  test("exactSubstringSpans equals pure-Scala brute force on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val vocab = Vector("a", "b", "c", "d", "ee", "f.g", "")
    val genDoc: Gen[String] = for {
      n <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield toks.mkString(" ")
    val genCorpus: Gen[(List[String], Int)] = for {
      base <- Gen.choose(1, 10)
      docs <- Gen.listOfN(base, genDoc)
      nDup <- Gen.choose(0, base) // planted shared content
      dups <- Gen.listOfN(nDup, Gen.oneOf(docs))
      k <- Gen.oneOf(2, 3)
      withNull <- Gen.oneOf(true, false)
    } yield (docs ++ dups ++ (if (withNull) List(null: String) else Nil), k)
    def bruteSpans(texts: Seq[(Long, String)], k: Int): Set[(Long, Long, Long, Long)] = {
      val kgrams = texts.collect { case (id, t) if t != null =>
        val toks = t.split(" ", -1)
        id -> (0 to toks.length - k).map(i =>
          (toks.slice(i, i + k).mkString(" "), i + 1L))
      }
      val owners = kgrams
        .flatMap { case (id, gs) => gs.map { case (g, _) => (g, id) } }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSet }
      kgrams.flatMap { case (id, gs) =>
        val starts = gs.collect {
          case (g, p) if (owners(g) - id).nonEmpty => p }.sorted
        starts.foldLeft(List.empty[(Long, Long)]) {
          case ((s, e) :: rest, p) if p <= e + 1 => (s, p + k - 1) :: rest
          case (acc, p) => (p, p + k - 1) :: acc
        }.map { case (s, e) => (id, s, e, e - s + 1) }
      }.toSet
    }
    val prop = Prop.forAll(genCorpus) { case (texts, k) =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.exactSubstringSpans(rows.toDF("doc_id", "text"),
          "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val want = bruteSpans(rows, k)
      val ok = got == want
      if (!ok) println(s"corpus=$texts k=$k\ngot=$got want=$want")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("exactSubstringSpans plan: one keyed window over 16-byte anchor keys — no exchange carries window text") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val p = Dedup.exactSubstringSpans(docs, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("Window"), p)
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.nonEmpty)
    assert(shuffles.forall(l => !l.contains("g#") && !l.contains("text#")), p)
  }

  test("removeSharedSubstrings drops exactly the flagged spans; keepFirst preserves the first owner's copy") {
    // k = 3: docs 1 and 2 share "a b c d e" (span [1..5] in both); doc 1
    // keeps its unshared tail, doc 3 is untouched (passes through
    // byte-identical)
    val docs = Seq(
      (1L, "a b c d e x1 y1 z1"),
      (2L, "a b c d e"),
      (3L, "completely separate words here"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val sym = Dedup.removeSharedSubstrings(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    assert(sym(1L) == (("x1 y1 z1", 5L)))
    assert(sym(2L) == (("", 5L))) // entire doc was shared content
    assert(sym(3L) == (("completely separate words here", 0L)))
    assert(sym(4L)._2 == 0L)
    // keepFirst: doc 1 (min id among sharers) keeps the span; doc 2
    // still loses it
    val kf = Dedup.removeSharedSubstrings(docs, "doc_id", "text", k = 3,
        keepFirst = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    assert(kf(1L) == (("a b c d e x1 y1 z1", 0L)))
    assert(kf(2L) == (("", 5L)))
    assert(kf(3L) == (("completely separate words here", 0L)))
  }

  test("removeSharedSubstrings keepFirst: protection overrides overlapping marks (no content lost corpus-wide)") {
    // the adversarial shape: doc 1 is the first owner of "a b c" but is
    // marked for tokens 1-3 by the overlapping "x a b" window (first
    // owner: doc 0). Protection must override the mark, or "a b c"
    // survives in NO document.
    val docs = Seq(
      (0L, "x a b z"),
      (1L, "x a b c"),
      (2L, "a b c d"))
      .toDF("doc_id", "text")
    val kf = Dedup.removeSharedSubstrings(docs, "doc_id", "text", k = 3,
        keepFirst = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    assert(kf(0L) == (("x a b z", 0L))) // first owner of "x a b"
    assert(kf(1L) == (("a b c", 1L)))   // loses only "x"; keeps its owned gram
    assert(kf(2L) == (("d", 3L)))       // plain sharer, loses "a b c"
  }

  test("removeSharedSubstrings keepFirst equals brute force; every shared k-gram survives in its first owner") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val vocab = Vector("a", "b", "c", "d", "ee")
    val genDoc: Gen[String] = for {
      n <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield toks.mkString(" ")
    val genCorpus: Gen[(List[String], Int)] = for {
      base <- Gen.choose(1, 8)
      docs <- Gen.listOfN(base, genDoc)
      nDup <- Gen.choose(0, base)
      dups <- Gen.listOfN(nDup, Gen.oneOf(docs))
      k <- Gen.oneOf(2, 3)
    } yield (docs ++ dups, k)
    // token removed iff covered by a MARKED dup window (first owner is
    // another doc) and not covered by a PROTECTED one (this doc is the
    // window's first owner) — the scaladoc's semantics, literally
    def brute(texts: Seq[(Long, String)], k: Int): Map[Long, (String, Long)] = {
      val kgrams = texts.map { case (id, t) =>
        val toks = t.split(" ", -1)
        id -> (0 to toks.length - k).map(i =>
          toks.slice(i, i + k).mkString(" "))
      }.toMap
      val owners = kgrams.toSeq
        .flatMap { case (id, gs) => gs.map(g => (g, id)) }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSet }
      texts.map { case (id, t) =>
        val toks = t.split(" ", -1)
        def winIdx(pred: Long => Boolean) =
          kgrams(id).zipWithIndex.collect {
            case (g, i) if (owners(g) - id).nonEmpty && pred(owners(g).min) =>
              (i until i + k) }.flatten.toSet
        val marked = winIdx(_ != id)
        val prot = winIdx(_ == id)
        val removed = marked -- prot
        val kept = toks.zipWithIndex.collect {
          case (tok, i) if !removed.contains(i) => tok }
        id -> ((kept.mkString(" "), removed.size.toLong))
      }.toMap
    }
    val prop = Prop.forAll(genCorpus) { case (texts, k) =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.removeSharedSubstrings(rows.toDF("doc_id", "text"),
          "doc_id", "text", k, keepFirst = true)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        .toMap
      val want = brute(rows, k)
      // the conservation guarantee itself: every cross-doc-shared k-gram
      // occurs verbatim in its first owner's clean text
      val kgrams = rows.map { case (id, t) =>
        id -> t.split(" ", -1).sliding(k).filter(_.length == k)
          .map(_.mkString(" ")).toSeq }.toMap
      val owners = kgrams.toSeq
        .flatMap { case (id, gs) => gs.map(g => (g, id)) }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSet }
      val conserved = owners.forall { case (g, os) =>
        os.size < 2 || got(os.min)._1.split(" ", -1).sliding(k)
          .exists(_.mkString(" ") == g) }
      val ok = got == want && conserved
      if (!ok) println(s"corpus=$texts k=$k conserved=$conserved\ngot=$got want=$want")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("removeSharedSubstrings equals pure-Scala brute force (symmetric mode)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val vocab = Vector("a", "b", "c", "d", "ee")
    val genDoc: Gen[String] = for {
      n <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield toks.mkString(" ")
    val genCorpus: Gen[(List[String], Int)] = for {
      base <- Gen.choose(1, 8)
      docs <- Gen.listOfN(base, genDoc)
      nDup <- Gen.choose(0, base)
      dups <- Gen.listOfN(nDup, Gen.oneOf(docs))
      k <- Gen.oneOf(2, 3)
    } yield (docs ++ dups, k)
    def brute(texts: Seq[(Long, String)], k: Int): Map[Long, (String, Long)] = {
      val kgrams = texts.map { case (id, t) =>
        val toks = t.split(" ", -1)
        id -> (0 to toks.length - k).map(i =>
          toks.slice(i, i + k).mkString(" "))
      }.toMap
      val owners = kgrams.toSeq
        .flatMap { case (id, gs) => gs.map(g => (g, id)) }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSet }
      texts.map { case (id, t) =>
        val toks = t.split(" ", -1)
        val covered = kgrams(id).zipWithIndex.collect {
          case (g, i) if (owners(g) - id).nonEmpty =>
            (i until i + k) }.flatten.toSet
        val kept = toks.zipWithIndex.collect {
          case (tok, i) if !covered.contains(i) => tok }
        id -> ((kept.mkString(" "), covered.size.toLong))
      }.toMap
    }
    val prop = Prop.forAll(genCorpus) { case (texts, k) =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.removeSharedSubstrings(rows.toDF("doc_id", "text"),
          "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        .toMap
      val want = brute(rows, k)
      val ok = got == want
      if (!ok) println(s"corpus=$texts k=$k\ngot=$got want=$want")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("exactSubstringSpans works with STRING doc ids (no integral-id requirement)") {
    // unlike clusters (which needs integral ids for the Σ-convergence
    // check), the span operator only needs an orderable id for the
    // min≠max cross-doc test — pin that contract
    val docs = Seq(
      ("doc/a", "p q r s t"),
      ("doc/b", "p q r s t"),
      ("doc/c", "totally different words here now"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstringSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("doc/a", 1L, 5L), ("doc/b", 1L, 5L)), got)
  }

  test("substringAnchorVolume measures the operator's anchor buckets") {
    // 3 docs, k=2: "a b c" twice (windows "a b","b c" ×2) + "a b" once
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b"))
      .toDF("doc_id", "text")
    val v = Dedup.substringAnchorVolume(docs, "doc_id", "text", k = 2)
    assert(v.nBlocks == 2L) // distinct 2-grams: "a b", "b c"
    assert(v.maxBlock == 3L) // "a b" occurs in all three docs
  }

  // ---- blocked pairwise n-gram Jaccard: the pair-budget guard ----

  test("ngramJaccardPairs: a hot block over the pair budget fails loudly before any shingling") {
    // one block of 100 rows = 4950 pairs; budget 1000 → guard trips
    val docs = (0 until 100).map(i => (i.toLong, "en", s"doc number $i text"))
      .toDF("doc_id", "lang", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq("lang"), maxPairsPerBlock = 1000L)
    }
    assert(e.getMessage.contains("4950 pairs > budget 1000"), e.getMessage)
    // same data under budget: runs fine and filters by threshold
    val ok = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockCols = Seq("lang"), threshold = 0.99, maxPairsPerBlock = 5000L)
    assert(ok.columns.toSeq == Seq("lang", "doc_a", "doc_b", "jaccard"))
    assert(ok.count() == 0) // distinct docs: nothing at jaccard >= 0.99
  }

  test("ngramJaccardPairs default (no blockCols) IS the prefix-filter scale path") {
    val rnd = new scala.util.Random(43)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta")
    val originals = Seq.tabulate(20) { i =>
      val base = Array.fill(10 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.length)))
      (i.toLong, base.mkString(" "))
    }
    // plant near-copies: drop the last token of every 4th doc
    val copies = originals.collect { case (id, t) if id % 4 == 0 =>
      (id + 100L, t.split(" ").dropRight(1).mkString(" "))
    }
    val docs = (originals ++ copies).toDF("doc_id", "text")
    val viaDefault = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 2, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPrefix = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        n = 2, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaDefault == viaPrefix)
    assert(viaDefault.nonEmpty, "seed must generate at least one near-dup pair")
    // the default still refuses a zero threshold (exhaustive listings
    // only exist within explicit blocks) and threads the pair budget
    // through to the prefix path's candidate guard
    val eThr = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text")
    }
    assert(eThr.getMessage.contains("pass blockCols"), eThr.getMessage)
    val eBudget = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2,
        threshold = 0.6, maxPairsPerBlock = 1L)
    }
    assert(eBudget.getMessage.contains("candidate pairs > budget 1"),
      eBudget.getMessage)
  }

  test("blockVolume counts blocks, hottest block, and exact total pairs") {
    val df = Seq.tabulate(10)(i => (i.toLong, if (i < 6) "a" else "b"))
      .toDF("id", "k")
    val v = Dedup.blockVolume(df, Seq("k"))
    assert(v == Dedup.BlockVolume(2L, 6L, 15L + 6L)) // C(6,2)+C(4,2)
    val empty = Dedup.blockVolume(df.filter(col("id") < 0), Seq("k"))
    assert(empty == Dedup.BlockVolume(0L, 0L, 0L))
  }

  // ---- the volume canaries count the operators' own buckets ----

  /** Near-dup corpus with the LSH input filter's edge rows: a null-id
    * doc whose (distinct) text shares MinHash bands with doc 1, a
    * null-text doc, a verbatim copy and a shingle-less doc. The media
    * column is the text's bytes; frames alternate between 0 and 1. */
  private lazy val canaryCorpus = {
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    Seq[(java.lang.Long, String)](
      (1L, base), (2L, base + " tail"), (3L, base.replace("w7 ", "v7 ")),
      (4L, base), (5L, "alpha beta gamma delta epsilon zeta eta theta"),
      (6L, "alpha beta"), (7L, null), (null, base.replace("w29", "v29")))
      .toDF("doc_id", "text")
      .withColumn("media", encode(col("text"), "UTF-8"))
      .withColumn("frame_no", coalesce(col("doc_id") % 2, lit(0L)).cast("int"))
  }

  test("band volume canaries equal blockVolume over the buckets their operators band (null ids and texts filtered)") {
    import graft.functions.TextFunctions.{aHash61, minHashBandKeys, simHash}
    val (k, nh, bands, maxH) = (3, 32, 8, 3)
    val docs = canaryCorpus
    val input = docs.filter(col("text").isNotNull && col("doc_id").isNotNull)
    // precondition: the null-id doc's text is distinct AND shares a band
    // with a doc the operator does band, so dropping it moves the count
    val keys = docs.select(col("doc_id"), col("text"),
      minHashBandKeys(col("text"), k, nh, bands).as("ks")).collect()
    val (nullId, banded) = keys.partition(_.isNullAt(0))
    assert(!banded.map(_.getString(1)).contains(nullId.head.getString(1)))
    assert(banded.exists(r => !r.isNullAt(2) && r.getSeq[Long](2)
      .zip(nullId.head.getSeq[Long](2)).exists { case (a, b) => a == b }))
    // MinHash: one row per (band, band key) of each distinct text
    val mh = input.select(col("text"),
        posexplode(minHashBandKeys(col("text"), k, nh, bands)).as(Seq("band", "band_key")))
      .distinct()
    val mhWant = Dedup.blockVolume(mh, Seq("band", "band_key"))
    assert(mhWant.totalPairs > 0, mhWant)
    assert(Dedup.minHashBandVolume(docs, "doc_id", "text", k, nh, bands) == mhWant)
    // Manku: one row per (table, key) of each distinct (group, signature)
    def manku(sig: org.apache.spark.sql.Column, groups: Seq[String]) = {
      val sigs = input.select(groups.map(col) :+ sig.as("sig"): _*).distinct()
      val rows = sigs.select(groups.map(col) :+
        posexplode(Dedup.simHashBandKeys(col("sig"), maxH)).as(Seq("tbl", "band_key")): _*)
      Dedup.blockVolume(rows, groups ++ Seq("tbl", "band_key"))
    }
    val shWant = manku(simHash(col("text")), Nil)
    assert(shWant.totalPairs > 0, shWant)
    assert(Dedup.simHashBandVolume(docs, "doc_id", "text", maxH) == shWant)
    assert(Dedup.perceptualBandVolume(docs, "doc_id", "media", maxH) ==
      manku(aHash61(col("media")), Nil))
    assert(Dedup.frameBandVolume(docs, "doc_id", "frame_no", "media", maxH) ==
      manku(aHash61(col("media")), Seq("frame_no")))
  }

  test("a band count that does not divide numHashes fails in every MinHash operator before any Spark job") {
    val docs = canaryCorpus.select(col("doc_id"), col("text"))
    val calls: Seq[(String, () => Any)] = Seq(
      "minHashLsh" -> (() => Dedup.minHashLsh(docs, "doc_id", "text",
        numHashes = 32, bands = 5)),
      "incrementalMinHash" -> (() => Dedup.incrementalMinHash(docs, docs,
        "doc_id", "text", numHashes = 32, bands = 5)),
      "minHashBandVolume" -> (() => Dedup.minHashBandVolume(docs, "doc_id",
        "text", 3, 32, 5)),
      "incrementalBandVolume" -> (() => Dedup.incrementalBandVolume(docs,
        docs, "doc_id", "text", numHashes = 32, bands = 5)),
      "ingestGate" -> (() => graft.streaming.StreamingRun.ingestGate(spark,
        docs, docs, "doc_id", "text", numHashes = 32, bands = 5)),
      "fuzzyLshOverlap" -> (() => Decontaminate.fuzzyLshOverlap(docs, docs,
        "doc_id", "text", numHashes = 32, bands = 5)))
    calls.foreach { case (name, call) =>
      val (e, jobs) = jobsOf(intercept[IllegalArgumentException](call()))
      assert(e.getMessage.contains("bands must divide numHashes"), s"$name: $e")
      assert(jobs == 0, s"$name started $jobs job(s) before its band check")
    }
  }

  // ---- passage-level exact dedup ----

  test("passageExactDedup reports duplicated 10-token passages with the min-doc keeper") {
    def toks(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val a = toks("a", 20) // 2 passages
    val b = toks("b", 20)
    val docs = Seq(
      (1L, a),                                  // a0..a9 | a10..a19
      (2L, a),                                  // exact copy of doc 1
      (3L, b),                                  // unique content
      (4L, toks("a", 10) + " " + toks("x", 5)), // shares a0..a9; trailing 5 dropped
      (5L, toks("y", 7)),                       // < 10 tokens: no passages
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.passageExactDedup(docs, "doc_id", "text", passageTokens = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // a0..a9 appears in docs 1, 2, 4 (keeper 1, 3 copies);
    // a10..a19 appears in docs 1, 2 (keeper 1, 2 copies)
    assert(out.sorted.toSeq == Seq((1L, 2L), (1L, 3L)), out.toSeq)
  }

  test("passageExactDedup keeps trailing-partial and short docs out of the passage space") {
    val docs = Seq(
      (1L, (0 until 15).map(i => s"t$i").mkString(" ")), // 1 passage, 5-token tail dropped
      (2L, (0 until 15).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Dedup.passageExactDedup(docs, "doc_id", "text", passageTokens = 10)
      .collect()
    // only the full first passage is duplicated; the tails never pair up
    assert(rows.length == 1 && rows(0).getLong(0) == 1L && rows(0).getLong(1) == 2L)
  }

  test("passageExactDedup with stride < passage catches misaligned repeated spans tiling misses") {
    // the same 14-token span s0..s13 at offset 0 in doc 1 and offset 5
    // in doc 2: the offsets are congruent mod 5 but not mod 10, so
    // tiling (stride 10) sees no shared tile while stride 5 must find
    // the shared window s0..s9 (doc 1 window offset 0, doc 2 offset 5)
    val span = (0 until 14).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, span + " " + (0 until 6).map(i => s"p$i").mkString(" ")),
      (2L, "q0 q1 q2 q3 q4 " + span + " q5"))
      .toDF("doc_id", "text")
    val tiled = Dedup.passageExactDedup(docs, "doc_id", "text", passageTokens = 10)
      .collect()
    assert(tiled.isEmpty, tiled.toSeq) // alignment hides the dup from tiling
    val strided = Dedup
      .passageExactDedup(docs, "doc_id", "text", passageTokens = 10, stride = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(strided.toSeq == Seq((1L, 2L)), strided.toSeq)
  }

  // ---- shingleNovelty ----

  test("shingleNovelty: fresh content 1.0, verbatim copy 0.0, remix in between, null/short 0") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"    // 6 shingles
    val b = "one two three four five six seven eight nine ten" // 8 shingles
    val docs = Seq(
      (1L, a),
      (2L, b),
      (3L, a), // verbatim copy of 1 (higher id): novelty 0
      // first 5 tokens of a (3 shingles, all owned by doc 1) + 5 fresh
      // tokens: shingles crossing the seam + the fresh tail are novel
      (4L, a.split(" ").take(5).mkString(" ") + " xx yy zz ww vv"),
      (5L, null.asInstanceOf[String]),
      (6L, "just two"))
      .toDF("doc_id", "text")
    val out = Dedup.shingleNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((6L, 6L, 1.0)))
    assert(out(2L) == ((8L, 8L, 1.0)))
    assert(out(3L) == ((6L, 0L, 0.0)))
    // doc 4: 8 shingles; 3 are a's prefix shingles (owned by doc 1),
    // the 5 crossing/fresh ones are first-seen here
    assert(out(4L) == ((8L, 5L, 5.0 / 8.0)))
    assert(out(5L) == ((0L, 0L, 0.0)))
    assert(out(6L) == ((0L, 0L, 0.0)))
  }

  test("shingleNovelty plan: exchanges carry the 8-byte shingle key / ids, never text or arrays; partials map-side") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val p = Dedup.shingleNovelty(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min"), p)
    assert(p.contains("partial_count"), p)
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(shuffles.forall(l => !l.contains("text#") && !l.contains("__sh#")), p)
  }

  test("selfDedupPassages: repeated passages drop, first occurrence and tail survive, clean text reconstructs") {
    def toks(prefix: String, a: Int, b: Int): String =
      (a until b).map(i => s"$prefix$i").mkString(" ")
    val a10 = toks("a", 0, 10)
    val b10 = toks("b", 0, 10)
    val docs = Seq(
      (1L, s"$a10 $b10 $a10 ${toks("t", 0, 3)}"), // a10 repeats; 3-token tail
      (2L, a10),                                  // single passage, nothing drops
      (3L, toks("y", 0, 7)),                      // < 10 tokens: all tail
      (4L, s"$a10 $a10 $a10"),                    // two drops of the same passage
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.selfDedupPassages(docs, "doc_id", "text", passageTokens = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((s"$a10 $b10 ${toks("t", 0, 3)}", 2L, 1L)))
    assert(out(2L) == ((a10, 1L, 0L)))
    assert(out(3L) == ((toks("y", 0, 7), 0L, 0L)))
    assert(out(4L) == ((a10, 1L, 2L)))
    assert(!out.contains(5L)) // null text dropped
  }

  test("selfDedupPassages: plan has no Exchange (array-local fold, narrow projection)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val p = Dedup.selfDedupPassages(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"self-dedup must not shuffle:\n$p")
  }

  test("incrementalNew: exact re-crawls drop at the gate, changed pages pass") {
    val prior = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
      .select(col("text"))
    val fresh = Seq(
      (10L, "a b c"),   // unchanged re-crawl: drops
      (11L, "d e f g"), // changed page: passes
      (12L, "h i"))     // new page: passes
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalNew(fresh, prior, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 12L))
  }

  test("clusters fails loudly on non-integral ids instead of crashing mid-propagation") {
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.clusters(pairs, "doc_a", "doc_b")
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("perceptualHashDup: identical media pair at hamming 0, near-copy within threshold, unrelated media unmatched") {
    val base = Array.tabulate[Byte](600)(i => ((i * 37) % 251).toByte)
    val near = base.clone(); near(5) = (near(5) + 1).toByte // 1-byte "re-encode"
    val far = Array.tabulate[Byte](600)(i => ((i * 91 + 13) % 251).toByte)
    val df = Seq((1L, base), (2L, base.clone()), (3L, near), (4L, far),
        (5L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "media")
    val got = Dedup.perceptualHashDup(df, "doc_id", "media", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 0L) // intra (hamming-0) path
    assert(got.contains((1L, 3L)) && got((1L, 3L)) <= 3L) // banded inter path
    assert(got.contains((2L, 3L)))
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L || a == 5L || b == 5L },
      s"unrelated/null media matched: $got")
  }

  test("perceptualFrameDup: identical frame bytes pair ONLY at the same frame_no, grouped banding matches brute force") {
    import spark.implicits._
    val payload = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 251).toByte)
    val near = payload.clone(); near(7) = (near(7) + 1).toByte
    val far = Array.tabulate[Byte](300)(i => ((i * 91 + 13) % 251).toByte)
    val frames = Seq(
      (1L, 0, payload), (1L, 2, far.clone()),
      (2L, 0, payload.clone()),          // same bytes, same frame → pair
      (3L, 2, payload.clone()),          // same bytes, DIFFERENT frame → no pair with 1/2
      (4L, 0, near),                     // 1-byte-off at frame 0 → banded pair with 1,2
      (5L, 2, far.clone()))              // far at frame 2 → pairs with doc 1 at hamming 0
      .toDF("doc_id", "frame_no", "frame")
    val got = Dedup.perceptualFrameDup(frames, "doc_id", "frame_no", "frame",
      maxHamming = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got.contains((0, 1L, 2L)) && got((0, 1L, 2L)) == 0L)
    assert(got.contains((0, 1L, 4L)) && got((0, 1L, 4L)) <= 3L)
    assert(got.contains((0, 2L, 4L)))
    assert(got.contains((2, 1L, 5L)) && got((2, 1L, 5L)) == 0L)
    // doc 3 carries the shared payload at frame 2 where docs 1/2 have
    // it at frame 0 — alignment must prevent every such pair
    assert(!got.keySet.exists { case (_, a, b) => a == 3L || b == 3L },
      s"misaligned frames paired: $got")
  }

  test("perceptualFrameDup equals the per-frame brute force on random corpora (banding lossless, groups independent)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val genBytes = for {
      n <- Gen.choose(0, 40)
      bs <- Gen.listOfN(n, Gen.choose(0, 255))
    } yield bs.map(_.toByte).toArray
    val genFrame = for {
      id <- Gen.choose(1L, 8L)
      fno <- Gen.choose(0, 3)
      base <- genBytes
      // bias toward collisions: sometimes reuse a tiny shared payload
      shared <- Gen.oneOf(true, false)
    } yield (id, fno, if (shared) Array[Byte](1, 2, 3, 4, 5) else base)
    val genCorpus = Gen.nonEmptyListOf(genFrame).map(_.distinctBy(r => (r._1, r._2)))
    val prop = Prop.forAll(genCorpus) { rows =>
      val got = Dedup.perceptualFrameDup(
        rows.toDF("doc_id", "frame_no", "frame"),
        "doc_id", "frame_no", "frame", maxHamming = 3)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      // brute force: per frame_no, all id pairs within hamming 3 of the
      // same pure-Scala hash the native expression computes
      val sig = rows.map { case (id, fno, bs) =>
        (id, fno) -> graft.functions.NativeText.aHash61(bs) }.toMap
      val want = (for {
        ((a, fa), sa) <- sig.toSeq
        ((b, fb), sb) <- sig.toSeq
        if fa == fb && a < b
        h = java.lang.Long.bitCount(sa ^ sb).toLong
        if h <= 3
      } yield (fa, a, b, h)).toSet
      val ok = got == want
      if (!ok) println(s"rows=${rows.map(r => (r._1, r._2, r._3.toSeq))}\n" +
        s"got $got\nwant $want")
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("dd13 realistic canary: salted-corpus anchor buckets grow ~linearly, hottest bucket stays doc-local") {
    // the bench artifact's receipt, asserted here at sf0.01 so a
    // regression in the salting/volume machinery is caught before a
    // record run: with per-doc token salting, a (fp, ln) k-gram bucket
    // crosses documents only through true (planted) duplication, so the
    // 1x -> 10x pair-growth exponent must stay far below the saturated
    // dd13 row's 2.6+, and the hottest bucket must not track corpus size
    val a = graft.queries.DedupQueries
      .dd13RealisticVolume(spark, "/root/testdata/sf0.01", copies = 1)
    val b = graft.queries.DedupQueries
      .dd13RealisticVolume(spark, "/root/testdata/sf0.01", copies = 10)
    assert(a.totalPairs > 0 && b.totalPairs > 0, s"degenerate: $a / $b")
    val exp = math.log(b.totalPairs.toDouble / a.totalPairs.toDouble) /
      math.log(10.0)
    assert(exp <= 1.3, s"exponent $exp (1x=$a, 10x=$b)")
    // hottest bucket bounded by within-doc/planted-pair repetition, not
    // by the 10x document count
    assert(b.maxBlock < 10L * a.maxBlock,
      s"hottest bucket tracks corpus size: ${a.maxBlock} -> ${b.maxBlock}")
  }

  test("dd14 realistic canary: batch x prior band collisions grow ~linearly on the sparse-dup corpus") {
    // the incremental fuzzy gate's sparse-dup control (the last dedup
    // modality whose only bench canary was the dup-saturated self-union,
    // exponent 1.9+): with per-doc token salting, a batch band key hits
    // the prior index only through a true planted re-crawl, so organic
    // 10x growth of BOTH sides must grow collisions ~linearly and the
    // hottest (band, band_key) bucket stays one planted pair's bands
    val a = graft.queries.DedupQueries
      .dd14RealisticVolume(spark, "/root/testdata/sf0.01", copies = 1)
    val b = graft.queries.DedupQueries
      .dd14RealisticVolume(spark, "/root/testdata/sf0.01", copies = 10)
    assert(a.totalPairs > 0 && b.totalPairs > 0, s"degenerate: $a / $b")
    val exp = math.log(b.totalPairs.toDouble / a.totalPairs.toDouble) /
      math.log(10.0)
    assert(exp <= 1.3, s"exponent $exp (1x=$a, 10x=$b)")
    assert(b.maxBlock < 10L * a.maxBlock,
      s"hottest bucket tracks corpus size: ${a.maxBlock} -> ${b.maxBlock}")
  }

  test("incrementalMinHash: re-crawls gate at J=1, near-identical pages gate fuzzily, new/short docs keep, ties break to min prior id") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val prior = Seq(
      (10L, base),            // duplicate prior texts: the tie target
      (11L, base),
      (20L, "p q r s t u v")) // unrelated prior doc
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, base),                                     // exact re-crawl
      (101L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 zz"),  // 1-token change
      (102L, "k1 k2 k3 k4 k5 k6 k7 k8"),                // genuinely new
      (103L, "a b"))                                    // < shingleK tokens
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinHash(batch, prior, "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(out.keySet == Set(100L, 101L, 102L, 103L))
    // exact re-crawl: dropped; equal-Jaccard (=1.0) prior twins 10/11
    // tie-break to the smaller id
    assert(out(100L) == ((false, Some(10L))))
    // 1-token change: 9 of 10 shingles survive (J = 9/11 ≈ 0.82 ≥ 0.5)
    assert(out(101L) == ((false, Some(10L))))
    // genuinely new and shingle-less: keep, no match
    assert(out(102L) == ((true, None)))
    assert(out(103L) == ((true, None)))
  }
}
