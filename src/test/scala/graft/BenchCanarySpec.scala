package graft

import graft.operators.Dedup.BlockVolume
import org.apache.spark.sql.functions.lit

/** Pins the block_volume_scaling health machinery: every emitted canary
  * must carry a declared expected-shape rule (adding a canary without
  * one fails here, not in a verdict reader's prose), and each rule kind
  * must map measured volumes to the documented verdict strings. */
class BenchCanarySpec extends SparkTestBase {
  import CanaryHealth._

  test("every emitted canary has a declared health rule, and every rule names an emitted canary") {
    val emitted = graft.queries.TrainingDataQueries
      .blockedQueryVolumesAt(spark, "/root/testdata/sf0.001", copies = 1)
      .keySet
    assert(rules.keySet == emitted,
      s"undeclared canaries: ${emitted -- rules.keySet}; " +
        s"stale rules: ${rules.keySet -- emitted}")
  }

  test("LinearPairs: ok within bound, regressed beyond, degenerate on zero pairs") {
    val r = LinearPairs(1.3)
    val a = BlockVolume(10, 2, 100)
    assert(r.health(a, BlockVolume(90, 2, 1500), 1.18) == "ok")
    assert(r.health(a, BlockVolume(90, 40, 10000), 2.0) == "regressed")
    assert(r.health(BlockVolume(10, 0, 0), a, -1.0) == "degenerate")
    assert(r.health(a, BlockVolume(0, 0, 0), -1.0) == "degenerate")
  }

  test("SaturatedPairs: expected-saturated within the planted-copy contract, regressed beyond") {
    val r = SaturatedPairs(2.3)
    val a = BlockVolume(10, 20, 1000)
    assert(r.health(a, BlockVolume(15, 200, 100000), 2.0) ==
      "expected-saturated")
    assert(r.health(a, BlockVolume(15, 2000, 400000), 2.6) == "regressed")
  }

  test("SkewMaxBlock: verdict tracks the hottest bucket's growth, not totalPairs") {
    val r = SkewMaxBlock(12.0)
    val a = BlockVolume(100, 5, 30000)
    // pairs saturate (exp 2.67) but max bucket linear: healthy by rule
    assert(r.health(a, BlockVolume(900, 50, 14000000), 2.67) ==
      "expected-saturated")
    // hottest bucket tracking corpus size: regressed regardless of exp
    assert(r.health(a, BlockVolume(900, 500, 14000000), 2.67) ==
      "regressed")
  }

  test("health3: the rule must hold on BOTH decades; regressed/degenerate dominate") {
    val a = BlockVolume(10, 2, 100)
    val b = BlockVolume(90, 2, 1500)
    val c = BlockVolume(900, 3, 20000)
    assert(health3("dd2_minhash_lsh_realistic", a, b, c, 1.18, 1.12) == "ok")
    assert(health3("dd2_minhash_lsh_realistic", a, b,
      BlockVolume(900, 40, 3000000), 1.18, 3.3) == "regressed")
    assert(health3("dd2_minhash_lsh_realistic", a, b,
      BlockVolume(0, 0, 0), 1.18, -1.0) == "degenerate")
  }

  test("the 100x third point is real: decade-over-decade exponent of the headline realistic canaries stays linear") {
    val sf = "/root/testdata/sf0.001"
    val v100 = graft.queries.TrainingDataQueries
      .realisticBlockedVolumes100(spark, sf)
    // every 100x entry names a declared canary (the bench emits its
    // health through the same rules map)
    assert(v100.nonEmpty && v100.keySet.subsetOf(rules.keySet), v100.keySet)
    val v10 = graft.queries.TrainingDataQueries
      .blockedQueryVolumesAt(spark, sf, copies = 10)
    v100.foreach { case (q, c) =>
      val b = v10(q)
      assert(b.totalPairs > 0 && c.totalPairs > 0, s"$q degenerate")
      val e = math.log(c.totalPairs.toDouble / b.totalPairs.toDouble) /
        math.log(10.0)
      // each canary's DECLARED LinearPairs bound, not a blanket 1.3:
      // dd13's skew control is declared at 1.5 (the rest, including
      // sim9 since the quadratic-mix plane-family fix, at 1.3)
      val bound = rules(q) match {
        case LinearPairs(x) => x
        case r => fail(s"$q has a 100x point but a non-linear rule $r")
      }
      assert(e <= bound,
        s"$q 10x->100x pair-growth exponent $e exceeds its declared " +
          s"bound $bound — the second decade is not linear " +
          "(cross-copy vocabulary leak or plant-rate drift)")
    }
  }

  test("an undeclared canary name reads unknown") {
    val a = BlockVolume(10, 2, 100)
    assert(health("not_a_canary", a, a, 1.0) == "unknown")
  }

  test("isRegression: needs BOTH >1.5x ratio and >0.3s absolute growth") {
    assert(Bench.isRegression(prev = 1.0, now = 1.9))
    assert(!Bench.isRegression(prev = 1.0, now = 1.4)) // ratio too small
    assert(!Bench.isRegression(prev = 0.1, now = 0.3)) // 3x but tiny cell
    assert(!Bench.isRegression(prev = 0.0, now = 5.0)) // no baseline
    assert(Bench.isRegression(prev = 0.3, now = 0.7))
    assert(!Bench.isRegression(prev = 2.0, now = 2.9)) // +0.9s but 1.45x
  }

  test("parsePrevRecord: extracts medians + warn flag, rejects filtered smokes") {
    val rec = """{"metric":"total","value":3.2,"unit":"sec",""" +
      """"queries":{"q1_agg":1.25,"t1_filter":0.05},"errors":{},""" +
      """"sentinel":{"contention_warning":false},"sf":"x","notes":""}"""
    assert(Bench.parsePrevRecord(rec) ==
      Some((Map("q1_agg" -> 1.25, "t1_filter" -> 0.05), false)))
    val warned = rec.replace("\"contention_warning\":false",
      "\"contention_warning\":true")
    assert(Bench.parsePrevRecord(warned).exists(_._2))
    assert(Bench.parsePrevRecord(
      rec.replace(""""errors":{}""", """"errors":{},"filtered":true""")).isEmpty)
    assert(Bench.parsePrevRecord("{}").isEmpty)
    assert(Bench.parsePrevRecord("""{"queries":{}}""").isEmpty)
    // a baseline from a DIFFERENT scale factor is rejected outright —
    // an sf0.001 smoke in the working tree must not make a clean sf0.1
    // run flag cross-SF "regressions"
    assert(Bench.parsePrevRecord(rec, "x").nonEmpty)
    assert(Bench.parsePrevRecord(rec, "y").isEmpty)
    assert(Bench.parsePrevRecord(rec).nonEmpty) // no sf given: legacy path
  }

  test("checksum: one Long digest per answer, blind to row order and partitioning") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong, s"s$i", i * 0.5))
    def digest(rs: Seq[(Long, String, Double)], parts: Int): Long =
      Bench.checksum(spark.sparkContext.parallelize(rs, parts)
        .toDF("a", "b", "c"))
    val d = digest(rows, 1)
    assert(d > 0L)
    assert(digest(rows, 7) == d)
    assert(digest(new scala.util.Random(7).shuffle(rows), 7) == d)
    // one changed value changes the digest
    assert(digest(rows.updated(17, (18L, "s18", 9.25)), 1) != d)
    // empty output reads 0, not null
    assert(Bench.checksum(rows.toDF("a", "b", "c").filter(lit(false))) == 0L)
    // extreme values raise no ANSI overflow: each row adds < 2^32
    val extremes = Seq.fill(100)(Seq(Long.MaxValue, Long.MinValue)).flatten
    val e = Bench.checksum(spark.sparkContext.parallelize(extremes, 7).toDF("x"))
    assert(e > 0L && e < extremes.size * (1L << 32), e)
  }

  test("compactLine: 152 results and 152 errors stay one JSON line of at most 1600 chars") {
    val names = (1 to 152).map(i => f"q$i%03d_" + "x" * 34) // 39 chars
    val line = Bench.compactLine(
      names.zipWithIndex.map { case (n, i) => n -> i * 1.25 }, total = 1234.5,
      errorNames = names, streamRps = Some(98765.4), filtered = false,
      warn = true, sfDir = "/testdata/sf0.1")
    assert(line.length <= 1600, line.length)
    assert(!line.contains("\n"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    Seq("queries", "errors_n", "warn", "stream_rps", "sf")
      .foreach(k => assert(json.has(k), s"$k missing from $line"))
    assert(json.get("queries").size > 0)
    assert(json.get("errors_n").asInt == 152)
    assert(json.get("warn").asBoolean)
    assert(json.get("stream_rps").asLong == 98765L)
    assert(json.get("sf").asText == "/testdata/sf0.1")
  }

  test("TaskFailureTracker: empty ledger on a clean run, keyed counts otherwise") {
    val t = new Bench.TaskFailureTracker
    assert(t.json == "{}")
    // a real failed task end, driven through the listener surface: run a
    // job whose single task always throws
    t.current = "probe_query"
    spark.sparkContext.addSparkListener(t)
    try {
      // the session allows one retry (local[4,2]); the task throws on
      // both attempts so the job still aborts, and each attempt fires
      // a SparkListenerTaskEnd(ExceptionFailure) the ledger counts
      intercept[org.apache.spark.SparkException] {
        spark.sparkContext.parallelize(Seq(1), 1)
          .map { _: Int => throw new IllegalStateException("planted"); 0 }
          .collect()
      }
      // listener bus is async: poll until the failure event lands
      val deadline = System.nanoTime() + 10_000_000_000L
      while (t.json == "{}" && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(t.json.contains("\"probe_query\""))
      assert(t.json.contains("IllegalStateException"))
    } finally spark.sparkContext.removeSparkListener(t)
  }

  test("declared rule kinds match each canary family's documented shape") {
    // realistic (sparse-dup) rows and distinct-signature banding are
    // linear; perturbed self-unions saturate by the planted-copy
    // contract; dd13 is the skew canary
    Seq("dd2_minhash_lsh_realistic", "dd11_jaccard_prefix_realistic",
      "dd13_substring_realistic", "dd14_incremental_fuzzy_realistic",
      "sim9_knn_graph_realistic", "dd3_simhash", "dd9_semantic_dedup",
      "dd15_phash_neardup", "pl9_frame_phash").foreach { n =>
      assert(rules(n).isInstanceOf[LinearPairs], n)
    }
    Seq("dd2_minhash_lsh", "dd4_ngram_jaccard", "dd11_jaccard_prefix",
      "dd14_incremental_fuzzy", "sim9_knn_graph").foreach { n =>
      assert(rules(n).isInstanceOf[SaturatedPairs], n)
    }
    assert(rules("dd13_substring").isInstanceOf[SkewMaxBlock])
  }
}
