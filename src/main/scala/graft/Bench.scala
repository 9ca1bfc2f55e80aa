package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.Application

/** Machine-checkable health verdicts for the bench's
  * `block_volume_scaling` canaries. Each modality's 1×→10× growth has a
  * DOCUMENTED expected shape — linear for banding/prefix schemes on
  * sparse-dup corpora, saturated for the perturbed self-unions whose
  * quadratic pair floor IS the planted-copy contract, max-bucket-linear
  * for dd13's skew canary — and until now those rules lived in prose
  * (bench notes + verdict adjudications), so a round-over-round canary
  * regression had to be re-spotted by a reader. This object single-
  * sources the rule per canary and stamps a `health` field into every
  * scaling entry: `ok` (linear scheme behaving linearly),
  * `expected-saturated` (saturation within the documented contract),
  * `regressed` (growth beyond the rule — a real scheme change),
  * `degenerate` (a scale too small to measure: zero pairs on either
  * side). Bounds cover the exponents MEASURED across the two run
  * contexts, sf0.1 (the driver's protocol scale) and sf0.001 (local
  * smokes — tiny corpora make exponents granular: dd11 reads 2.05 at
  * sf0.1 but 2.64 at sf0.001, dd4 2.05 vs 2.37, dd13_realistic 0.98 vs
  * 1.43), plus ~10% slack. The artifact health is therefore a COARSE
  * tripwire — any `regressed` is a real scheme change at either scale;
  * the tight per-SF instruments are the DedupSpec exponent guards
  * (fixed sf0.01, bound 1.3). */
object CanaryHealth {
  import graft.operators.Dedup.BlockVolume

  sealed trait Rule {
    def health(x1: BlockVolume, x10: BlockVolume, exp: Double): String =
      if (x1.totalPairs <= 0 || x10.totalPairs <= 0) "degenerate"
      else verdict(x1, x10, exp)
    protected def verdict(x1: BlockVolume, x10: BlockVolume,
        exp: Double): String
  }
  /** A scheme that must spread with the corpus: pairs growth exponent
    * bounded near 1. */
  final case class LinearPairs(maxExp: Double) extends Rule {
    protected def verdict(x1: BlockVolume, x10: BlockVolume, exp: Double) =
      if (exp <= maxExp) "ok" else "regressed"
  }
  /** A dup-saturated self-union corpus: the quadratic pair floor is the
    * planted-copy contract, so saturation up to `maxExp` is expected;
    * beyond it the scheme itself crept. */
  final case class SaturatedPairs(maxExp: Double) extends Rule {
    protected def verdict(x1: BlockVolume, x10: BlockVolume, exp: Double) =
      if (exp <= maxExp) "expected-saturated" else "regressed"
  }
  /** dd13's skew canary: totalPairs saturates by contract (no pairwise
    * join runs over these buckets); the health signal is the hottest
    * bucket staying ~linear in the corpus. */
  final case class SkewMaxBlock(maxBlockRatio: Double) extends Rule {
    protected def verdict(x1: BlockVolume, x10: BlockVolume, exp: Double) =
      if (x1.maxBlock > 0 &&
          x10.maxBlock.toDouble / x1.maxBlock.toDouble <= maxBlockRatio)
        "expected-saturated"
      else "regressed"
  }

  /** ONE rule per block_volume_scaling canary — BenchSpec pins that this
    * map covers every emitted canary, so adding a canary without
    * declaring its expected shape fails the build. */
  val rules: Map[String, Rule] = Map(
    "dd2_minhash_lsh" -> SaturatedPairs(2.9),
    "dd3_simhash" -> LinearPairs(1.3),
    "dd4_ngram_jaccard" -> SaturatedPairs(2.5),
    "dd9_semantic_dedup" -> LinearPairs(1.3),
    "dd11_jaccard_prefix" -> SaturatedPairs(2.8),
    "dd13_substring" -> SkewMaxBlock(12.0),
    "dd14_incremental_fuzzy" -> SaturatedPairs(2.2),
    "dd15_phash_neardup" -> LinearPairs(1.3),
    "pl9_frame_phash" -> LinearPairs(1.3),
    "sim9_knn_graph" -> SaturatedPairs(2.45),
    "dd2_minhash_lsh_realistic" -> LinearPairs(1.3),
    "dd11_jaccard_prefix_realistic" -> LinearPairs(1.3),
    "dd13_substring_realistic" -> LinearPairs(1.5),
    "dd14_incremental_fuzzy_realistic" -> LinearPairs(1.3),
    // tightened from 1.7 in r20: the old linear Weyl plane family
    // saturated signature entropy (planes were windows of ONE
    // sequence), which was the real source of the ~1.5 exponents; the
    // quadratic-mix family (NativeVector.lshSignature) measures
    // 1.01/1.17 decade-over-decade, so sim9 now holds the same bound
    // as every other realistic canary.
    "sim9_knn_graph_realistic" -> LinearPairs(1.3))

  /** The artifact verdict for one canary; an UNDECLARED canary reads
    * `unknown` (and fails BenchSpec's coverage pin). */
  def health(name: String, x1: BlockVolume, x10: BlockVolume,
      exp: Double): String =
    rules.get(name).map(_.health(x1, x10, exp)).getOrElse("unknown")

  /** Three-point verdict (1×/10×/100×, the headline realistic
    * canaries): the SAME rule applied to each decade independently —
    * linearity must hold decade over decade, not just on average (an
    * average could hide a sub-linear first decade masking a
    * super-linear second). `ok` only when both decades pass. */
  def health3(name: String, x1: BlockVolume, x10: BlockVolume,
      x100: BlockVolume, exp1: Double, exp2: Double): String = {
    val h1 = health(name, x1, x10, exp1)
    val h2 = health(name, x10, x100, exp2)
    // Explicit precedence: bad verdicts dominate, then unknown (a
    // coverage gap must never read as healthy), and "ok" requires BOTH
    // decades to say ok — a mixed ok/saturated pair falls through to
    // the non-ok member rather than defaulting to h2's side.
    if (h1 == h2) h1
    else if (Seq(h1, h2).contains("regressed")) "regressed"
    else if (Seq(h1, h2).contains("degenerate")) "degenerate"
    else if (Seq(h1, h2).contains("unknown")) "unknown"
    else Seq(h1, h2).find(_ != "ok").getOrElse("ok")
  }
}

/** Benchmark main — BASELINE.md §3 protocol: per query, one untimed
  * warm-up then the median of 3 warm runs. The measured action is a
  * full-column digest ([[checksum]]: xxhash64 over every output column,
  * an order-independent sum per row), so Catalyst cannot prune computed
  * columns the way a bare `count()` lets it, and every timed run carries
  * its answer. Failures are recorded loudly in an `errors` field (never
  * as fake timings). TWO outputs: the FULL artifact (query dispersion
  * and digests, sentinel, the streaming leg, block volumes, run order +
  * start offsets) goes to `bench_result.json`; stdout gets a COMPACT
  * one-line summary ([[compactLine]]):
  * total, warn flag, primary streaming rps, error count, and the
  * SLOWEST-10 query medians only. The split exists because the driver
  * captures the LAST ~2000 chars of stdout INCLUDING sbt's trailer
  * (`[success]` + a possible GC `[warn]`, ~300 chars) — round 11's
  * 1775-char all-query line was front-truncated by exactly that trailer
  * and recorded as `parsed: null`. The line is therefore kept ≤ 1600
  * chars BY CONSTRUCTION (a trim loop drops slowest-list entries if a
  * pathological run would overflow); per-query detail lives only in the
  * file, and stdout medians are display-only — comparisons must read
  * `bench_result.json`.
  *
  * Trustworthiness machinery (the numbers are only as good as the
  * machine was quiet):
  *
  *  - CONTENTION SENTINEL: /proc/loadavg is recorded before and after,
  *    and a fixed calibration query (min-of-5 timed sums over
  *    spark.range(4·10⁹) after a plateau warm-up — see [[calibrate]])
  *    is run at start and end. The artifact carries `"contention_warning":
  *    true` and a loud note when ANY of: the calibration drifts more
  *    than 1.3× in EITHER direction (faster-at-end means the start
  *    calibration — and the batch queries right after it — ran under
  *    load, the exact signature of the contaminated r7–r9 records);
  *    1-minute loadavg at start exceeds 1.0; or any single query's 3
  *    timed runs spread beyond 2× (per-query min/median/max ship in
  *    `query_times`, offenders in `dispersed_queries`). A contaminated
  *    run self-identifies — cell-level — instead of silently becoming
  *    the round's record.
  *  - STREAMING REPEATS: the one streaming leg ([[streamingLeg]],
  *    `streaming_availablenow`: all input pre-staged, one AvailableNow
  *    drain, the engine alone) runs at least 3 untimed warm-ups, then 6
  *    in-process runs with a fresh checkpoint each, dropping the first
  *    by protocol; the artifact reports the other 5 plus
  *    min/median/max and the max/min spread. `records_per_sec` is the
  *    median, the tracked `stream_rps`.
  *  - DIGESTS: `query_times` carries each cell's digest; a cell whose
  *    warm-up and timed runs disagree is listed in
  *    `nondeterministic_queries` (informational: float aggregates may
  *    differ in their last bits across shuffle-fetch orders).
  *  - BLOCK VOLUMES: every blocked-pairwise query's exact pair count at
  *    this scale factor (Σ c·(c−1)/2 over its blocking histogram) is in
  *    `block_volume`, so quadratic creep is visible in the artifact.
  */
object Bench {

  /** Per-(query, failure-class) task-failure ledger. The driver's r17
    * bench stdout carried an anonymous retried-task stack with
    * `errors_n = 0` — Spark retried it silently, and nothing recorded
    * WHICH query retried or why, even though a silently-retried lost
    * `localCheckpoint` block is the exact failure mode the `reliable`
    * staging knob exists for. This listener counts every non-successful
    * task end, keyed to the query/section running at the time; the
    * artifact ships the ledger as `task_failures` and the clean-record
    * protocol asserts it EMPTY (a retry both contaminates the affected
    * cell's timing and names a recompute-safety hazard to chase). */
  private[graft] final class TaskFailureTracker
      extends org.apache.spark.scheduler.SparkListener {
    @volatile var current: String = "startup"
    private val counts = new java.util.concurrent.ConcurrentHashMap[
      (String, String), java.util.concurrent.atomic.AtomicLong]()
    private val injected = new java.util.concurrent.ConcurrentHashMap[
      (String, String), java.util.concurrent.atomic.AtomicLong]()
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      e.reason match {
        case org.apache.spark.Success => ()
        case ef: org.apache.spark.ExceptionFailure =>
          record(ef.className, ef.description)
        case r => record(r.getClass.getSimpleName.stripSuffix("$"), "")
      }
    private def record(reason: String, description: String): Unit = {
      // the fault-injection rows' (w24/w26) DELIBERATE faults ledger
      // separately: the clean-record bar stays "task_failures EMPTY",
      // while the injected ledger is EXPECTED non-empty for exactly
      // those queries — the retry machinery exercised on purpose,
      // recorded on purpose.
      // The probe throws from inside a UDF, so the task-end reason is
      // SparkException [FAILED_EXECUTE_UDF] with the real class in the
      // cause chain — classify by either surface. Attribution: the
      // exception text carries the injection tag, whose prefix IS the
      // query name (race-free — listener events are async, and
      // `current` may have advanced to the NEXT query by delivery
      // time; booking an injected fault under an uninstrumented query
      // would make a clean record look leaked).
      val marker = classOf[graft.streaming.InjectedTaskFault].getName
      val isInjected = reason == marker || description.contains(marker)
      val book = if (isInjected) injected else counts
      val key = if (isInjected) marker else reason
      val query =
        if (isInjected)
          "injected task fault '([^'#]+)#".r.findFirstMatchIn(description)
            .map(_.group(1)).getOrElse(current)
        else current
      book.computeIfAbsent((query, key),
        _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
      ()
    }
    private def bookJson(book: java.util.concurrent.ConcurrentHashMap[
        (String, String), java.util.concurrent.atomic.AtomicLong]): String = {
      import scala.jdk.CollectionConverters._
      book.asScala.toSeq.map { case ((q, r), n) => (q, r, n.get) }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (q, rs) =>
          "\"" + q + "\":" + rs.sortBy(_._2)
            .map { case (_, r, n) => "\"" + r + "\":" + n }
            .mkString("{", ",", "}")
        }.mkString("{", ",", "}")
    }
    /** `{"<query>":{"<failure class>":n,…},…}` — empty on a clean run. */
    def json: String = bookJson(counts)
    /** Injected-fault ledger — non-empty iff fault-injection rows ran. */
    def injectedJson: String = bookJson(injected)
  }

  /** The carried-cell regression rule (r17 verdict: round-over-round
    * perf regressions were adjudicated by prose; x11's r16 flag took a
    * judge to spot). A cell regresses vs the previous committed record
    * iff its median grew BOTH >1.5× and >0.3 s absolute — the ratio
    * bound alone would flag scheduler noise on sub-0.3 s cells, the
    * absolute bound alone would miss a big cell doubling. Clean-run
    * medians vary ~±10% cell-to-cell run-to-run; 1.5× is far outside
    * that band. */
  private[graft] def isRegression(prev: Double, now: Double): Boolean =
    prev > 0 && now / prev > 1.5 && now - prev > 0.3

  /** Extract the per-query medians (the `"queries":{...}` object) from
    * a previous `bench_result.json`, plus its contention flag. Returns
    * None when the file is missing, unparsable, or a `"filtered"` spot
    * run (a SPARK_GRAFT_ONLY smoke is not a baseline). Hand-rolled
    * extraction — the artifact is this object's own single-line JSON. */
  private[graft] def parsePrevRecord(txt: String,
      sfDir: String = ""): Option[(Map[String, Double], Boolean)] = {
    if (txt.contains("\"filtered\":true")) return None
    // a baseline from a DIFFERENT scale factor is not a baseline: an
    // sf0.001 smoke left in the working tree made a clean sf0.1 run
    // flag 19 bogus 2-3x "regressions" (every cell compared against
    // tiny-input timings). The sf field is part of the record's
    // identity — mismatch means no regression comparison at all.
    if (sfDir.nonEmpty) {
      val sfRe = "\"sf\":\"([^\"]*)\"".r
      sfRe.findFirstMatchIn(txt) match {
        case Some(m) if m.group(1) != sfDir =>
          System.err.println(s"[bench] previous record is for sf " +
            s"'${m.group(1)}', this run is '$sfDir' — skipping the " +
            "regression comparison (cross-SF ratios are meaningless)")
          return None
        case _ => ()
      }
    }
    val start = txt.indexOf("\"queries\":{")
    if (start < 0) return None
    val end = txt.indexOf("}", start)
    if (end < 0) return None
    val body = txt.substring(start + "\"queries\":{".length, end)
    val medians = "\"([A-Za-z0-9_]+)\":([-+0-9.eE]+)".r
      .findAllMatchIn(body)
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
      .toMap
    if (medians.isEmpty) None
    else Some((medians, txt.contains("\"contention_warning\":true")))
  }

  /** One streaming-leg run: engine-time throughput plus the
    * engine-reported phase breakdown ("where does the time go") and the
    * per-batch trigger-duration percentiles (the record end-to-end
    * latency bound — BASELINE §3's StreamingQueryProgress latency). */
  private[graft] case class StreamResult(rows: Long, sec: Double, rps: Double,
      batches: Long, wallSec: Double, breakdownMs: Map[String, Long],
      latencyMs: Map[String, Long])

  /** The kept runs of the leg. The median run's fields keep their
    * historical names so round-over-round comparison still works;
    * min/max/spread expose whether the number deserves trust (the r5→r6
    * leg swung 2.6× run-to-run and was graded as if it meant
    * something). */
  private[graft] case class LegSummary(runs: Seq[StreamResult],
      coldFirstRps: Double, discardedRps: Seq[Double] = Nil) {
    private val byRps = runs.sortBy(_.rps)
    def median: StreamResult = byRps(runs.size / 2)
    def json: String = {
      val mn = byRps.head.rps
      val mx = byRps.last.rps
      val spread = if (mn > 0) mx / mn else 0.0
      val all = runs.map(_.rps).mkString("[", ",", "]")
      val m = median
      def obj(mm: Map[String, Long]): String =
        mm.toSeq.sortBy(-_._2).map { case (k, v) =>
          "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // when the 2× re-measure policy ran, BOTH legs ship: the kept
      // leg's runs above, the discarded leg's rps here — so selection
      // effects stay detectable round-over-round (ADVICE r10)
      val disc =
        (if (discardedRps.isEmpty) ""
         else s""","discarded_leg_rps":${discardedRps.mkString("[", ",", "]")}""") +
        // the protocol-dropped cold first run: always shipped so the
        // discard stays auditable round-over-round
        s""","discarded_cold_first_rps":$coldFirstRps"""
      s"""{"rows":${m.rows},"sec":${m.sec},"records_per_sec":${m.rps},""" +
        s""""batches":${m.batches},"wall_sec":${m.wallSec},""" +
        s""""rps_runs":$all,"rps_min":$mn,"rps_median":${m.rps},"rps_max":$mx,""" +
        s""""rps_spread":$spread$disc,"batch_latency_ms":${obj(m.latencyMs)},""" +
        s""""breakdown_ms":${obj(m.breakdownMs)}}"""
    }
  }

  /** The leg's rows per run, its timed runs (after the dropped first),
    * and its floor of untimed warm-ups. 5 timed runs: each run takes
    * seconds, and the median of 5 holds still under the ±25%
    * scheduling/GC graininess a run that short cannot amortize away. */
  private val LegRows = 500000
  private val LegRepeats = 5
  private val LegWarmups = 3

  /** Streaming throughput through a tumbling-window sum per key on the
    * RocksDB store, checkpointed to local disk: ALL data is staged into
    * the MemoryStream before the query starts, then one
    * `Trigger.AvailableNow` run drains it. Feed cost is excluded by
    * construction; what remains is the engine: planning, source
    * getBatch, the windowed-agg batch run, state-store update/commit,
    * offset-log commits — reported in `breakdown_ms` from the engine's
    * own progress metrics.
    */
  private[graft] def streamingBench(spark: SparkSession): StreamResult = {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, Long)]
    val agg = input.toDF().toDF("ts", "key", "v")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("key"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    val m = graft.streaming.Measure.attach(spark)
    // Checkpoint on tmpfs when available: the leg measures ENGINE cost
    // (planning, batch run, state update, commit), and on this
    // container's disk the changelog fsync inside RocksDB commit swings
    // 10× run-to-run (observed: stateCommit 20 s → 223 s cumulative on
    // identical runs) — that noise is the container's page-cache flush,
    // not the engine. Production checkpoints target HDFS/S3 whose
    // durability cost is a property of the deployment, not of this
    // library; tmpfs keeps the full commit code path (changelog write,
    // snapshot, version files) while removing the local-disk lottery.
    val ckptDir = graft.streaming.Scratch.dir("graft-bench-ckpt")
    def mkData(base: Long, n: Int): Seq[(Timestamp, Long, Long)] =
      (0 until n).map { i =>
        val t = (base + i) * 10L // 10 ms apart -> ~100 windows/key/chunk
        (new Timestamp(t), (base + i) % 100L, 1L)
      }
    val wall0 = System.nanoTime()
    try {
      // stage everything first, in blocks (MemoryStream offsets are per
      // addData call), THEN start: the engine runs flat-out
      val blocks = 10
      val perBlock = LegRows / blocks
      (0 until blocks).foreach { b =>
        val n = if (b == blocks - 1) LegRows - perBlock * (blocks - 1)
                else perBlock
        input.addData(mkData(b.toLong * perBlock, n))
      }
      agg.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckptDir.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    } finally {
      // drain BEFORE detaching: progress events are posted async, and a
      // removed listener never receives the tail batch's event — the
      // primary streaming metrics would silently undercount it (and the
      // old post-remove wait could only ever time out)
      val deadline = System.nanoTime() + 5000000000L
      while (m.totalRows < LegRows && System.nanoTime() < deadline)
        Thread.sleep(50)
      graft.streaming.Measure.remove(spark, m)
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    // Unload every state-store provider NOW (local mode: same JVM). The
    // default unload path is the 60 s maintenance cycle after the
    // coordinator deactivates the stopped query — until then, up to 32
    // stale RocksDB providers keep snapshotting into a checkpoint we are
    // about to delete, and that background churn lands inside the NEXT
    // run's measured window (observed as transient 3-5× slow runs).
    scala.util.Try(
      org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    // the per-run checkpoint (RocksDB SSTs + changelogs) is dead after
    // the run — delete so repeats don't accumulate in /tmp
    graft.streaming.StreamingRun.deleteTree(ckptDir)
    StreamResult(m.totalRows, m.totalSeconds, m.recordsPerSec,
      m.totalBatches, wallSec, m.durationBreakdownMs, m.batchLatencyMs)
  }

  /** JMH-style inter-iteration hygiene: force collection of the
    * previous run's garbage (each run strands ~40 MB of MemoryStream
    * blocks + listener events) OUTSIDE the next measured window. Without
    * it the debt lands as a multi-second pause inside a later run
    * (observed: one 30.9k rec/s run in a leg of 77-114k). */
  private def gcSettle(): Unit = { System.gc(); Thread.sleep(200) }

  /** [[LegWarmups]] UNTIMED runs then [[LegRepeats]] + 1 measured runs
    * — the batch queries' protocol. The warm-up is what makes the
    * spread honest: cold streaming runs pay RocksDB JNI load, codegen,
    * and shuffle-infra warmup (observed: 37k→54k→81k rec/s monotone
    * across three cold runs; the big-batch AvailableNow shape keeps
    * climbing for ~4 runs), which is JVM amortization, not engine
    * variance. */
  private[graft] def streamingLeg(spark: SparkSession): LegSummary = {
    // LegWarmups is the FLOOR: keep running untimed until the last two
    // warm-up runs agree within 15% (cap LegWarmups+4), so a JVM that is
    // still climbing (observed: monotone 14k→67k rec/s across 5 "timed"
    // runs on a cold session) spends its ramp outside the measured
    // window instead of inflating rps_spread.
    var prev = 0.0
    var cur = streamingBench(spark).rps
    var n = 1
    while (n < LegWarmups + 4 &&
        (n < LegWarmups || math.abs(cur - prev) > 0.15 * cur)) {
      prev = cur
      cur = streamingBench(spark).rps
      n += 1
    }
    // measure LegRepeats+1 runs and UNCONDITIONALLY discard run 1,
    // recording its rps. The warm-up above runs the identical leg, yet
    // a first-touch session has still shown run 1 at ~half the plateau
    // (an r13 record: 51.8k vs ~100k for runs 2-5 — residual
    // provider/page-cache state the convergence test can declare
    // "agreed" on while the timed path still has one cold step left).
    // Dropping run 1 BY PROTOCOL is selection-effect-free (the discard
    // does not depend on the value; the value ships in
    // discarded_cold_first_rps), unlike dropping it only when slow.
    def leg(): LegSummary = {
      val runs = (0 to LegRepeats).map { _ =>
        gcSettle()
        streamingBench(spark)
      }
      LegSummary(runs.tail, coldFirstRps = runs.head.rps)
    }
    // same transient-stall policy as the batch cells: a leg whose
    // max/min rps exceeds 2x caught a host stall in one of its runs —
    // measure the whole leg once more and keep the tighter one (the
    // reported rps_spread always describes the kept leg)
    val first = leg()
    def spreadOf(l: LegSummary): Double = {
      val rs = l.runs.map(_.rps)
      if (rs.min > 0) rs.max / rs.min else Double.MaxValue
    }
    if (spreadOf(first) <= 2.0) first
    else {
      val second = leg()
      // whichever leg loses is still recorded (discarded_leg_rps), so
      // the keep-the-tighter selection cannot silently bias the record
      if (spreadOf(second) < spreadOf(first))
        second.copy(discardedRps = first.runs.map(_.rps))
      else first.copy(discardedRps = second.runs.map(_.rps))
    }
  }

  /** Force every output column to be computed and fold the answer into
    * one digest: hash each row across all columns, sum the hashes' low
    * 32 bits as a long. One cheap partial-agg on top of the query's own
    * plan; nothing is prunable. The integer sum is independent of row
    * order and partitioning, cannot overflow below 2³¹ rows, and reads
    * 0 on empty output. */
  private[graft] def checksum(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(c => col(c).cast("string")): _*)
        .bitwiseAND(lit(0xFFFFFFFFL)).as("h"))
      .agg(coalesce(sum(col("h")), lit(0L))).collect()(0).getLong(0)

  // ---- contention sentinel ----

  private def loadavg(): Seq[Double] =
    scala.util.Try(
      java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split(" ").take(3).map(_.toDouble).toSeq)
      .getOrElse(Seq(-1.0, -1.0, -1.0))

  /** Fixed CPU-bound calibration: MIN of 5 timed sums over
    * spark.range(4·10⁹) after an ADAPTIVE warm-up. 4·10⁹ keeps the
    * measured run around half a second on a 32-thread box — at 10⁹ the
    * run was ~0.11 s and scheduler/timer jitter of a few tens of ms
    * read as 1.3× "drift" on its own. Pure codegen arithmetic — once
    * warm, its runtime moves only when someone else has the cores. */
  private def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(4000000000L).agg(sum(col("id"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // settle first: the end calibration runs right after ~12 streaming
    // runs whose garbage/finalizer debt otherwise reads as "drift"
    System.gc(); Thread.sleep(500)
    // plateau detection: THREE consecutive runs within 5% (cap 15) —
    // two-within-10% exits on a local flat spot while the JVM is still
    // climbing, and the start calibration is the coldest moment of the
    // session, so a too-early exit reads later as fake 0.5-0.7x "drift"
    val window = scala.collection.mutable.Queue[Double](once(), once(), once())
    var n = 3
    def flat = window.max - window.min <= 0.05 * window.min
    while (n < 15 && !flat) {
      window.dequeue(); window.enqueue(once()); n += 1
    }
    // MIN of 5, not median: the drift check asks "was the machine
    // equally CAPABLE at start and end", and min is the capability
    // statistic — a transient stall inflates a median and fakes drift,
    // while sustained load (the thing the check exists for) slows every
    // run and still shows in the min.
    Seq.fill(5)(once()).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val only = Harness.only
    // Every retry, injected or not, is ledgered by TaskFailureTracker.
    // NOTE (r21): the RocksDB provider conf is NOT set session-wide any
    // more — it is scoped to the streaming THROUGHPUT leg below (see
    // the conf scope around it). Session-wide RocksDB made every
    // default-provider oracle drain (k12/k13/w18/w22/… — rows whose
    // documented contract is the session-default HDFSBackedStateStore,
    // in deliberate contrast to the k14/k15/w21/w23 rows that pin
    // RocksDB) silently run RocksDB under the bench while running the
    // HDFS provider under Verify — the bench was mismeasuring the very
    // provider contrast the query set exists to show. Rows that NEED
    // RocksDB pin it themselves (withStateProvider / TWS), proven by
    // their green correctness under Verify's default-provider session.
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")

    // the previous committed record is the working-tree artifact — read
    // it BEFORE this run overwrites the file (regression baseline)
    val prevRecord = scala.util.Try(java.nio.file.Files.readString(
        java.nio.file.Paths.get("bench_result.json")))
      .toOption.flatMap(parsePrevRecord(_, sfDir))
    val taskFailures = new TaskFailureTracker
    spark.sparkContext.addSparkListener(taskFailures)

    val loadStart = loadavg()
    // Broad JVM warm-up BEFORE the start calibration: calibrate()'s own
    // plateau only warms its narrow range-sum loop, while the END
    // calibration runs after ~15 min of varied Spark work (scheduler,
    // shuffle, codegen, parquet paths all C2-compiled) — observed as
    // benign 0.70-0.79 "drift" on cold sessions (r13 annex; two r14
    // record attempts tripped the symmetric bound on exactly this).
    // A short burst of representative UNTIMED work (a parquet scan +
    // aggregate + join + shuffle) moves the start calibration onto the
    // same broadly-warm footing, so symmetric drift measures what it
    // exists for: did someone else have the cores.
    scala.util.Try {
      (1 to 3).foreach { _ =>
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val o = spark.read.parquet(s"$sfDir/orders.parquet")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")),
            count(lit(1))).collect()
      }
    }
    val calibStart = calibrate(spark)

    // Run-order clock: every query (and section) records its start
    // offset from this instant. The r11 contamination adjudication had
    // to INFER that the slow cells ran late (alphabetical order vs
    // rising loadavg); with explicit offsets the correlation is
    // mechanical — a reviewer joins start_sec against the loadavg
    // trajectory instead of reconstructing the schedule.
    val benchT0 = System.nanoTime()
    def offNow(): Double =
      math.rint((System.nanoTime() - benchT0) / 1e9 * 100) / 100

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // cells whose warm-up and timed runs returned different digests, over
    // every pass (informational: never sets warn)
    val nondeterministic = scala.collection.mutable.LinkedHashSet[String]()
    // (min, median, max) of the 3 warm runs plus the answer's digest: the
    // median is the tracked number, the dispersion is the per-cell trust
    // signal — a cell whose max/min exceeds 2 was measured under
    // interference (adjudicated examples: dd4 r7/r8 ~10x, x2/o1 r9 ~5x)
    // and flags the artifact.
    def measureOne(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => DataFrame)
        : Option[Cell] =
      try {
        taskFailures.current = name
        val digest = checksum(fn(spark, sfDir)) // warm-up: JVM/codegen/file-cache
        val runs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val d = checksum(fn(spark, sfDir))
          ((System.nanoTime() - t0) / 1e9, d)
        }
        if (runs.exists(_._2 != digest)) nondeterministic += name
        val times = runs.map(_._1).sorted
        Some(Cell(times(0), times(1), times(2), digest))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] FAILED $name: $e")
          errors(name) = e.getClass.getSimpleName
          None
      }
    val startSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    val runOrder = scala.collection.mutable.ArrayBuffer[String]()
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, fn) =>
        runOrder += name
        startSec(name) = offNow()
        measureOne(name, fn).map(name -> _)
      }
    // Transient host hiccups (observed ~once per multi-minute run) hit
    // whichever cell is executing and inflate its spread; a single
    // post-run re-measure on by-then-quiet hardware replaces the cell
    // when it measures cleaner. Both passes stay honest: re-measured
    // cells are listed in `remeasured_queries`, and any cell whose
    // FINAL measurement still exceeds 2x lands in dispersed_queries and
    // flags the artifact.
    val remeasured = scala.collection.mutable.ArrayBuffer[String]()
    // every re-measured cell's ORIGINAL triple ships in
    // first_pass_times, whether or not the re-measure replaced it —
    // round-over-round comparison can then detect systematic selection
    // effects in the keep-the-cleaner policy (ADVICE r10)
    val firstPassTimes = scala.collection.mutable.LinkedHashMap[String, Cell]()
    val remeasureStartSec =
      scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = firstPass.map { case (name, v) =>
      if (v.spread > 2.0) {
        remeasured += name
        firstPassTimes(name) = v
        remeasureStartSec(name) = offNow()
        val fn = SparkEntry.queries(name)
        measureOne(name, fn) match {
          case Some(v2) if v2.spread < v.spread => name -> v2
          case _ => name -> v
        }
      } else name -> v
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.median }
      .mkString("{", ",", "}")
    val qtimes = results.map { case (k, v) =>
      s""""$k":{"min":${v.min},"median":${v.median},"max":${v.max},"spread":${v.spread},"start_sec":${startSec.getOrElse(k, -1.0)},"digest":${v.digest}}"""
    }.mkString("{", ",", "}")
    val dispersed = results.collect { case (k, v) if v.spread > 2.0 => k }
    val es = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2.median).sum
    // Release batch-section residue before the streaming leg: the query
    // repeats leave localCheckpoint RDDs (the dd9/dd11/x14/x16/pl1/pl3
    // stage boundaries) and cached relations pinned in the block
    // manager, and that heap pressure lands inside the streaming window
    // (observed: AvailableNow runs decaying 99k→63k rec/s across the 5
    // repeats once the round-13 queries joined the batch set). The
    // streaming leg must measure the engine, not the batch section's
    // shadow. Safe: every checkpointed DataFrame is dead after its
    // timed runs, and the block-volume section builds fresh plans.
    if (only.isEmpty) {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(r => scala.util.Try(r.unpersist(blocking = true)))
      System.gc()
    }
    val streamingStart = offNow()
    var streamRps: Option[Double] = None
    val streaming =
      if (only.isEmpty)
        try {
          taskFailures.current = "streaming_legs"
          // RocksDB + changelog for the throughput leg ONLY (production
          // micro-batch cadence commits the per-batch delta, not a full
          // snapshot per partition per batch). The oracle rows above run
          // the provider their contract documents; this leg keeps its
          // historical RocksDB protocol.
          Application.withConfs(spark, Application.backendConfs("rocksdb")) {
            val a = streamingLeg(spark)
            streamRps = Some(a.median.rps)
            s""","streaming_availablenow":${a.json}"""
          }
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] streaming leg FAILED: $e")
            s""","streaming_availablenow":{"error":"${e.getClass.getSimpleName}"}"""
        }
      else ""
    // blocked-pairwise pair volumes at this SF (quadratic-creep canary),
    // plus the empirical 1×→10× scale curve: the same blocking measured
    // over a 10× perturbed self-union of each query's corpus, with the
    // measured pair-growth exponent (log₁₀ of the pair ratio — ~1 means
    // the scheme spreads with the corpus, ~2 means quadratic creep).
    val blockVolStart = offNow()
    val blockVol =
      if (only.isEmpty)
        try {
          taskFailures.current = "block_volume"
          def volJson(v: graft.operators.Dedup.BlockVolume): String =
            s"""{"n_blocks":${v.nBlocks},"max_block":${v.maxBlock},"total_pairs":${v.totalPairs}}"""
          val v1 = graft.queries.DedupQueries
            .blockedQueryVolumesAt(spark, sfDir, copies = 1)
          val vols = v1.toSeq.sortBy(_._1)
            .map { case (q, v) => "\"" + q + "\":" + volJson(v) }
            .mkString("{", ",", "}")
          val scaling =
            try {
              val v10 = graft.queries.DedupQueries
                .blockedQueryVolumesAt(spark, sfDir, copies = 10)
              // the THIRD curve point, headline realistic canaries only
              // (the 100× corpus is 100× the documents table; the other
              // canaries' shapes are pinned by their 1×/10× rules). Its
              // OWN Try: a 100×-only failure must degrade those two
              // entries to their 2-point form, not blind the whole
              // block_volume_scaling tripwire — and it must be LOUD.
              val v100 = scala.util.Try(graft.queries.DedupQueries
                  .realisticBlockedVolumes100(spark, sfDir))
                .recover { case e =>
                  System.err.println(s"[bench] 100x curve point FAILED " +
                    s"(falling back to 2-point entries): $e")
                  Map.empty[String, graft.operators.Dedup.BlockVolume]
                }.get
              def expOf(a: graft.operators.Dedup.BlockVolume,
                  b: graft.operators.Dedup.BlockVolume): Double =
                if (a.totalPairs > 0 && b.totalPairs > 0)
                  math.log(b.totalPairs.toDouble / a.totalPairs.toDouble) /
                    math.log(10.0)
                else -1.0
              val obj = v1.keys.toSeq.sorted.map { q =>
                val a = v1(q); val b = v10(q)
                val exp = expOf(a, b)
                v100.get(q) match {
                  case Some(c) =>
                    // decade-over-decade exponents + the 3-point health
                    // (the rule must hold on BOTH decades)
                    val exp2 = expOf(b, c)
                    val health = CanaryHealth.health3(q, a, b, c, exp, exp2)
                    s""""$q":{"x1":${volJson(a)},"x10":${volJson(b)},""" +
                      s""""x100":${volJson(c)},""" +
                      f""""pairs_growth_exponent":$exp%.3f,""" +
                      f""""pairs_growth_exponent_10x_100x":$exp2%.3f,""" +
                      s""""health":"$health"}"""
                  case None =>
                    val health = CanaryHealth.health(q, a, b, exp)
                    s""""$q":{"x1":${volJson(a)},"x10":${volJson(b)},""" +
                      f""""pairs_growth_exponent":$exp%.3f,""" +
                      s""""health":"$health"}"""
                }
              }.mkString("{", ",", "}")
              s""","block_volume_scaling":$obj"""
            } catch {
              case e: Throwable =>
                System.err.println(s"[bench] block volume scaling FAILED: $e")
                ""
            }
          s""","block_volume":$vols$scaling"""
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] block volume FAILED: $e")
            ""
        }
      else ""

    val calibEndStart = offNow()
    taskFailures.current = "calibration_end"
    val calibEnd = calibrate(spark)
    val loadEnd = loadavg()
    val drift = if (calibStart > 0) calibEnd / calibStart else -1.0
    val cores = Runtime.getRuntime.availableProcessors()
    // SYMMETRIC drift check: a calibration that got FASTER means the
    // start calibration itself ran under load — i.e. the batch queries
    // right after it were measured contaminated (the r7/r8/r9 artifacts
    // all showed drift 0.54-0.74 and stamped themselves clean under the
    // old slower-only check). The adaptive warm-up in calibrate()
    // already absorbs residual JIT, so symmetric 1.3x is a real signal.
    // Any individual query whose 3 runs spread beyond 2x flags the
    // artifact too — that is exactly the contaminated-cell signature an
    // end-of-run calibration can miss when the interference has decayed.
    val driftBad = drift > 1.3 || (drift > 0 && drift < 1.0 / 1.3)
    val contended = driftBad || loadStart.head > 1.0 || dispersed.nonEmpty
    if (contended)
      System.err.println(s"[bench] CONTENTION WARNING: calib drift " +
        f"$drift%.2fx (start ${calibStart}%.3fs, end ${calibEnd}%.3fs), " +
        s"loadavg start ${loadStart.head} on $cores cores, dispersed " +
        s"queries [${dispersed.mkString(",")}] — numbers in this " +
        "artifact are suspect; re-run on a quiet machine")
    if (nondeterministic.nonEmpty)
      System.err.println(s"[bench] digests disagree across runs of " +
        s"[${nondeterministic.mkString(",")}] (informational)")
    val fpt = firstPassTimes.map { case (k, v) =>
      s""""$k":{"min":${v.min},"median":${v.median},"max":${v.max}}"""
    }.mkString("{", ",", "}")
    def strs(xs: Iterable[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sentinel =
      s""","query_times":$qtimes,""" +
        s""""nondeterministic_queries":${strs(nondeterministic)},""" +
        s""""sentinel":{"loadavg_start":${loadStart.mkString("[", ",", "]")},""" +
        s""""loadavg_end":${loadEnd.mkString("[", ",", "]")},""" +
        s""""calib_start_sec":$calibStart,"calib_end_sec":$calibEnd,""" +
        s""""calib_drift":$drift,"machine_cores":$cores,""" +
        s""""dispersed_queries":${strs(dispersed)},""" +
        s""""remeasured_queries":${strs(remeasured)},""" +
        s""""first_pass_times":$fpt,""" +
        s""""run_order":${strs(runOrder)},""" +
        s""""remeasure_start_sec":${remeasureStartSec.map { case (k, v) =>
          "\"" + k + "\":" + v }.mkString("{", ",", "}")},""" +
        s""""section_start_sec":{"batch":0.0,"streaming":$streamingStart,""" +
        s""""block_volume":$blockVolStart,"calib_end":$calibEndStart},""" +
        s""""contention_warning":$contended}""" +
        s""","task_failures":${taskFailures.json}""" +
        s""","task_failures_injected":${taskFailures.injectedJson}"""

    // round-over-round carried-cell tripwire (isRegression): each cell's
    // median vs the previous artifact in the working tree. Emitted only
    // on full runs with a usable (unfiltered) baseline; baseline_warn
    // marks a contended baseline, whose ratios are advisory at best.
    val perfRegs = prevRecord match {
      case Some((prevMedians, prevWarn)) if only.isEmpty =>
        val regressed = results.collect {
          case (k, v) if prevMedians.get(k).exists(isRegression(_, v.median)) =>
            val p = prevMedians(k)
            f""""$k":{"prev":$p%.3f,"now":${v.median}%.3f,"ratio":${v.median / p}%.2f}"""
        }
        if (regressed.nonEmpty)
          System.err.println(s"[bench] PERF REGRESSION vs previous " +
            s"record: ${regressed.mkString("; ")}")
        s""","perf_regressions":{"baseline_warn":$prevWarn,""" +
          s""""regressed":${regressed.mkString("{", ",", "}")}}"""
      case _ => ""
    }

    val notes =
      if (contended) "CONTENTION WARNING: load/drift/dispersion detected - " +
        "treat every number here as suspect and re-run."
      else ""
    val filtered = if (only.isEmpty) "" else ""","filtered":true"""
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es$streaming$blockVol$sentinel$perfRegs$filtered,"sf":"$sfDir","notes":"$notes"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_result.json"), fullJson)
    println(compactLine(results.map { case (k, v) => k -> v.median }, total,
      errors.keys.toSeq, streamRps, filtered = only.nonEmpty,
      warn = contended, sfDir))
    spark.stop()
  }

  /** One bench cell: the (min, median, max) seconds of its 3 timed runs
    * and the digest ([[checksum]]) of its warm-up run. */
  private[graft] final case class Cell(min: Double, median: Double,
      max: Double, digest: Long) {
    def spread: Double = if (min > 0) max / min else 0.0
  }

  /** The compact stdout line (see the object doc for why ≤ 1600 chars):
    * total, warn flag, primary streaming rps, error COUNT (+ first few
    * names), and the slowest-10 query medians — NOT all queries; the
    * all-query line plus sbt's ~300-char trailer overflowed a 2000-char
    * stdout tail capture every round since r4. Stdout medians are
    * display-only (2 decimals); comparisons read bench_result.json. */
  private[graft] def compactLine(medians: Seq[(String, Double)],
      total: Double, errorNames: Seq[String], streamRps: Option[Double],
      filtered: Boolean, warn: Boolean, sfDir: String): String = {
    def short(v: Double): String = {
      val s = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      val t = s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      if (t.isEmpty || t == "-") "0" else t
    }
    val bySlowest = medians.sortBy(-_._2)
    val errShort =
      if (errorNames.isEmpty) s""","errors_n":0"""
      else s""","errors_n":${errorNames.size},"errors_first":${errorNames.take(5)
        .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val rpsShort = streamRps.map(r => s""","stream_rps":${r.toLong}""").getOrElse("")
    val filteredShort = if (filtered) ""","filtered":true""" else ""
    def line(n: Int): String = {
      val qsShort = bySlowest.take(n)
        .map { case (k, v) => "\"" + k + "\":" + short(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${short(total)},"unit":"sec","queries":$qsShort,"queries_run":${medians.size},"slowest_n":$n$errShort$rpsShort$filteredShort,"warn":$warn,"sf":"$sfDir"}"""
    }
    // trim loop, not a warning: the bound holds by construction even if
    // query names grow or a pathological run floods errors_first
    var nShow = math.min(10, bySlowest.size)
    var compact = line(nShow)
    while (compact.length > 1600 && nShow > 0) {
      nShow -= 1
      compact = line(nShow)
    }
    compact
  }
}
