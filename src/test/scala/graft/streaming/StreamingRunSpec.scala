package graft.streaming

import graft.SparkTestBase
import graft.streaming.StreamingRun.Protocol
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The driver-visible streaming oracle row (w1_streaming) must actually
  * execute the STATEFUL streaming path — not silently fall back to a
  * batch aggregate — and must agree with the batch w1 plan row-for-row. */
class StreamingRunSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("w1_streaming executes StateStoreSaveExec over a file streaming source") {
    var plan = ""
    val out = StreamingRun.drainComplete(spark,
      StreamingRun.eventsStream(spark, sfDir)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value")),
      inspect = q => plan = q
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString)
    assert(plan.contains("StateStoreSave"), plan)
    assert(plan.contains("FileScan parquet"), plan)
    assert(out.count() > 0)
  }

  test("w9_streaming_sessions executes the session-window state path") {
    var plan = ""
    val out = StreamingRun.drainComplete(spark,
      StreamingRun.eventsStream(spark, sfDir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value")),
      inspect = q => plan = q
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString)
    assert(plan.contains("SessionWindowStateStoreSave"), plan)
    assert(plan.contains("MergingSessions"), plan)
    // drains enable map-side session pre-merge (StreamingRun
    // .DrainConfs, r22): sessions merge once per input
    // partition BEFORE the keyed exchange and once after restore — two
    // MergingSessions execs, so the exchange carries pre-merged
    // sessions instead of every event
    assert("MergingSessions".r.findAllIn(plan).size >= 2, plan)
    assert(out.count() > 0)
  }

  test("w9_streaming_sessions equals the batch session_window aggregation exactly") {
    val streaming = graft.SparkEntry.queries("w9_streaming_sessions")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val batch = graft.Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(streaming == batch)
    assert(streaming.nonEmpty)
  }

  private def planOf(q: org.apache.spark.sql.streaming.StreamingQuery): String =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString

  test("w10_streaming_join executes StreamingSymmetricHashJoinExec and equals the batch join") {
    var plan = ""
    val streaming = StreamingRun.attributionJoin(spark, sfDir,
      inspect = q => plan = planOf(q))
    assert(plan.contains("StreamingSymmetricHashJoin"), plan)
    val got = streaming.collect().map(_.toSeq).toSet
    val e = graft.Tables.events(spark, sfDir)
    val a = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val b = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val want = a.join(b,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") > col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 12 HOURS"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("purchase_value"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("w11_streaming_dedup executes StreamingDeduplicateExec and equals batch DISTINCT") {
    var plan = ""
    val streaming = StreamingRun.distinctPairs(spark, sfDir,
      inspect = q => plan = planOf(q))
    assert(plan.contains("StreamingDeduplicate"), plan)
    val got = streaming.collect().map(_.toSeq).toSet
    val want = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("w12_streaming_operator executes FlatMapGroupsWithStateExec; final state equals the batch aggregate") {
    var plan = ""
    val streaming = StreamingRun.operatorRunningAgg(spark, sfDir,
      inspect = q => plan = planOf(q))
    assert(plan.contains("FlatMapGroupsWithState"), plan)
    val got = streaming.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // integer micro-unit state: the streaming fold and the batch sum
    // agree EXACTLY, whatever the arrival/partial order
    val want = graft.Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6)).cast("long")).as("sum_value_micros"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("w23 TWS restore: killed mid-protocol and restarted reproduces the single run, with timers fired from the RECOVERED registry") {
    var run2Batches = Seq.empty[Long]
    var plan = ""
    val restored = StreamingRun.indexOperatorTimerRestored(spark, sfDir,
        inspectRestored = q => {
          run2Batches = q.recentProgress.toSeq.map(_.batchId)
          plan = planOf(q)
        })
      .collect().map(_.toSeq).toSet
    assert(plan.contains("TransformWithState"), plan)
    val single = StreamingRun.indexOperatorTimerSingle(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(restored == single,
      s"TWS restore is output-visible; only-restored: " +
        s"${(restored -- single).take(3)}, only-single: ${(single -- restored).take(3)}")
    assert(restored.nonEmpty)
    assert(run2Batches.nonEmpty && run2Batches.min >= Protocol.Files - 1, s"$run2Batches")
    // The timer registry's recovery is LOAD-BEARING: find (user, dayEnd)
    // instants armed ONLY by run-1 elements (no accepted batch-4 element
    // re-arms them), past run 1's fire horizon (batch 3's timer pass
    // uses wm(data <= 2)) but within the final one — those markers can
    // only come from timers the restarted query recovered.
    val delayMs = Protocol.DelayMs
    val ev = graft.Tables.events(spark, sfDir)
      .withColumn("b", StreamingRun.watermarkBatchIndex)
      .select(col("user_id"), col("b"),
        expr("unix_millis(ts)").as("ts_ms"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
    val maxTsUpTo = (k: Long) => ev.filter(_._2 <= k).map(_._3).max
    val lateWm = (b: Long) =>
      if (b < 2) Long.MinValue else maxTsUpTo(b - 2) - delayMs
    val accepted = ev.filter { case (_, b, ts) => ts > lateWm(b) }
    val wendOf = (ts: Long) => (ts / 86400000L + 1L) * 86400000L
    val run1Horizon = maxTsUpTo(Protocol.Files - 3) - delayMs
    val finalHorizon = maxTsUpTo(Protocol.Files - 1) - delayMs
    val run2Armed = accepted.filter(_._2 == Protocol.Files - 1)
      .map { case (u, _, ts) => (u, wendOf(ts)) }.toSet
    val recoveredOnly = accepted
      .map { case (u, _, ts) => (u, wendOf(ts)) }
      .filter { case (u, w) =>
        w > run1Horizon && w <= finalHorizon && !run2Armed((u, w)) }
      .toSet
    assert(recoveredOnly.nonEmpty,
      "protocol geometry degenerate: no timer is armed only in run 1")
    val timerRows = restored.collect {
      case Seq(u: Long, "timer", a: Long, _) => (u, a) }.toSet
    assert(recoveredOnly.subsetOf(timerRows),
      s"recovered-registry timers missing from output: " +
        s"${(recoveredOnly -- timerRows).take(3)}")
  }

  test("w25 emission latency: four ordered non-negative percentile rows, bounded by the protocol's full horizon span") {
    val rows = StreamingRun.emissionLatency(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("p50", "p90", "p99", "max"), rows)
    assert(rows("p50") >= 0, rows)
    assert(rows("p50") <= rows("p90") && rows("p90") <= rows("p99") &&
      rows("p99") <= rows("max"), rows)
    // no emission can wait longer than the whole event-time span of
    // the table plus the allowed-lateness delay
    val span = graft.Tables.events(spark, sfDir)
      .agg(max(expr("unix_millis(ts)")) - min(expr("unix_millis(ts)")))
      .collect()(0).getLong(0)
    assert(rows("max") <= span + Protocol.DelayMs, s"$rows vs span $span")
  }

  test("w24 mid-batch task failure: the injected fault is retried, output equals the clean run, and the ledger books it as INJECTED") {
    val tracker = new graft.Bench.TaskFailureTracker
    tracker.current = "w24_exactly_once_task_failure"
    spark.sparkContext.addSparkListener(tracker)
    try {
      val faulted = StreamingRun
        .tumblingDailyWatermarkedFaulted(spark, sfDir)
        .collect().map(_.toSeq).toSet
      val clean = StreamingRun.tumblingDailyWatermarked(spark, sfDir)
        .collect().map(_.toSeq).toSet
      assert(faulted == clean,
        s"task retry is output-visible; only-faulted: " +
          s"${(faulted -- clean).take(3)}, only-clean: ${(clean -- faulted).take(3)}")
      assert(faulted.nonEmpty)
      // listener delivery is async — poll for the injected entry
      val marker = classOf[InjectedTaskFault].getName
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!tracker.injectedJson.contains(marker) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(tracker.injectedJson.contains(marker) &&
        tracker.injectedJson.contains("w24_exactly_once_task_failure"),
        s"injected ledger missing the fault: ${tracker.injectedJson}")
      assert(tracker.json == "{}",
        s"the injected fault leaked into the UNEXPECTED ledger " +
          s"(clean-record bar broken): ${tracker.json}")
    } finally spark.sparkContext.removeSparkListener(tracker)
  }

  test("w26 restore composed with mid-batch retry: output equals the clean run; the fault fires in the RECOVERED run and books as INJECTED") {
    val tracker = new graft.Bench.TaskFailureTracker
    tracker.current = "w26_exactly_once_restore_retry"
    spark.sparkContext.addSparkListener(tracker)
    try {
      var run2Batches = Seq.empty[Long]
      val faulted = StreamingRun
        .tumblingDailyWatermarkedRestoredFaulted(spark, sfDir,
          inspectRestored = q =>
            run2Batches = q.recentProgress.toSeq.map(_.batchId))
        .collect().map(_.toSeq).toSet
      val clean = StreamingRun.tumblingDailyWatermarked(spark, sfDir)
        .collect().map(_.toSeq).toSet
      assert(faulted == clean,
        s"restore+retry is output-visible; only-faulted: " +
          s"${(faulted -- clean).take(3)}, only-clean: ${(clean -- faulted).take(3)}")
      assert(faulted.nonEmpty)
      // the restart resumed (no early batch re-ran) — so the fault,
      // which exists only in run 2's plan, fired inside the RECOVERED
      // query, against recovered state and the recovered sink manifest
      assert(run2Batches.nonEmpty && run2Batches.min >= Protocol.Files - 1, s"$run2Batches")
      val marker = classOf[InjectedTaskFault].getName
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!tracker.injectedJson.contains(marker) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(tracker.injectedJson.contains(marker) &&
        tracker.injectedJson.contains("w26_exactly_once_restore_retry"),
        s"injected ledger missing the fault: ${tracker.injectedJson}")
      assert(tracker.json == "{}",
        s"the injected fault leaked into the UNEXPECTED ledger: ${tracker.json}")
    } finally spark.sparkContext.removeSparkListener(tracker)
  }

  test("w13_streaming_index_operator executes TransformWithStateExec; final state equals the batch aggregate exactly") {
    var plan = ""
    val prevProvider = spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass")
    val streaming = StreamingRun.indexOperatorRunningAgg(spark, sfDir,
      inspect = q => plan = planOf(q))
    assert(plan.contains("TransformWithState"), plan)
    // the provider override must not leak into the session
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      == prevProvider)
    val got = streaming.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = graft.Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // integer-only state: exact equality, no float tolerance needed
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("w14_streaming_ingest_gate runs the stateful agg over stream-static joins and equals batch dd14 exactly") {
    var plan = ""
    val batch = graft.queries.DedupQueries.incrBatchOf(
      StreamingRun.tableStream(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")))
    val streaming = StreamingRun.ingestGate(spark, batch,
      graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
      threshold = 0.5, inspect = q => plan = planOf(q))
    // the verdict aggregation is stateful streaming state, the batch
    // docs arrive through a file streaming source, and the prior joins
    // in statically (a plain non-streaming join inside the
    // micro-batch — NO stream-stream symmetric join state)
    assert(plan.contains("StateStoreSave"), plan)
    assert(plan.contains("FileScan parquet"), plan)
    assert(!plan.contains("StreamingSymmetricHashJoin"), plan)
    val got = streaming.collect().map(_.toSeq).toSet
    val want = graft.operators.Dedup.incrementalMinHash(
      graft.queries.DedupQueries.incrBatchOf(
        graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))),
      graft.Tables.documents(spark, sfDir), "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(_.toSeq).toSet
    assert(got == want)   // bit-for-bit: same jaccards, same argmax picks
    assert(got.nonEmpty)
  }

  test("ingestGate agrees with batch incrementalMinHash on null-text, exact-dup, near-dup and short docs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val priorRows = Seq(
      (1L, "a b c d e f g h"),
      (2L, "p q r s t u v w"))
    val batchRows = Seq(
      (10L, "a b c d e f g h"),        // exact re-crawl → keep=false, J=1
      (11L, "a b c d e f g zz"),       // near-dup of 1
      (12L, "totally novel words here"),// novel → keep=true
      (13L, "x y"),                     // too short for k=3 → keep=true
      (14L, null.asInstanceOf[String]))// null text → keep=true
    val prior = priorRows.toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    mem.addData(batchRows: _*)
    val streaming = StreamingRun.ingestGate(spark,
      mem.toDF.toDF("doc_id", "text"), prior,
      "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
      threshold = 0.5)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Dedup.incrementalMinHash(
      batchRows.toDF("doc_id", "text"), prior, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(_.toSeq).toSet
    assert(streaming == batch, s"streaming=$streaming\nbatch=$batch")
    assert(streaming.size == 5)
    val keepById = streaming.map(r => r.head -> r(1)).toMap
    assert(keepById(10L) == false && keepById(12L) == true &&
      keepById(13L) == true && keepById(14L) == true)
  }

  test("watermarkBatchIndex and its SQL twin Protocol.batchIndexSql give every event the same staged batch") {
    val ev = graft.Tables.events(spark, sfDir).select(col("event_id"))
    ev.createOrReplaceTempView("graft_batch_index_parity")
    try {
      def byId(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val scala = byId(ev.select(col("event_id"), StreamingRun.watermarkBatchIndex))
      val sql = byId(spark.sql(s"SELECT event_id, ${Protocol.batchIndexSql} " +
        "FROM graft_batch_index_parity"))
      assert(scala.size == ev.count(), "event_id is not a key")
      val differ = scala.keySet.filter(id => !sql.get(id).contains(scala(id)))
      assert(sql.size == scala.size && differ.isEmpty,
        s"${differ.size} events differ, e.g. " +
          differ.take(3).map(id => s"$id: ${scala(id)} vs ${sql.get(id)}").mkString(", "))
      // every staged file is reached, and both straggler sets exist
      assert(scala.values.toSet == (0 until Protocol.Files).toSet)
      assert(scala.exists { case (id, _) => id % Protocol.BumpMod == 0 })
      assert(scala.exists { case (id, b) =>
        id % Protocol.DropMod == 0 && id % Protocol.BumpMod != 0 && b >= 3 })
    } finally spark.catalog.dropTempView("graft_batch_index_parity")
  }

  test("w15 watermarked append drain: StateStoreSaveExec evicts/emits/drops exactly as the batch replay predicts") {
    import org.apache.spark.sql.expressions.Window
    var plan = ""
    var dropped = 0L
    val got = StreamingRun.tumblingDailyWatermarked(spark, sfDir,
        inspect = q => {
          plan = planOf(q)
          dropped = q.recentProgress.toSeq
            .flatMap(_.stateOperators.toSeq)
            .map(_.numRowsDroppedByWatermark).sum
        })
      .collect().map(_.toSeq).toSet
    assert(plan.contains("StateStoreSave"), plan)
    // the beyond-lateness straggler set must actually be dropped by the
    // exec (not silently aggregated) — the progress metric is the proof
    assert(dropped > 0L, "expected numRowsDroppedByWatermark > 0")
    // batch replay of the exact semantics (SPARK-40925 two-value
    // watermark): late-event filtering in batch k uses the watermark
    // from data through k-2, eviction/emission through k-1; a window
    // appears iff its end <= the final eviction watermark
    val delayMs = Protocol.DelayMs
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("b", StreamingRun.watermarkBatchIndex)
      .withColumn("ts_ms", floor(unix_micros(col("ts")) / 1000))
      .withColumn("wend_ms",
        (floor(col("ts_ms") / 86400000L) + 1) * 86400000L)
    val wm = ev.groupBy(col("b")).agg(max(col("ts_ms")).as("mx"))
      .withColumn("late_wm_ms",
        max(col("mx")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -2)) - delayMs)
      .select(col("b"), col("late_wm_ms"))
    val finalWm = ev.agg(max(col("ts_ms"))).collect()(0).getLong(0) - delayMs
    val want = ev.join(wm, Seq("b"))
      .filter(col("late_wm_ms").isNull || col("wend_ms") > col("late_wm_ms"))
      .filter(col("wend_ms") <= finalWm)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * lit(1e6)).cast("long")).as("sum_value_micros"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_micros"))
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"got ${got.size} rows, want ${want.size};\nonly-got: ${got -- want}\nonly-want: ${want -- got}")
    assert(got.nonEmpty)
    // the semantics were actually exercised: the full batch aggregation
    // differs (late drops + trailing-window holdback)
    val full = graft.Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * lit(1e6)).cast("long")).as("sum_value_micros"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_micros"))
      .collect().map(_.toSeq).toSet
    assert(got != full, "watermark run must differ from the full batch aggregate")
  }

  test("w16 watermarked session drain: SessionWindowStateStoreSave merges/evicts/drops exactly as the batch replay predicts") {
    import org.apache.spark.sql.expressions.Window
    var plan = ""
    var dropped = 0L
    val got = StreamingRun.sessionWatermarked(spark, sfDir,
        inspect = q => {
          plan = planOf(q)
          dropped = q.recentProgress.toSeq
            .flatMap(_.stateOperators.toSeq)
            .map(_.numRowsDroppedByWatermark).sum
        })
      .collect().map(_.toSeq).toSet
    // the session-merging state exec, not the tumbling one
    assert(plan.contains("SessionWindowStateStoreSave"), plan)
    // the beyond-lateness straggler set must actually drop at the exec
    assert(dropped > 0L, "expected numRowsDroppedByWatermark > 0")
    // flat replay (see sessionWatermarked's scaladoc for why it is
    // exact under this geometry): accepted = rows whose candidate
    // session end survives the LAGGED late-event watermark; sessions =
    // gaps-and-islands over accepted rows; emitted = islands whose end
    // the final eviction watermark passed
    val delayMs = Protocol.DelayMs
    val gapUs = Protocol.GapUs
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("b", StreamingRun.watermarkBatchIndex)
      .withColumn("ts_us", unix_micros(col("ts")))
    val wm = ev.groupBy(col("b"))
      .agg(max(floor(col("ts_us") / 1000)).as("mx_ms"))
      .withColumn("late_wm_us",
        (max(col("mx_ms")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -2)) - delayMs) * 1000)
      .select(col("b"), col("late_wm_us"))
    val finWmUs = (ev.agg(max(floor(col("ts_us") / 1000)))
      .collect()(0).getLong(0) - delayMs) * 1000
    val userW = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val want = ev.join(wm, Seq("b"))
      .filter(col("late_wm_us").isNull ||
        col("ts_us") + gapUs > col("late_wm_us"))
      .withColumn("nf",
        when(lag(col("ts_us"), 1).over(userW).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(userW) >= gapUs, 1)
          .otherwise(0))
      .withColumn("island", sum(col("nf")).over(
        userW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("ts_us")).as("start_us"),
        (max(col("ts_us")) + gapUs).as("end_us"),
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6)).cast("long"))
          .as("sum_value_micros"))
      .filter(col("end_us") <= finWmUs)
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"), col("sum_value_micros"))
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"got ${got.size} rows, want ${want.size};\nonly-got: ${(got -- want).take(5)}\nonly-want: ${(want -- got).take(5)}")
    assert(got.nonEmpty)
    // semantics actually exercised: differs from the full batch sessions
    // (late drops + trailing open sessions held back)
    val full = graft.SparkEntry.queries("w9_streaming_sessions")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(got.size < full.size,
      "watermark run must hold back/drop relative to the complete-mode sessions")
  }

  test("w17 watermarked stream-stream interval join: symmetric join state drops/evicts/emits exactly as the batch replay predicts") {
    import org.apache.spark.sql.expressions.Window
    var plan = ""
    var dropped = 0L
    var removed = 0L
    var traceWms = Seq.empty[String]
    val got = StreamingRun.intervalJoinWatermarked(spark, sfDir,
        inspect = q => {
          plan = planOf(q)
          val ops = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
          dropped = ops.map(_.numRowsDroppedByWatermark).sum
          removed = ops.map(_.numRowsRemoved).sum
          traceWms = q.recentProgress.toSeq
            .flatMap(p => Option(p.eventTime.get("watermark")))
        })
      .collect().map(_.toSeq).toSet
    assert(plan.contains("StreamingSymmetricHashJoin"), plan)
    // the exec must BOTH drop the beyond-lateness stragglers and evict
    // join state as the watermark advances (eviction is what releases
    // the null-extended rows)
    assert(dropped > 0L, "expected numRowsDroppedByWatermark > 0")
    assert(removed > 0L, "expected join state eviction (numRowsRemoved > 0)")
    // flat replay: the watermark is PER-SIDE (the event-type filter
    // pushes below each watermark node), so the global value is the MIN
    // of the view-side and purchase-side running maxes; accepted = rows
    // surviving the LAGGED global watermark; matched = accepted views x
    // accepted purchases under the interval condition; null-extended =
    // accepted views with no accepted match whose horizon (ts + 12h)
    // the FINAL eviction watermark passed
    val delayMs = Protocol.DelayMs
    val winUs = Protocol.WindowUs
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .withColumn("b", StreamingRun.watermarkBatchIndex)
      .withColumn("ts_us", unix_micros(col("ts")))
    val wWin = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -2)
    val vrun = max(col("vmx")).over(wWin)
    val prun = max(col("pmx")).over(wWin)
    val wm = ev.groupBy(col("b"))
      .agg(max(when(col("event_type") === "view",
          floor(col("ts_us") / 1000))).as("vmx"),
        max(when(col("event_type") === "purchase",
          floor(col("ts_us") / 1000))).as("pmx"))
      .withColumn("late_wm_us",
        when(vrun.isNull || prun.isNull, lit(null))
          .otherwise((least(vrun, prun) - delayMs) * 1000))
      .select(col("b"), col("late_wm_us"))
    val mm = ev.agg(
      max(when(col("event_type") === "view", floor(col("ts_us") / 1000))),
      max(when(col("event_type") === "purchase", floor(col("ts_us") / 1000))))
      .collect()(0)
    val finWmUs = (math.min(mm.getLong(0), mm.getLong(1)) - delayMs) * 1000
    val acc = ev.join(wm, Seq("b"))
      .filter(col("late_wm_us").isNull || col("ts_us") > col("late_wm_us"))
    val v = acc.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"), col("ts_us").as("v_us"))
    val p = acc.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("ts_us").as("p_us"))
    val pairs = v.join(p,
      col("user_id") === col("p_user_id") &&
        col("p_us") > col("v_us") && col("p_us") <= col("v_us") + winUs,
      "left_outer")
    val want = pairs
      .filter(col("purchase_id").isNotNull ||
        col("v_us") + winUs < finWmUs)
      .select(col("view_id"), col("user_id"), col("view_ts"),
        col("purchase_id"), col("purchase_ts"))
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"got ${got.size} rows, want ${want.size};\nonly-got: ${(got -- want).take(5)}\nonly-want: ${(want -- got).take(5)}")
    assert(got.nonEmpty)
    assert(got.exists(_(3) == null),
      "expected null-extended rows (state eviction output)")
    // trailing holdback exercised: some accepted unmatched views never
    // evict (their horizon is past the final watermark)
    val heldBack = pairs
      .filter(col("purchase_id").isNull && col("v_us") + winUs >= finWmUs)
      .count()
    assert(heldBack > 0L, "geometry should hold back some trailing views")
    // the PROGRESS-TRACE pin of withPerSideWatermark's contract: the
    // executed global watermark is min(side trackers) — its final value
    // must be min(view max, purchase max) − delay, NOT the all-rows max
    // − delay a single shared tracker would produce
    val lastWmMs = traceWms.map(w =>
      java.time.Instant.parse(w).toEpochMilli).max
    assert(lastWmMs == finWmUs / 1000,
      s"executed final watermark ${lastWmMs}ms != per-side min " +
        s"${finWmUs / 1000}ms — the per-side tracker contract broke")
    val sharedTrackerWmMs = math.max(mm.getLong(0), mm.getLong(1)) - delayMs
    assert(lastWmMs != sharedTrackerWmMs,
      "final watermark equals the shared-tracker value — the sides' " +
        "maxes coincide and this geometry cannot distinguish per-side " +
        "from shared; pick different straggler mods")
  }

  test("k9 queryable state: the statestore reader returns the live aggregation buffers, equal to the batch recompute") {
    var plan = ""
    val got = StreamingRun.queryableState(spark, sfDir,
        inspect = q => plan = planOf(q))
      .collect().map(_.toSeq).toSet
    // the state being read came from the real stateful exec
    assert(plan.contains("StateStoreSave"), plan)
    val want = graft.Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * lit(1e6)).cast("long"))
          .as("sum_value_micros"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_micros"))
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"state != recompute; only-got: ${(got -- want).take(3)}, " +
        s"only-want: ${(want -- got).take(3)}")
    assert(got.nonEmpty)
  }

  test("k10: held state and w15's emitted output partition the accepted windows exactly") {
    import org.apache.spark.sql.expressions.Window
    val emitted = graft.SparkEntry.queries("w15_streaming_watermark")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val held = StreamingRun.watermarkHeldState(spark, sfDir)
      .collect().map(_.toSeq).toSet
    // same output shape -> direct set algebra; the two must be disjoint
    assert(emitted.nonEmpty && held.nonEmpty)
    assert((emitted & held).isEmpty,
      s"a window appears both emitted and held: ${(emitted & held).take(3)}")
    // their union = the aggregate over ALL accepted rows (the w15
    // replay with no final-horizon filter): nothing accepted is lost,
    // nothing dropped sneaks into state
    val delayMs = Protocol.DelayMs
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("b", StreamingRun.watermarkBatchIndex)
      .withColumn("ts_ms", floor(unix_micros(col("ts")) / 1000))
      .withColumn("wend_ms",
        (floor(col("ts_ms") / 86400000L) + 1) * 86400000L)
    val wm = ev.groupBy(col("b")).agg(max(col("ts_ms")).as("mx"))
      .withColumn("late_wm_ms",
        max(col("mx")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -2)) - delayMs)
      .select(col("b"), col("late_wm_ms"))
    val accepted = ev.join(wm, Seq("b"))
      .filter(col("late_wm_ms").isNull || col("wend_ms") > col("late_wm_ms"))
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * lit(1e6)).cast("long"))
          .as("sum_value_micros"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_micros"))
      .collect().map(_.toSeq).toSet
    assert((emitted | held) == accepted,
      s"missing: ${(accepted -- emitted -- held).take(3)}; " +
        s"extra: ${((emitted | held) -- accepted).take(3)}")
  }

  test("stageEventsOrdered: in-place regeneration of the source table invalidates the staged cache") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // a private copy of the events table we can mutate
    val dir = Files.createTempDirectory("graft-fp-test")
    val ev = dir.resolve("events.parquet")
    Files.copy(Paths.get(sfDir, "events.parquet"), ev,
      StandardCopyOption.REPLACE_EXISTING)
    var staged = List.empty[String]
    try {
      val fp1 = StreamingRun.sourceFingerprint(dir.toString)
      val staged1 = StreamingRun.stageEventsOrdered(spark, dir.toString)
      staged ::= staged1
      // same content -> same fingerprint, same staged dir (cache hit)
      assert(StreamingRun.sourceFingerprint(dir.toString) == fp1)
      assert(StreamingRun.stageEventsOrdered(spark, dir.toString) == staged1)
      // "regenerate" the table in place (mtime moves, as any writer's
      // would) -> fingerprint changes -> a DIFFERENT staged dir is built,
      // so a stream can never replay stale files against a fresh oracle
      Files.setLastModifiedTime(ev,
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(ev).toMillis + 60000L))
      val fp2 = StreamingRun.sourceFingerprint(dir.toString)
      assert(fp2 != fp1)
      val staged2 = StreamingRun.stageEventsOrdered(spark, dir.toString)
      staged ::= staged2
      assert(staged2 != staged1,
        s"stale staged dir adopted after source regeneration: $staged1")
    } finally {
      staged.foreach(d => StreamingRun.deleteTree(Paths.get(d)))
      StreamingRun.deleteTree(dir)
    }
  }

  test("stage: re-staging a regenerated source deletes its superseded root, and no other source's") {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    // two private copies of the events table: A is regenerated, B is not
    def copy(): Path = {
      val dir = Files.createTempDirectory("graft-fp-test")
      Files.copy(Paths.get(sfDir, "events.parquet"), dir.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      dir
    }
    val dirs = List(copy(), copy())
    val Seq(a, b) = dirs.map(_.toString)
    def stage(dir: String): Path =
      Paths.get(StreamingRun.stageEventsOrdered(spark, dir))
    var staged = List.empty[Path]
    try {
      val a1 = stage(a)
      val b1 = stage(b)
      staged = List(a1, b1)
      val ev = Paths.get(a, "events.parquet")
      Files.setLastModifiedTime(ev, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(ev).toMillis + 60000L))
      val a2 = stage(a)
      staged ::= a2
      assert(a2 != a1)
      assert(Files.exists(a2.resolve("_STAGED")))
      assert(!Files.exists(a1), s"superseded root survived: $a1")
      assert(Files.exists(b1.resolve("_STAGED")), s"another source's root was reaped: $b1")
    } finally {
      staged.foreach(StreamingRun.deleteTree)
      dirs.foreach(StreamingRun.deleteTree)
    }
  }

  test("w18 restore: a query killed mid-protocol and restarted from its checkpoint reproduces w15's single-run output") {
    var run2Batches = Seq.empty[Long]
    var run2Evicted = 0L
    val restored = StreamingRun.tumblingDailyWatermarkedRestored(spark, sfDir,
        inspectRestored = q => {
          run2Batches = q.recentProgress.toSeq.map(_.batchId)
          // in append mode an emitted window IS an evicted state row, and
          // the file sink does not report numOutputRows — count evictions
          run2Evicted = q.recentProgress.toSeq
            .flatMap(_.stateOperators.toSeq).map(_.numRowsRemoved).sum
        })
      .collect().map(_.toSeq).toSet
    val single = StreamingRun.tumblingDailyWatermarked(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(restored == single,
      s"restore is output-visible; only-restored: ${(restored -- single).take(3)}, " +
        s"only-single: ${(single -- restored).take(3)}")
    assert(restored.nonEmpty)
    // the second query provably RESUMED (no batch re-ran)...
    assert(run2Batches.nonEmpty && run2Batches.min >= Protocol.Files - 1, s"$run2Batches")
    // ...and emission is split across the runs: run 2 evicted (emitted)
    // from RECOVERED state, but not everything (run 1 emitted its prefix)
    assert(run2Evicted > 0 && run2Evicted < restored.size,
      s"run 2 evicted $run2Evicted of ${restored.size} — the restart " +
        "point did not split emissions (protocol degenerated)")
  }

  test("k11 time travel: the state at batch 2 equals the prefix replay (accepted rows, eviction horizon of batch 2)") {
    import org.apache.spark.sql.expressions.Window
    val got = StreamingRun.stateTimeTravel(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val delayMs = Protocol.DelayMs
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("b", StreamingRun.watermarkBatchIndex)
      .withColumn("ts_ms", floor(unix_micros(col("ts")) / 1000))
      .withColumn("wend_ms",
        (floor(col("ts_ms") / 86400000L) + 1) * 86400000L)
    val wm = ev.groupBy(col("b")).agg(max(col("ts_ms")).as("mx"))
      .withColumn("late_wm_ms",
        max(col("mx")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -2)) - delayMs)
      .select(col("b"), col("late_wm_ms"))
    val evictMs = ev.filter(col("b") <= Protocol.TimeTravelBatch - 1)
      .agg(max(col("ts_ms"))).collect()(0).getLong(0) - delayMs
    val want = ev.join(wm, Seq("b"))
      .filter(col("b") <= Protocol.TimeTravelBatch)
      .filter(col("late_wm_ms").isNull || col("wend_ms") > col("late_wm_ms"))
      .filter(col("wend_ms") > evictMs)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * lit(1e6)).cast("long"))
          .as("sum_value_micros"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_micros"))
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"state@2 != prefix replay; only-got: ${(got -- want).take(3)}, " +
        s"only-want: ${(want -- got).take(3)}")
    assert(got.nonEmpty)
    // a mid-protocol version is a STRICT subset of neither k10's final
    // held state nor the full accepted set — it must differ from the
    // final version (time travel reads history, not the head)
    val finalHeld = StreamingRun.watermarkHeldState(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(got != finalHeld,
      "state@2 equals the final state — time travel read the head")
  }

  test("w19 within-watermark dedup: the bounded-state exec suppresses covered retransmissions and re-emits expired ones") {
    var plan = ""
    var removed = 0L
    val got = StreamingRun.dedupWithinWatermark(spark, sfDir,
        inspect = q => {
          plan = planOf(q)
          removed = q.recentProgress.toSeq
            .flatMap(_.stateOperators.toSeq).map(_.numRowsRemoved).sum
        })
      .collect().map(_.toSeq).toSet
    // the BOUNDED-state exec, not w11's unbounded StreamingDeduplicate
    assert(plan.contains("StreamingDeduplicateWithinWatermark"), plan)
    // state eviction actually happened (the whole point of the variant)
    assert(removed > 0L, "expected dedup state eviction (numRowsRemoved > 0)")
    val base = graft.Tables.events(spark, sfDir).count()
    // every original emits exactly once, and SOME far retransmissions
    // re-emitted (the honest half of the within-watermark guarantee) —
    // while near retransmissions were all suppressed (emitted keys with
    // two rows must carry the +5d timestamp, never the +1d one)
    assert(got.size > base.toInt,
      s"no re-emissions: ${got.size} vs $base originals")
    val perKey = got.toSeq.groupBy(_.head)
    val reEmitted = perKey.filter(_._2.size > 1)
    assert(reEmitted.nonEmpty)
    assert(perKey.values.forall(_.size <= 2))
    reEmitted.foreach { case (k, rows) =>
      val tss = rows.map(_(1).asInstanceOf[java.sql.Timestamp].getTime).sorted
      assert(tss(1) - tss(0) == 5L * 86400000L,
        s"key $k re-emitted at ${tss(1) - tss(0)}ms gap — a +1d (covered) " +
          "retransmission leaked through the dedup horizon")
    }
  }

  test("pl10 executed plan: two chained stateful aggregations, prior index read from the materialized checkpoint") {
    var plan = ""
    val staged = StreamingRun.stageDocsOrdered(spark, sfDir)
    StreamingRun.curationPipeline(spark, staged,
      prior = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")),
      deriveBatch = docs => graft.queries.DedupQueries
        .incrBatchKeeping(docs, Seq("source", "arrival_ts")),
      gopherKeep = graft.operators.GopherRules.keep(col("text")),
      inspect = q => plan = planOf(q))
      .collect()
    // two StateStoreSave levels = the chained window aggregations
    assert("StateStoreSave".r.findAllIn(plan).size == 2, plan)
    // the prior's band index reaches the stream-static joins as a
    // materialized RDD scan, not a re-derivation per micro-batch: no
    // parquet scan of the documents table may appear inside the
    // executed streaming plan
    assert(!plan.contains("documents.parquet"), plan)
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"), plan)
  }

  test("k12 snapshot catalog: one row per committed epoch; the interior and final epochs tie to k11 and k10 exactly") {
    val cat = StreamingRun.snapshotCatalog(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // 5 data epochs + the trailing no-data eviction epoch, no gaps
    assert(cat.keySet == (0L to Protocol.Files).toSet, cat.keySet.toString)
    def summarize(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect()
      (rows.length.toLong,
        rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum)
    }
    // epoch 2 = k11's time-travel read, epoch 5 = k10's final held state
    val (k11, last) = (Protocol.TimeTravelBatch, Protocol.Files.toLong)
    assert(cat(k11) == summarize(
      StreamingRun.stateTimeTravel(spark, sfDir)),
      s"epoch $k11 ${cat(k11)} != k11 aggregate")
    assert(cat(last) == summarize(
      StreamingRun.watermarkHeldState(spark, sfDir)),
      s"epoch $last ${cat(last)} != k10 aggregate")
    // epoch 0 accepts everything in drop 0 and evicts nothing
    val b0 = graft.Tables.events(spark, sfDir)
      .withColumn("b", StreamingRun.watermarkBatchIndex)
      .filter(col("b") === 0).count()
    assert(cat(0L)._2 == b0, s"epoch 0 rows ${cat(0L)._2} != drop 0 $b0")
    // history is not the head: at least one interior epoch differs
    assert((0L until last).exists(k => cat(k) != cat(last)))
  }

  test("k13 change feed: folding the changelog reconstructs every snapshot (epochs 2 and 5 tie to k11 and k10 buffer-for-buffer)") {
    val feed = StreamingRun.stateChangeFeed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        (r.getTimestamp(2), r.getString(3)),
        if (r.isNullAt(4)) None else Some((r.getLong(4), r.getLong(5)))))
    assert(feed.nonEmpty)
    // deletes carry no value; updates always do
    assert(feed.forall { case (_, t, _, v) =>
      (t == "delete" && v.isEmpty) || (t == "update" && v.isDefined) })
    // snapshot-at-k = the changelog folded through batch k: updates
    // overwrite the buffer, deletes remove it — the store contract
    def foldThrough(k: Long) = {
      val m = scala.collection.mutable.Map[(java.sql.Timestamp, String), (Long, Long)]()
      // within a batch the exec puts during aggregation and removes at
      // eviction, so an arrive-and-evict-same-batch key must fold
      // update-then-delete
      feed.filter(_._1 <= k)
        .sortBy { case (b, t, _, _) => (b, if (t == "update") 0 else 1) }
        .foreach {
        case (_, "update", key, Some(v)) => m(key) = v
        case (_, "delete", key, _) => m.remove(key)
        case other => fail(s"unexpected change row: $other")
      }
      m.map { case ((w, e), (n, sm)) => Seq[Any](w, e, n, sm) }.toSet
    }
    val k11 = Protocol.TimeTravelBatch
    val atK11 = StreamingRun.stateTimeTravel(spark, sfDir)
      .collect().map(_.toSeq.toSeq.asInstanceOf[Seq[Any]]).toSet
    assert(foldThrough(k11) == atK11,
      s"fold(feed <= $k11) != snapshot@$k11; diff: ${(foldThrough(k11) -- atK11).take(3)}")
    val at5 = StreamingRun.watermarkHeldState(spark, sfDir)
      .collect().map(_.toSeq.toSeq.asInstanceOf[Seq[Any]]).toSet
    assert(foldThrough(Protocol.Files) == at5,
      s"fold(feed) != final snapshot; diff: ${(foldThrough(Protocol.Files) -- at5).take(3)}")
    // eviction is visible in the feed itself, not just its folds
    assert(feed.exists(_._2 == "delete"))
  }

  test("pl11 token budget: FlatMapGroupsWithStateExec admits exactly the per-source cumsum prefix, with state crossing micro-batches") {
    import org.apache.spark.sql.expressions.Window
    var plan = ""
    val got = StreamingRun.tokenBudgetAdmission(spark, sfDir,
        inspect = q => plan = planOf(q))
      .collect().map(_.toSeq).toSet
    assert(plan.contains("FlatMapGroupsWithState"), plan)
    val scored = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .as("n_tokens"),
        sum(graft.functions.TextFunctions.tokenCount(col("text")))
          .over(Window.partitionBy(col("source")).orderBy(col("doc_id")))
          .as("cum_tokens"))
    val want = scored.filter(col("cum_tokens") <= Protocol.Budget)
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"only-got: ${(got -- want).take(3)}, only-want: ${(want -- got).take(3)}")
    assert(got.nonEmpty)
    // the budget BINDS: every source also has rejected documents
    val perSource = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("all_docs"),
        sum((col("cum_tokens") <= Protocol.Budget).cast("long")).as("admitted"))
      .collect()
    assert(perSource.forall(r => r.getLong(2) < r.getLong(1)),
      "some source admitted every document — the budget never bound")
    // cross-batch state: some source's admissions span >= 2 staged
    // drops (ntile(Drops) over doc_id = the stageDocsOrdered assignment)
    val admittedDrops = scored
      .withColumn("drop",
        ntile(Protocol.Drops).over(Window.orderBy(col("doc_id"))) - 1)
      .filter(col("cum_tokens") <= Protocol.Budget)
      .groupBy(col("source"))
      .agg(countDistinct(col("drop")).as("n_drops"))
      .collect().map(_.getLong(1))
    assert(admittedDrops.exists(_ >= 2L),
      "every source's admissions fit one drop — no state crossed batches")
  }

  test("w22 session-state restore: the session query killed mid-protocol and restarted reproduces w16's single-run output, with merges from recovered state") {
    var run2Batches = Seq.empty[Long]
    var run2Evicted = 0L
    val restored = StreamingRun.sessionWatermarkedRestored(spark, sfDir,
        inspectRestored = q => {
          run2Batches = q.recentProgress.toSeq.map(_.batchId)
          run2Evicted = q.recentProgress.toSeq
            .flatMap(_.stateOperators.toSeq).map(_.numRowsRemoved).sum
        })
      .collect().map(_.toSeq).toSet
    val single = StreamingRun.sessionWatermarked(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(restored == single,
      s"session restore is output-visible; only-restored: " +
        s"${(restored -- single).take(3)}, only-single: ${(single -- restored).take(3)}")
    assert(restored.nonEmpty)
    assert(run2Batches.nonEmpty && run2Batches.min >= Protocol.Files - 1, s"$run2Batches")
    // emission split across the runs: run 2 evicted (emitted) sessions
    // from RECOVERED merge state, but run 1 emitted its prefix
    assert(run2Evicted > 0 && run2Evicted < restored.size,
      s"run 2 evicted $run2Evicted of ${restored.size} — the restart " +
        "point did not split session emissions")
  }

  test("pl13 ANN ingest: cell assignment is a projection (no join), the census runs through StateStoreSave, and equals the batch argmax") {
    import graft.functions.VectorFunctions.cosine
    import org.apache.spark.sql.expressions.Window
    var plan = ""
    val got = StreamingRun.ivfCellIngest(spark, sfDir,
        inspect = q => plan = planOf(q))
      .collect().map(_.toSeq).toSet
    assert(plan.contains("StateStoreSave"), plan)
    // assignment must be the broadcast-centroid fold, not a
    // centroid-join: an 8x row explosion through a join would show as
    // a BroadcastNestedLoopJoin/CartesianProduct here
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("BroadcastHashJoin"), plan)
    val cents = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < Protocol.Cells).select(col("vec_id").as("cell"),
        col("embedding").as("centroid"))
    val want = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .crossJoin(broadcast(cents))
      .withColumn("sim", cosine(col("embedding"), col("centroid")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("cell"))))
      .filter(col("rn") === 1)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_vec_ids"))
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"only-got: ${(got -- want).take(3)}, only-want: ${(want -- got).take(3)}")
    assert(got.nonEmpty)
  }

  test("pl15 ANN serve: the stream-built index serves the sim3 result exactly, through a broadcast probe join (no corpus-sized shuffle on the query side)") {
    val served = StreamingRun.ivfServeFromStream(spark, sfDir)
    val plan = served.queryExecution.executedPlan.toString
    // probe selection must ride a broadcast of the 8 centroids — a
    // SortMergeJoin/shuffle on the centroid side would be the wrong
    // 100 TB shape (the index side's single cell-keyed exchange is the
    // one shuffle this plan should have)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    val got = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val e = graft.Tables.embeddings(spark, sfDir)
    val want = graft.operators.Similarity.ivfTopK(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding",
        k = Protocol.K, nCells = Protocol.Cells, nProbe = Protocol.NProbe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got == want,
      s"serve-from-stream diverges from batch IVF; only-served: " +
        s"${(got -- want).take(3)}, only-batch: ${(want -- got).take(3)}")
    assert(got.nonEmpty)
  }

  test("w20 operator-state restore: pl11 killed before the last drop and restarted from its checkpoint reproduces the single-run admissions") {
    import org.apache.spark.sql.expressions.Window
    var run2Batches = Seq.empty[Long]
    val restored = StreamingRun.tokenBudgetAdmissionRestored(spark, sfDir,
        inspectRestored = q =>
          run2Batches = q.recentProgress.toSeq.map(_.batchId))
      .collect().map(_.toSeq).toSet
    val single = StreamingRun.tokenBudgetAdmission(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(restored == single,
      s"operator-state restore is output-visible; only-restored: " +
        s"${(restored -- single).take(3)}, only-single: ${(single -- restored).take(3)}")
    assert(restored.nonEmpty)
    // the second query provably RESUMED (no batch re-ran)
    assert(run2Batches.nonEmpty && run2Batches.min >= Protocol.Drops - 1, s"$run2Batches")
    // recovered state is LOAD-BEARING: some source's last-drop slice
    // would fit the budget on its own, so a restore that lost the
    // GroupState running totals would have re-admitted those docs —
    // restored == single proves the recovered totals gated them.
    val scored = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens"))
        .over(Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .withColumn("drop", ntile(Protocol.Drops).over(Window.orderBy(col("doc_id"))) - 1)
    val lastDrop = scored.filter(col("drop") === Protocol.Drops - 1)
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("standalone"),
        sum((col("cum") <= Protocol.Budget).cast("long")).as("admitted"))
      .collect()
    assert(lastDrop.exists(r => r.getLong(1) <= Protocol.Budget && r.getLong(2) == 0L),
      "no source had a budget-fitting last-drop slice that the " +
        "recovered totals rejected — a lossy restore would be invisible " +
        s"here: ${lastDrop.mkString(",")}")
  }

  test("tokenBudgetPlan: a SINGLE-source multi-drop feed folds each batch in doc_id order under the bounded-drop sort") {
    // The within-batch sort materializes one (source, micro-batch)
    // group on the executor — the documented bounded-drop assumption
    // (StreamingRun.tokenBudgetPlan). This feed makes the sort
    // load-bearing: rows are written SHUFFLED within every drop, so an
    // arrival-order fold would admit a different set.
    import java.nio.file.{Files, StandardCopyOption}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-w20-feed")
    val tmp = Files.createTempDirectory("graft-w20-feed-tmp")
    try {
      val drops = Seq(
        Seq((5L, "w w w"), (1L, "w w"), (3L, "w")),   // tokens 3,2,1
        Seq((8L, "w w w w"), (6L, "w w")),            // 4,2
        Seq((11L, "w w w"), (9L, "w")))               // 3,1
      drops.zipWithIndex.foreach { case (rows, k) =>
        rows.map { case (id, t) => (id, "src", t) }
          .toDF("doc_id", "source", "text")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator()
        var src: java.nio.file.Path = null
        while (part.hasNext) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".parquet")) src = p
        }
        val dst = dir.resolve(f"b$k%03d.parquet")
        Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1000000000000L + k * 60000L))
      }
      val got = StreamingRun.drainAppend(spark,
          StreamingRun.tokenBudgetPlan(spark, dir.toString, budget = 9L))
        .select(col("doc_id"), col("cum_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // doc_id-order fold: drop 0 admits 1(cum 2), 3(3), 5(6); drop 1
      // admits 6(8) and rejects 8 (12 > 9, source closes); drop 2
      // rejects everything on the recovered total
      assert(got == Set((1L, 2L), (3L, 3L), (5L, 6L), (6L, 8L)), s"$got")
    } finally {
      StreamingRun.deleteTree(tmp)
      StreamingRun.deleteTree(dir)
    }
  }

  test("every drain runs under the constant drain confs and leaves every session conf unchanged") {
    val drainKeys = Map("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition" -> "true")
    // a value no drain uses, so a leaked drain setting shows
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    var during = Map.empty[String, String]
    // one entry per drain primitive: memory sink, foreachBatch, parquet sink
    val drains: Seq[(String, () => Any)] = Seq(
      "drainComplete" -> (() => StreamingRun.drainComplete(spark,
        StreamingRun.eventsStream(spark, sfDir).groupBy(col("event_type")).count(),
        inspect = _ => during = drainKeys.map { case (k, _) => k -> spark.conf.get(k) })),
      "emissionLatency" -> (() => StreamingRun.emissionLatency(spark, sfDir)),
      "tumblingDailyWatermarkedRestored" ->
        (() => StreamingRun.tumblingDailyWatermarkedRestored(spark, sfDir)))
    try drains.foreach { case (name, drain) =>
      val before = spark.conf.getAll
      drain()
      assert(spark.conf.getAll == before, s"$name leaked a drain conf")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
    assert(during == drainKeys)
  }

  test("stage: a stale partial root (no _STAGED marker, a file missing) is cleared and republished at the same path") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft-stale-root")
    Files.copy(Paths.get(sfDir, "events.parquet"), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val staged = Paths.get(StreamingRun.stageEventsOrdered(spark, dir.toString))
    def layout = scala.util.Using.resource(Files.list(staged))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)
    val complete = layout
    try {
      assert(complete == (0 until Protocol.Files).map(StreamingRun.stagedFile).toSet + "_STAGED")
      // a builder that crashed mid-publish leaves exactly this: no marker
      Files.delete(staged.resolve("_STAGED"))
      Files.delete(staged.resolve(StreamingRun.stagedFile(2)))
      assert(StreamingRun.stageEventsOrdered(spark, dir.toString) ==
        staged.toString)
      assert(layout == complete)
      assert(scala.util.Using.resource(Files.list(staged.getParent))(_.iterator()
        .asScala.count(_.getFileName.toString.startsWith(
          s"${staged.getFileName}.build-"))) == 0, "a build dir was left behind")
    } finally {
      StreamingRun.deleteTree(staged)
      StreamingRun.deleteTree(dir)
    }
  }

  test("stage: every kind writes nonempty bNNN.parquet files in mtime order whose rows are the kind's source projection") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import java.nio.file.{Files, Paths}
    def files(staged: String, n: Int): Seq[java.nio.file.Path] = {
      val names = scala.util.Using.resource(Files.list(Paths.get(staged)))(
        _.iterator().asScala.map(_.getFileName.toString).toSet)
      assert(names == (0 until n).map(StreamingRun.stagedFile).toSet + "_STAGED", staged)
      (0 until n).map(k => Paths.get(staged, StreamingRun.stagedFile(k)))
    }
    def read(staged: String, n: Int): DataFrame = {
      val fs = files(staged, n)
      val mtimes = fs.map(Files.getLastModifiedTime(_).toMillis)
      assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b }, s"$staged: $mtimes")
      fs.foreach(f => assert(spark.read.parquet(f.toString).count() > 0, s"$f is empty"))
      spark.read.parquet(fs.map(_.toString): _*)
    }
    def sameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
      assert(got.count() == want.count(), what)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, what)
    }
    val ev = graft.Tables.events(spark, sfDir)

    val evCols = Seq("event_id", "ts", "user_id", "event_type", "value").map(col)
    sameRows(read(StreamingRun.stageEventsOrdered(spark, sfDir), Protocol.Files)
      .select(evCols: _*), ev.select(evCols: _*), "events")

    sameRows(read(StreamingRun.stageEmbOrdered(spark, sfDir), Protocol.Drops),
      graft.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
      "emb")

    val docs = read(StreamingRun.stageDocsOrdered(spark, sfDir), Protocol.Drops + 1)
    val sentinel = docs.filter(col("doc_id") === StreamingRun.CurationSentinelId)
    assert(sentinel.count() == 1)
    sameRows(docs.filter(col("doc_id") =!= StreamingRun.CurationSentinelId)
      .select(col("doc_id"), col("text"), col("source")),
      graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), col("source")), "docs")

    // dedup: every event once at its own ts, plus +1 day copies of the
    // near set (id % 7, not from the last file) and +5 day copies of the
    // far set (id % 11 but not % 7, from the first Files − 3 files)
    val dd = read(StreamingRun.stageDedupOrdered(spark, sfDir), Protocol.Files)
    val b0 = ev.select(col("event_id"), col("ts"),
      (ntile(Protocol.Files).over(Window.orderBy(col("event_id"))) - 1).as("b0"))
    import Protocol.{FarMod, NearMod}
    val near = b0.filter(col("event_id") % NearMod === 0 && col("b0") <= Protocol.Files - 2)
    val far = b0.filter(col("event_id") % FarMod === 0 && col("event_id") % NearMod =!= 0 &&
      col("b0") <= Protocol.Files - 4)
    assert(near.count() > 0 && far.count() > 0)
    sameRows(dd, ev.select(col("event_id"), col("ts"))
      .union(near.select(col("event_id"), col("ts") + expr("INTERVAL 1 DAY")))
      .union(far.select(col("event_id"), col("ts") + expr("INTERVAL 5 DAY"))), "dedup")
  }

  test("a drain that fails at start() leaves every session conf unchanged") {
    // complete mode on a plan with no aggregation (and on any file sink)
    // is rejected at start()
    val plan = StreamingRun.eventsStream(spark, sfDir).select(col("event_type"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-leak")
    val sinks: Seq[(String, StreamingRun.Sink)] = Seq(
      "memory" -> StreamingRun.memorySink("complete", "graft_leak_probe"),
      "parquet" -> (_.outputMode("complete").format("parquet")
        .option("path", tmp.resolve("out").toString)),
      "foreachBatch" -> (_.outputMode("complete")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }))
    def startFails(drain: => Any): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](drain)
      assert(e.getMessage.contains("[STREAMING_OUTPUT_MODE."), e.getMessage)
    }
    val before = spark.conf.getAll
    try {
      sinks.foreach { case (name, sink) =>
        startFails(StreamingRun.drive(spark, plan,
          tmp.resolve(name).toString, sink)(_ => ()))
        assert(spark.conf.getAll == before, s"the $name drain leaked a conf")
      }
      startFails(StreamingRun.drainComplete(spark, plan))
      assert(spark.conf.getAll == before, "drainComplete leaked a conf")
    } finally StreamingRun.deleteTree(tmp)
  }

  test("w1_streaming result equals the batch w1_tumbling plan exactly") {
    val streaming = graft.SparkEntry.queries("w1_streaming")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val batch = graft.SparkEntry.queries("w1_tumbling")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(streaming == batch)
    assert(streaming.nonEmpty)
  }
}
