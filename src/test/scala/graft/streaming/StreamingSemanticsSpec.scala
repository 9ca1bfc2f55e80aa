package graft.streaming

import java.sql.Timestamp
import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Unbounded (Structured Streaming) ports of the reference's window-
  * assigner semantics tests
  * (`/root/reference/arcon/src/stream/operator/window/assigner.rs:393-567`):
  * watermark-driven tumbling windows in append mode, late-data discard
  * with allowed lateness, and the epoch snapshot (TSS) export.
  */
/** JVM-wide row collector for foreachBatch assertions (local-mode
  * executors share the JVM). */
object RestoreProbe {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
  def reset(): Unit = buf.clear()
  def add(rows: Array[(Int, Long)]): Unit = rows.foreach(buf.add)
  def rows(): Set[(Int, Long)] = {
    val it = buf.iterator()
    val out = Set.newBuilder[(Int, Long)]
    while (it.hasNext) out += it.next()
    out.result()
  }
}

class StreamingSemanticsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  test("tumbling window emits on watermark passing end + lateness (assigner.rs discard/trigger tests)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "2 seconds")
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col("sv"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("tumble_out").start()
    try {
      // window [0,10): 3 elements
      input.addData((ts(1), 1L), (ts(5), 2L), (ts(9), 4L))
      q.processAllAvailable()
      // nothing emitted yet — watermark hasn't passed 10s + 2s lateness
      assert(spark.sql("SELECT * FROM tumble_out").count() == 0)
      // advance: element at 20s pushes watermark to 18s > 12s → emit [0,10)
      input.addData((ts(20), 8L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT ws, sv, n FROM tumble_out").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        Set((0L, 7L, 3L)))
      // late element at 3s — older than watermark - lateness → dropped
      input.addData((ts(3), 100L))
      input.addData((ts(40), 1L)) // flush window [20,30)
      q.processAllAvailable()
      val all = spark.sql("SELECT ws, sv, n FROM tumble_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // [0,10) NOT re-emitted with the late 100; [20,30) emitted with 8
      assert(all == Set((0L, 7L, 3L), (20L, 8L, 1L)))
    } finally q.stop()
  }

  test("streaming exact dedup emits first occurrence only, with bounded state (DSL dedup)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val ds = input.toDF().toDF("ts", "key").as[(Timestamp, Long)]
    val st = new graft.api.Stream(ds, graft.api.SourceConf[(Timestamp, Long)]())
      .withWatermark("ts", "5 seconds")
      .dedup("key")
    val q = st.toDF.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData((ts(1), 10L), (ts(2), 10L), (ts(3), 20L))
      q.processAllAvailable()
      // in-batch duplicate of 10 dropped
      assert(spark.sql("SELECT key FROM dedup_out").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L))
      // cross-batch duplicates (10, 20) dropped while inside the
      // watermark horizon; new key 30 passes
      input.addData((ts(4), 10L), (ts(5), 20L), (ts(6), 30L))
      q.processAllAvailable()
      assert(spark.sql("SELECT key FROM dedup_out").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L, 30L))
    } finally q.stop()
  }

  test("streaming dedup without a watermark is rejected (unbounded state, not a silent fallback)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val ds = input.toDF().toDF("ts", "key").as[(Timestamp, Long)]
    val st = new graft.api.Stream(ds, graft.api.SourceConf[(Timestamp, Long)]())
    val e = intercept[IllegalStateException] { st.dedup("key") }
    assert(e.getMessage.contains("watermark"))
  }

  test("allowed lateness admits in-horizon late data (assigner.rs late-arrival test)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "15 seconds") // generous lateness
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(sum(col("v")).as("sv"))
      .select(col("window.start").cast("long").as("ws"), col("sv"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      input.addData((ts(1), 1L), (ts(12), 2L))
      q.processAllAvailable()
      // late element at 5s: watermark is 12-15 < 0 → still admitted
      input.addData((ts(5), 10L))
      q.processAllAvailable()
      input.addData((ts(40), 1L)) // flush
      q.processAllAvailable()
      val rows = spark.sql("SELECT ws, sv FROM late_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rows(0L) == 11L) // 1 + late 10 both in [0,10)
    } finally q.stop()
  }

  test("overlapping sliding windows place elements in every covering window (assigner.rs window_overlapping)") {
    // Port of `window_overlapping` (assigner.rs:549-567): length 10,
    // slide 5 — an element belongs to TWO windows. Reference sends
    // events at t, t+6, t+6 and asserts the first emitted window holds
    // 3 elements and the second 2. Here: events at 10, 16, 16 →
    // [5,15) gets 1, [10,20) all 3, [15,25) the two at 16.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "2 seconds")
      .groupBy(window(col("ts"), "10 seconds", "5 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("overlap_out").start()
    try {
      input.addData((ts(10), 1L), (ts(16), 1L), (ts(16), 1L))
      input.addData((ts(40), 1L)) // flush: watermark 38 > 25 + lateness
      q.processAllAvailable()
      val rows = spark.sql("SELECT ws, n FROM overlap_out WHERE ws < 30")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rows == Map(5L -> 1L, 10L -> 3L, 15L -> 2L))
    } finally q.stop()
  }

  test("very long windows materialize exactly at their end boundary (assigner.rs window_very_long_windows_1/2)") {
    // Port of `window_very_long_windows_1` + `_2` (assigner.rs:500-548):
    // two 10000-second tumbling windows; a watermark ONE tick before the
    // second window's end (19999) materializes only the first, and a
    // watermark AT the end (20000) materializes both — the ms-conversion
    // drift those reference tests guard never lets the boundary slip.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10000 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("long_out").start()
    try {
      input.addData((ts(0), 1L))      // window [0, 10000)
      input.addData((ts(10001), 1L))  // window [10000, 20000)
      q.processAllAvailable()
      input.addData((ts(19999), 1L))  // watermark 19999: only [0,10000) closed
      q.processAllAvailable()
      assert(spark.sql("SELECT ws FROM long_out").collect()
        .map(_.getLong(0)).toSeq == Seq(0L))
      input.addData((ts(20000), 1L))  // watermark 20000 = second window's end
      q.processAllAvailable()
      val rows = spark.sql("SELECT ws, n FROM long_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rows == Map(0L -> 1L, 10000L -> 2L))
    } finally q.stop()
  }

  test("watermark fast-forward over empty ranges emits no empty windows (assigner.rs window_empty)") {
    // Port of `window_empty` (assigner.rs:568-584): advancing the
    // watermark across window ranges that received no data must emit
    // ZERO windows for them — windows exist only where elements landed,
    // never materialized empty by the clock.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "5 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("empty_out").start()
    try {
      input.addData((ts(1), 1L))
      q.processAllAvailable()
      // fast-forward: one element at 100 pushes the watermark across
      // 19 empty 5-second windows [5,10) … [95,100)
      input.addData((ts(100), 1L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT ws, n FROM empty_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rows == Map(0L -> 1L)) // nothing emitted for the empty ranges
    } finally q.stop()
  }

  test("stream-stream interval join: in-window matches emit; unmatched left emits null after horizon") {
    // the unbounded form of w6_interval_join: two watermarked streams,
    // equi-key + event-time range condition, left-outer so state
    // EVICTION is observable (the unmatched row can only emit once the
    // global watermark proves no future match is possible)
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    val impDf = imps.toDF().toDF("imp_ts", "ad")
      .withWatermark("imp_ts", "2 seconds")
    val clkDf = clicks.toDF().toDF("click_ts", "cad")
      .withWatermark("click_ts", "2 seconds")
    val joined = impDf.join(clkDf,
      expr("ad = cad AND click_ts >= imp_ts AND " +
        "click_ts <= imp_ts + interval 10 seconds"),
      "leftOuter")
      .select(col("ad"), col("imp_ts").cast("long").as("i"),
        col("click_ts").cast("long").as("c"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      imps.addData((ts(5), 1L), (ts(6), 2L))
      clicks.addData((ts(8), 1L)) // 8 ∈ [5, 15] → matches ad 1
      q.processAllAvailable()
      val matched = spark.sql("SELECT ad, i, c FROM ssj_out WHERE c IS NOT NULL")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(matched == Set((1L, 5L, 8L)))
      // ad 2 unmatched but its join horizon (6 + 10s + 2s) hasn't passed:
      // no null row may appear yet
      assert(spark.sql("SELECT * FROM ssj_out WHERE c IS NULL").count() == 0)
      // push BOTH watermarks far past the horizon (global wm = min of
      // the two), plus one extra batch: outer results emit on the batch
      // AFTER the watermark advances
      imps.addData((ts(60), 9L)); clicks.addData((ts(60), 9L))
      q.processAllAvailable()
      imps.addData((ts(61), 9L)); clicks.addData((ts(61), 9L))
      q.processAllAvailable()
      val unmatched = spark.sql("SELECT ad FROM ssj_out WHERE c IS NULL")
        .collect().map(_.getLong(0)).toSet
      // ad 2 evicted-and-emitted; ad 1 matched so never null; ad 9's
      // horizon (70s) is still ahead of the watermark so still held
      assert(unmatched == Set(2L), unmatched)
    } finally q.stop()
  }

  test("epoch snapshots publish state as re-readable tables (SnapshotManager/TSS analog)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val input = MemoryStream[(Int, Long)]
    val counts = input.toDF().toDF("key", "v")
      .groupBy(col("key")).agg(sum(col("v")).as("total"))
    val q = Snapshots.start(counts, dir, ckpt)
    try {
      input.addData((1, 5L), (2, 7L))
      q.processAllAvailable()
      input.addData((1, 3L))
      q.processAllAvailable()
      val eps = Snapshots.epochs(dir)
      assert(eps.size >= 2)
      val first = Snapshots.read(spark, dir, eps.head)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(first == Map(1 -> 5L, 2 -> 7L))
      val last = Snapshots.read(spark, dir, eps.last)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(last(1) == 8L) // running state after second epoch
      // read() is the epoch's DELTA: key 2 was quiescent in epoch 2
      assert(!last.contains(2))
      // readStateAt folds deltas last-wins: the quiescent key is still
      // in the STATE view, at its last-updated value
      val state = Snapshots.readStateAt(spark, dir, Seq("key"), eps.last)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(state == Map(1 -> 8L, 2 -> 7L))
      val stateAtFirst = Snapshots.readStateAt(spark, dir, Seq("key"), eps.head)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(stateAtFirst == Map(1 -> 5L, 2 -> 7L))
      // time travel across all epochs
      val all = Snapshots.readAll(spark, dir)
      assert(all.columns.contains("epoch"))
      assert(all.count() >= first.size + 1)
    } finally {
      q.stop()
      Seq(dir, ckpt).foreach(d => StreamingRun.deleteTree(java.nio.file.Paths.get(d)))
    }
  }

  test("event-time timers fire via watermark; multiple timers per key (timer.rs quad-wheel analog)") {
    import graft.api.Stream
    import graft.operators.{OperatorContext, StatefulOperator}
    import org.apache.spark.sql.Encoders
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Int, Long)]
    // On the first element per key, schedule TWO timers (+3s, +5s); emit
    // (key, firedTimerTs) from each timeout — proving watermark-driven
    // firing and that several timers per key survive in state.
    val op = new StatefulOperator[Int, (Timestamp, Int, Long), Long, (Int, Long)] {
      def initialState: Long = 0L
      def handleElement(key: Int, e: (Timestamp, Int, Long), ts: Option[Long],
          state: Long, ctx: OperatorContext): (Long, Iterator[(Int, Long)]) = {
        if (state == 0L) { ctx.scheduleAt(ts.get + 3000); ctx.scheduleAt(ts.get + 5000) }
        (state + e._3, Iterator.empty)
      }
      override def handleTimeout(key: Int, state: Long,
          ctx: OperatorContext): (Long, Iterator[(Int, Long)]) =
        (state, Iterator((key, ctx.currentTime.get)))
    }
    val stream = new Stream(input.toDS(), graft.api.SourceConf[(Timestamp, Int, Long)]())
      .withWatermark("_1", "0 seconds")
      .withTimestampExtractor(_._1.getTime)
    val out = stream.keyBy(_._2).operator(op)(
      Encoders.scalaLong, Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
    val q = out.ds.writeStream.outputMode("append")
      .format("memory").queryName("timer_out").start()
    try {
      input.addData((ts(1), 1, 10L), (ts(2), 1, 5L))
      q.processAllAvailable()
      // timers at 4s/6s; watermark only 2s — nothing fired yet
      assert(spark.sql("SELECT * FROM timer_out").count() == 0)
      input.addData((ts(20), 2, 1L)) // watermark → 20s: both key-1 timers fire
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM timer_out").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
      assert(rows == Seq((1, 4000L), (1, 6000L)))
    } finally q.stop()
  }

  test("checkpoint restore: stop, restart, no loss no duplication (node_epoch_block/continue port)") {
    // The reference's exactly-once claim: epoch-aligned checkpoint, then
    // replay from the last epoch without loss or duplication
    // (arcon/src/stream/node/mod.rs:791-874). Spark analog: stop a
    // stateful query, deliver more data while it is down, restart from
    // the checkpoint — state must carry over exactly once.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-restore").toString
    val input = MemoryStream[(Int, Long)]
    def startQuery() = input.toDF().toDF("key", "v")
      .groupBy(col("key")).agg(sum(col("v")).as("total"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("restore_out").start()
    val q1 = startQuery()
    input.addData((1, 5L), (2, 7L))
    q1.processAllAvailable()
    q1.stop()
    input.addData((1, 3L)) // arrives while the query is down
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val rows = spark.sql("SELECT key, total FROM restore_out").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      // 8 = 5 (restored state) + 3 (new) — 13 would mean replayed batch
      // (duplication), 3 would mean lost state.
      assert(rows == Map(1 -> 8L, 2 -> 7L))
    } finally {
      q2.stop()
      StreamingRun.deleteTree(java.nio.file.Paths.get(ckpt))
    }
  }

  test("streaming dedup state survives checkpoint restart (no re-emission of seen keys)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dedup-restore").toString
    val input = MemoryStream[(Timestamp, Long)]
    RestoreProbe.reset()
    def startQuery() = {
      val ds = input.toDF().toDF("ts", "key").as[(Timestamp, Long)]
      new graft.api.Stream(ds, graft.api.SourceConf[(Timestamp, Long)]())
        .withWatermark("ts", "1 minute")
        .dedup("key")
        .toDF.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        // memory sink can't recover an append checkpoint; probe instead
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          RestoreProbe.add(batch.collect().map(r => (0, r.getLong(1))))
        }.start()
    }
    val q1 = startQuery()
    input.addData((ts(1), 10L), (ts(2), 20L))
    q1.processAllAvailable()
    q1.stop()
    // duplicates of 10/20 plus new 30 arrive while the query is down
    input.addData((ts(3), 10L), (ts(4), 20L), (ts(5), 30L))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      // dedup state restored: 10/20 NOT re-emitted, 30 emitted once
      assert(RestoreProbe.rows().map(_._2) == Set(10L, 20L, 30L))
    } finally {
      q2.stop()
      StreamingRun.deleteTree(java.nio.file.Paths.get(ckpt))
    }
  }

  test("custom operator state AND pending timers survive checkpoint restart") {
    import graft.api.Stream
    import graft.operators.{OperatorContext, StatefulOperator}
    import org.apache.spark.sql.Encoders
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-op-restore").toString
    val input = MemoryStream[(Timestamp, Int, Long)]
    val op = new StatefulOperator[Int, (Timestamp, Int, Long), Long, (Int, Long)] {
      def initialState: Long = 0L
      def handleElement(key: Int, e: (Timestamp, Int, Long), ts: Option[Long],
          state: Long, ctx: OperatorContext): (Long, Iterator[(Int, Long)]) = {
        if (state == 0L) ctx.scheduleAt(ts.get + 5000)
        (state + e._3, Iterator.empty)
      }
      override def handleTimeout(key: Int, state: Long,
          ctx: OperatorContext): (Long, Iterator[(Int, Long)]) =
        (state, Iterator((key, state)))
    }
    RestoreProbe.reset()
    def startQuery() = {
      val stream = new Stream(input.toDS(), graft.api.SourceConf[(Timestamp, Int, Long)]())
        .withWatermark("_1", "0 seconds")
        .withTimestampExtractor(_._1.getTime)
      stream.keyBy(_._2).operator(op)(
        Encoders.scalaLong, Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
        .ds.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        // memory sink can't recover from a checkpoint; foreachBatch can
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[(Int, Long)], _: Long) =>
          RestoreProbe.add(batch.collect())
        }
        .start()
    }
    val q1 = startQuery()
    input.addData((ts(1), 1, 10L)) // state 10, timer armed at 6s
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQuery() // state + packed timers must come back from ckpt
    try {
      input.addData((ts(20), 2, 1L)) // watermark → 20s: restored timer fires
      q2.processAllAvailable()
      assert(RestoreProbe.rows().contains((1, 10L)))
    } finally {
      q2.stop()
      StreamingRun.deleteTree(java.nio.file.Paths.get(ckpt))
    }
  }

  test("watermark is the MIN over sources — a silent source holds it back (node watermark alignment)") {
    // The reference's node watermark = min over senders
    // (arcon/src/stream/node/mod.rs:350-404): one slow sender gates
    // every downstream trigger. Spark: the query watermark is the min
    // over all sources; a source that has seen no data keeps it at 0.
    implicit val sqlCtx = spark.sqlContext
    val a = MemoryStream[(Timestamp, Long)]
    val b = MemoryStream[(Timestamp, Long)]
    // one watermark node per source branch: the query watermark is the
    // MIN across them (multipleWatermarkPolicy=min, the default)
    val wa = a.toDF().toDF("ts", "v").withWatermark("ts", "0 seconds")
    val wb = b.toDF().toDF("ts", "v").withWatermark("ts", "0 seconds")
    val agg = wa.union(wb)
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(sum(col("v")).as("sv"))
      .select(col("window.start").cast("long").as("ws"), col("sv"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("align_out").start()
    try {
      a.addData((ts(5), 1L))
      a.addData((ts(100), 1L)) // source A far ahead
      q.processAllAvailable()
      // B silent -> combined watermark still 0 -> window [0,10) not emitted
      assert(spark.sql("SELECT * FROM align_out").count() == 0)
      b.addData((ts(50), 2L)) // B catches up -> watermark min(100,50)=50
      q.processAllAvailable()
      val rows = spark.sql("SELECT ws, sv FROM align_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((0L, 1L))) // [0,10) emitted; [40,50)/[100,110) still open
    } finally q.stop()
  }

  test("operator-built tumbling windows ≡ built-in window() aggregation (assigner.rs construction)") {
    import graft.api.Stream
    import org.apache.spark.sql.Encoders
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (ts(1), 1, 10L), (ts(5), 1, 2L), (ts(9), 2, 4L),
      (ts(12), 1, 7L), (ts(15), 2, 1L), (ts(23), 1, 3L))
    val flush = (ts(100), 9, 0L) // pushes the watermark past every window

    // path A: windows built ON the custom-operator contract
    val inA = MemoryStream[(Timestamp, Int, Long)]
    val op = new OperatorWindows.TumblingSumOp[Int, (Timestamp, Int, Long)](10000L, _._3)
    val outA = new Stream(inA.toDS(), graft.api.SourceConf[(Timestamp, Int, Long)]())
      .withWatermark("_1", "0 seconds")
      .withTimestampExtractor(_._1.getTime)
      .keyBy(_._2)
      .operator(op)(Encoders.BINARY,
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaLong))
    val qA = outA.ds.writeStream.outputMode("append")
      .format("memory").queryName("opwin_out").start()

    // path B: the built-in window() aggregation
    val inB = MemoryStream[(Timestamp, Int, Long)]
    val aggB = inB.toDF().toDF("ts", "key", "v")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("key"))
      .agg(sum(col("v")).as("sv"))
      .select(col("key"), (col("window.start").cast("long") * 1000).as("ws"), col("sv"))
    val qB = aggB.writeStream.outputMode("append")
      .format("memory").queryName("binwin_out").start()

    try {
      inA.addData(data); inB.addData(data)
      qA.processAllAvailable(); qB.processAllAvailable()
      inA.addData(flush); inB.addData(flush)
      qA.processAllAvailable(); qB.processAllAvailable()
      val a = spark.sql("SELECT * FROM opwin_out").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val b = spark.sql("SELECT * FROM binwin_out").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(a.nonEmpty)
      // built-in emits the flush row's own (still-open) window only after
      // later watermarks; both sides exclude windows that never closed,
      // so the emitted sets must be identical
      assert(a == b)
    } finally { qA.stop(); qB.stop() }
  }

  test("measure listener counts engine progress (sink/measure.rs analog)") {
    implicit val sqlCtx = spark.sqlContext
    val m = Measure.attach(spark)
    val input = MemoryStream[Long]
    val q = input.toDF().writeStream.format("noop").start()
    try {
      input.addData(1L to 1000L)
      q.processAllAvailable()
      // listener delivery is async — poll (generously: suites run in
      // parallel under sbt and the bus can lag under load)
      val deadline = System.currentTimeMillis() + 30000
      while (m.totalRows < 1000 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(m.totalRows >= 1000)
      // a warm JVM can run the whole batch in < 1 ms, in which case
      // triggerExecution rounds to 0 and rps is legitimately 0. The
      // seconds adder is monotonic and the async bus may deliver it any
      // time after the rows land, so capture ONE ordered pair (seconds
      // BEFORE rps — if the captured seconds is positive, the later rps
      // read can only see an equal-or-larger denominator with rows
      // already >= 1000, hence rps > 0) and assert on the captured
      // values, never on re-reads the bus can race.
      val deadline2 = System.currentTimeMillis() + 5000
      var secs = m.totalSeconds
      var rps = m.recordsPerSec
      while (secs == 0.0 && System.currentTimeMillis() < deadline2) {
        Thread.sleep(20)
        secs = m.totalSeconds
        rps = m.recordsPerSec
      }
      assert(rps > 0.0 || secs == 0.0, s"rps=$rps secs=$secs")
      // per-batch latency percentiles: present once a batch reported,
      // internally ordered (p50 <= p95 <= max)
      val lat = m.batchLatencyMs
      assert(lat.keySet == Set("p50", "p95", "max"), lat)
      assert(lat("p50") <= lat("p95") && lat("p95") <= lat("max"), lat)
    } finally { q.stop(); Measure.remove(spark, m) }
  }

  test("streaming stateful operator via the DSL (flatMapGroupsWithState path)") {
    import graft.api.Stream
    import graft.operators.{OperatorContext, StatefulOperator}
    import org.apache.spark.sql.Encoders
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Int, Long)]
    val op = new StatefulOperator[Int, (Int, Long), Long, (Int, Long)] {
      def initialState: Long = 0L
      def handleElement(key: Int, e: (Int, Long), ts: Option[Long], state: Long,
          ctx: OperatorContext): (Long, Iterator[(Int, Long)]) = {
        val s2 = state + e._2
        (s2, Iterator((key, s2))) // running sum per key
      }
    }
    val stream = new Stream(input.toDS(), graft.api.SourceConf[(Int, Long)]())
    val out = stream.keyBy(_._1).operator(op)(
      Encoders.scalaLong, Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
    val q = out.ds.writeStream.outputMode("append")
      .format("memory").queryName("stateful_out").start()
    try {
      input.addData((1, 10L), (2, 5L))
      q.processAllAvailable()
      input.addData((1, 7L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM stateful_out").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(rows == Set((1, 10L), (2, 5L), (1, 17L)))
    } finally q.stop()
  }
}
