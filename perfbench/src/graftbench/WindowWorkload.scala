package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType
import graft.sources.{ProtoField, SourceSchemas}
import graft.streaming.{EventTimeWindows, Snapshots}

/** The keyed tumbling-window sum/count workloads.
  *
  * After set-up a run does `rounds` rounds of
  *  1. drain: a pre-staged backlog of `drainEvents` is drained with
  *     `Trigger.AvailableNow` on a fresh checkpoint (`events_per_s`,
  *     `result_s`);
  *  2. restore: the drained query is restarted on its checkpoint
  *     `restarts` times, each with a small new chunk (`restore_s`);
  *  3. state read: the checkpoint is read back as a table through
  *     `Snapshots`, `reads` times (`state_read_s`);
  * then
  *  4. open loop: a generator thread adds frames on a fixed schedule
  *     to a fresh query for `--seconds` (`emit_p50_ms`, `emit_p99_ms`),
  *     then for `restartsInLoop` more seconds in which the query is
  *     stopped and restarted once a second (more `restore_s` samples;
  *     the output must stay exactly once).
  * Each timing, the drain time behind `events_per_s` too, is the median
  * over its samples. Every emitted window, the state table and the
  * late-drop count are checked against the reference fold. */
object WindowWorkload {

  final case class Params(name: String, backend: String, shape: EventShape,
      windowMs: Long, triggerMs: Long, rate: Double, rounds: Int,
      drainEvents: Int, drainRate: Double, restarts: Int, restoreChunk: Int,
      reads: Int, restartsInLoop: Int)

  /** Large Zipf-skewed state on RocksDB with changelog checkpointing. */
  val rocksdb = Params("window_rocksdb", "rocksdb",
    EventShape(keys = 100000, zipfS = 1.1, oooShare = 0.05,
      lateShare = 0.002, malformedShare = 0.002, delayMs = 500),
    windowMs = 1000, triggerMs = 200, rate = 5000, rounds = 5,
    drainEvents = 60000, drainRate = 50000, restarts = 2, restoreChunk = 1000,
    reads = 2, restartsInLoop = 0)

  /** Few uniform keys on the default HDFS-backed provider, a low rate and
    * a short trigger: per-micro-batch fixed cost dominates. */
  val smallState = Params("restore_small_state", "hdfs",
    EventShape(keys = 64, zipfS = 0, oooShare = 0.05, lateShare = 0.002,
      malformedShare = 0.002, delayMs = 250),
    windowMs = 250, triggerMs = 100, rate = 1000, rounds = 3,
    drainEvents = 20000, drainRate = 5000, restarts = 2, restoreChunk = 200,
    reads = 2, restartsInLoop = 2)

  val fields = Seq(
    ProtoField(Gen.FKey, "key", LongType), ProtoField(Gen.FTs, "ts_ms", LongType),
    ProtoField(Gen.FValue, "value", LongType), ProtoField(Gen.FDue, "due_us", LongType))

  /** The windowed plan as a user writes it: decode, then tumble. */
  def plan(p: Params, frames: DataFrame): DataFrame =
    EventTimeWindows.tumbling(
      SourceSchemas.decodedProto(frames, fields)
        .withColumn("ts", timestamp_millis(col("ts_ms"))),
      "ts", s"${p.windowMs} milliseconds", s"${p.shape.delayMs} milliseconds",
      Seq(col("key")), Seq(sum(col("value")).as("s"), count(lit(1)).as("n")))

  type Row4 = ((Long, Long), (Long, Long))

  /** Idempotent foreachBatch sink: rows per batch id, replays overwrite,
    * and a batch keeps the wall time it was first emitted. */
  final class Sink {
    val batches = new ConcurrentHashMap[Long, (Array[Row4], Long)]()
    def start(df: DataFrame, ckpt: String, trigger: Trigger): StreamingQuery =
      df.writeStream.outputMode("append").foreachBatch {
        (b: DataFrame, id: Long) =>
          val rows = b.select(col("key"), unix_millis(col("window_start")),
            col("s"), col("n")).collect()
            .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
          val now = System.nanoTime()
          batches.merge(id, (rows, now), (old, nw) => (nw._1, old._2))
          ()
      }.option("checkpointLocation", ckpt).trigger(trigger).start()
    def rows: Seq[Row4] = batches.values().asScala.toSeq.flatMap(_._1.toSeq)
    def timed: Seq[(Row4, Long)] =
      batches.values().asScala.toSeq.flatMap { case (rs, t) => rs.map(_ -> t) }
  }

  /** Inputs of one run, all drawn from the seed. */
  final case class Inputs(backlog: Events, chunks: Seq[Events], warm: Events,
      open: Events, openStartMs: Long)

  def inputs(p: Params, seed: Long, seconds: Int): Inputs = {
    val drainShape = p.shape.copy(lateShare = 0)
    val backlog = Gen.events(seed, 1, p.drainEvents, p.drainRate, 0L, 0L, drainShape)
    val drainSpanMs = (p.drainEvents * 1000 / p.drainRate).toLong
    val chunkSpanMs = (p.restoreChunk * 1000 / p.drainRate).toLong
    val chunks = (0 until p.restarts).map(k => Gen.events(seed, 10 + k,
      p.restoreChunk, p.drainRate, drainSpanMs + k * chunkSpanMs, 0L, drainShape))
    // the open loop runs on its own timeline, well after the drain's;
    // a warm-up batch on reserved keys fixes a watermark that every
    // planted late event is already behind
    val openStart = drainSpanMs + p.restarts * chunkSpanMs + 60000L
    val warmSpanMs = 2000L
    val warm = {
      val w = Gen.events(seed, 3, 500, 500.0 * 1000 / warmSpanMs,
        openStart - warmSpanMs, 0L, EventShape(50, 0, 0, 0, 0, p.shape.delayMs))
      val key = w.key.map(_ + Gen.WarmKeyBase)
      new Events(w.frames.indices.map(i =>
        Gen.frame(key(i), w.tsMs(i), w.value(i), 0L)).toArray,
        key, w.tsMs, w.value, w.dueUs.map(_ => Long.MinValue / 2), w.kind)
    }
    val lateBefore = openStart - warmSpanMs - p.shape.delayMs - p.windowMs - 1000
    val open = Gen.events(seed, 2, (p.rate * (seconds + p.restartsInLoop)).toInt,
      p.rate, openStart, lateBefore, p.shape)
    Inputs(backlog, chunks, warm, open, Gen.BaseMs + openStart)
  }

  def run(p: Params, a: Args): Outcome = {
    val spark = Main.session(p.backend, a)
    val sessionS = Main.sinceJvmStart
    val trace = new Trace(a.trace, spark.sparkContext)
    val prog = Progress.attach(spark)
    implicit val enc: org.apache.spark.sql.Encoder[Array[Byte]] = Encoders.BINARY
    var attempted = 0L
    var failed = 0L
    def checked(af: (Long, Long)): Unit = { attempted += af._1; failed += af._2 }

    // ---- set-up: generate the inputs three times, then one unrecorded
    // round of the measured work (codegen, provider load, JIT);
    // setup_s = session + median generation + warm-up rounds
    var in: Inputs = null
    val reps = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      in = inputs(p, a.seed, a.seconds)
      (System.nanoTime() - t0) / 1e9
    }
    val ref = Reference.fold(new Reference.Table, in.backlog, 0, in.backlog.size,
      p.windowMs)
    in.chunks.foreach(c => Reference.fold(ref, c, 0, c.size, p.windowMs))
    val wm = (in.backlog +: in.chunks).map(_.maxTsMs).max - p.shape.delayMs
    val due = Reference.emitted(ref, p.windowMs, wm)
    val pending = ref.iterator.filter { case ((_, s), _) => s + p.windowMs > wm }
      .map { case (w, x) => w -> x }.toMap

    // one round of drain → restore → state read on a fresh checkpoint
    def round(r: Int, backlog: Array[Array[Byte]]): Round = {
      val ckpt = Main.workDir(s"drain$r")
      val ms = MemoryStream[Array[Byte]](spark, Main.slots(spark))(enc)
      backlog.grouped(20000).foreach(c => ms.addData(c.toSeq))
      val sink = new Sink
      // 1. drain the backlog
      val (q, t0, t1) = trace.span("streaming.drain") {
        val t0 = System.nanoTime()
        val q = sink.start(plan(p, ms.toDF()), ckpt, Trigger.AvailableNow())
        q.awaitTermination()
        (q, t0, System.nanoTime())
      }
      val lastData = prog.of(q.runId.toString).filter(_.p.numInputRows > 0)
        .map(_.arrivedNs).maxOption.getOrElse(t1)
      // 2. restart the drained query on its checkpoint, each time with a
      // new chunk
      val restarts = in.chunks.map { c =>
        ms.addData(c.frames.toSeq)
        trace.span("streaming.restore") {
          val t0 = System.nanoTime()
          val q = sink.start(plan(p, ms.toDF()), ckpt, Trigger.AvailableNow())
          val first = prog.awaitFirst(q.runId.toString, 60000).map(e =>
            ((e.arrivedNs - t0) / 1e9, e.p.durationMs.get("triggerExecution").toDouble))
          q.awaitTermination()
          first
        }
      }
      // a restart that never commits a batch is a failed operation
      val emitted = Reference.check(due, sink.rows)
      var check = (emitted._1 + restarts.size, emitted._2 + restarts.count(_.isEmpty))
      // 3. read the checkpoint back as a table: the state must hold
      // exactly the windows the watermark has not passed
      val reads = (0 until p.reads).map(_ => trace.span("streaming.state.read") {
        val t0 = System.nanoTime()
        val st = trace.span("streaming.state.snapshot_read") {
          Snapshots.stateAt(spark, ckpt)
            .select(col("key.key"), unix_millis(col("key.window.start")),
              col("value.sum"), col("value.count")).collect()
        }
        val t1 = System.nanoTime()
        val feed = trace.span("streaming.state.changefeed_read") {
          Snapshots.changeFeed(spark, ckpt, 0L).count()
        }
        val t2 = System.nanoTime()
        val c = Reference.check(pending, st.toSeq.map(x =>
          ((x.getLong(0), x.getLong(1)), (x.getLong(2), x.getLong(3)))))
        check = (check._1 + c._1, check._2 + c._2)
        ((t2 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6, st.length + feed)
      })
      Round((lastData - t0) / 1e9, (t1 - t0) / 1e9,
        restarts.flatten.map(_._1), restarts.flatten.map(_._2), reads.map(_._1), reads.map(_._2),
        reads.map(_._3), reads.last._4, check)
    }

    val tw = System.nanoTime()
    // two full warm-up rounds: after one, restores and reads still got
    // faster round by round (JIT, heap sizing), and how fast they did so
    // followed the box's load; their answers are not counted
    (1 to 2).foreach(w => round(-w, in.backlog.frames))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(reps) + warmS
    println(f"${p.name}: session ${sessionS}%.2fs, generation " +
      reps.map(x => f"$x%.2f").mkString(" ") + f", warm-up rounds ${warmS}%.2fs")

    // ---- measured rounds, so every median's samples spread over the run
    val rounds = (0 until p.rounds).map(round(_, in.backlog.frames))
    rounds.foreach(r => checked(r.check))
    // catch-up capacity: events drained / time to the last data-batch
    // commit, median over the drains
    val eventsPerS = in.backlog.size / Stats.median(rounds.map(_.drainDataS))
    val resultS = Stats.median(rounds.map(_.drainS))
    val restores = ArrayBuffer.from(rounds.flatMap(_.restores))
    val restoreFirstMs = ArrayBuffer.from(rounds.flatMap(_.restoreFirstMs))
    val reads = rounds.flatMap(_.reads)
    val snapMs = rounds.flatMap(_.snapMs)
    val feedMs = rounds.flatMap(_.feedMs)
    val readRows = rounds.last.readRows

    // ---- 4. the open loop
    val loop = trace.span("streaming.open_loop") {
      openLoop(p, a, spark, prog, trace, in)
    }
    restores ++= loop.restores
    restoreFirstMs ++= loop.restoreFirstMs
    checked(loop.check)
    println(f"${p.name}: drains of ${in.backlog.size} events " +
      rounds.map(r => f"${r.drainS}%.2f").mkString(" ") + "s; restores " +
      restores.map(x => f"$x%.2f").mkString(" ") + "s; reads " +
      reads.map(x => f"$x%.2f").mkString(" ") + "s; " +
      s"${restores.size} restores; ${loop.latencies.size} latency samples; " +
      f"open loop lag p99 ${loop.lagP99Ms}%.1fms, backlog max ${loop.backlogMax}")
    require(restores.nonEmpty, "no restore completed")
    require(loop.latencies.size >= 1000,
      s"too few emitted windows (${loop.latencies.size}) to support p99")

    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "events_per_s" -> Metric(eventsPerS, "events/s"),
      "emit_p50_ms" -> Metric(Stats.pct(loop.latencies, 0.50), "ms"),
      "emit_p99_ms" -> Metric(Stats.pct(loop.latencies, 0.99), "ms"),
      "restore_s" -> Metric(Stats.median(restores.toSeq), "s"),
      "state_read_s" -> Metric(Stats.median(reads), "s"),
      "result_s" -> Metric(resultS, "s"))

    val out = if (!a.trace) e2e
    else {
      // standalone decode of one generated batch, input materialized
      // first so the span is the decoder's own time
      val (decodeMs, malformed) = trace.span("sources.decode") {
        val df = spark.createDataset(in.backlog.frames.toSeq).toDF("value").cache()
        df.count()
        val t0 = System.nanoTime()
        SourceSchemas.decodedProto(df, fields).write.format("noop").mode("overwrite").save()
        val ms = (System.nanoTime() - t0) / 1e6
        val bad = df.count() - SourceSchemas.decodedProto(df, fields).count()
        df.unpersist()
        (ms, bad)
      }
      checked((1L, if (malformed == in.backlog.count(Kind.Malformed)) 0L else 1L))
      val heap = Layers.heapLiveMb()
      val evs = prog.all
      Progress.toSpans(trace, evs)
      val sm = Progress.metrics(evs.map(_.p)).toMap
      Layers.all(
        Seq("gen.events" -> Metric((in.backlog.size + in.chunks.map(_.size).sum) * p.rounds +
          in.warm.size + in.open.size, "count"),
          "gen.lag_p99_ms" -> Metric(loop.lagP99Ms, "ms"),
          "sources.decode_ms" -> Metric(decodeMs, "ms"),
          "sources.malformed_rows" -> Metric(malformed, "count"),
          "streaming.backlog_max_events" -> Metric(loop.backlogMax, "count"),
          "streaming.state.restore_first_batch_ms" -> Metric(
            Stats.median(restoreFirstMs.toSeq), "ms"),
          "streaming.state.snapshot_read_ms" -> Metric(Stats.median(snapMs), "ms"),
          "streaming.state.changefeed_read_ms" -> Metric(Stats.median(feedMs), "ms"),
          "streaming.state.read_rows" -> Metric(readRows, "count"),
          "jvm.heap_live_mb" -> Metric(heap, "MB")) ++ sm.toSeq ++
          SparkStats.metrics(trace.spark.total, trace.elapsedS, Main.slots(spark)),
        e2e, attempted, failed)
    }
    trace.write(p.name, a.seed)
    spark.stop()
    Outcome(attempted, failed, out)
  }

  final case class Round(drainDataS: Double, drainS: Double, restores: Seq[Double],
      restoreFirstMs: Seq[Double], reads: Seq[Double], snapMs: Seq[Double],
      feedMs: Seq[Double], readRows: Long, check: (Long, Long))

  final case class Loop(latencies: Seq[Double], restores: Seq[Double],
      restoreFirstMs: Seq[Double], lagP99Ms: Double, backlogMax: Long,
      check: (Long, Long))

  def openLoop(p: Params, a: Args, spark: SparkSession, prog: Progress,
      trace: Trace, in: Inputs): Loop = {
    implicit val enc: org.apache.spark.sql.Encoder[Array[Byte]] = Encoders.BINARY
    val ckpt = Main.workDir("open")
    val ms = MemoryStream[Array[Byte]](spark, Main.slots(spark))(enc)
    val sink = new Sink
    val trigger = Trigger.ProcessingTime(p.triggerMs)
    def start(): StreamingQuery = sink.start(plan(p, ms.toDF()), ckpt, trigger)
    @volatile var q = start()
    val runs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    runs.add(q.runId.toString)
    ms.addData(in.warm.frames.toSeq)
    q.processAllAvailable()

    val ev = in.open
    val lags = ArrayBuffer.empty[Double]
    @volatile var added = in.warm.size.toLong
    @volatile var backlogMax = 0L
    @volatile var genError: Throwable = null
    def committed(): Long = prog.all.filter(e => runs.contains(e.runId))
      .map(_.p.numInputRows).sum
    val t0 = System.nanoTime() + 20000000L
    val gen = new Thread(() => try {
      var i = 0
      while (i < ev.size) {
        val nowUs = (System.nanoTime() - t0) / 1000
        val j = ev.dueBefore(nowUs, i)
        if (j > i) {
          lags += (nowUs - ev.dueUs(i)) / 1e3
          ms.addData(ev.frames.slice(i, j).toSeq)
          added += j - i
          i = j
          backlogMax = math.max(backlogMax, added - committed())
        }
        Thread.sleep(2)
      }
    } catch { case t: Throwable => genError = t }, "graftbench-generator")
    gen.setDaemon(true)
    gen.start()

    // after the measured `--seconds`, one stop/restart cycle per further
    // second while the generator keeps sending
    val restores = ArrayBuffer.empty[Double]
    val firstMs = ArrayBuffer.empty[Double]
    (1 to p.restartsInLoop).foreach { k =>
      val at = t0 + ((a.seconds + k - 0.5) * 1e9).toLong
      while (System.nanoTime() < at) Thread.sleep(1)
      trace.span("streaming.restore") {
        q.stop()
        val ts = System.nanoTime()
        q = start()
        runs.add(q.runId.toString)
        prog.awaitFirst(q.runId.toString, 60000).foreach { e =>
          restores += (e.arrivedNs - ts) / 1e9
          firstMs += e.p.durationMs.get("triggerExecution").toDouble
        }
      }
    }
    gen.join()
    if (genError != null) throw genError
    // flush: one event far ahead moves the watermark past every window
    val endMs = Gen.BaseMs + ev.tsMs.indices.filter(ev.kind(_) == Kind.OnTime)
      .map(ev.tsMs).maxOption.getOrElse(Gen.BaseMs)
    ms.addData(Seq(Gen.frame(Gen.FlushKey, endMs + 3600000L, 1L, 0L)))

    val ref = new Reference.Table
    Reference.fold(ref, in.warm, 0, in.warm.size, p.windowMs)
    Reference.fold(ref, ev, 0, ev.size, p.windowMs)
    val expected = ref.toMap
    val deadline = System.nanoTime() + 60000000000L
    while (sink.rows.size < expected.size && System.nanoTime() < deadline)
      Thread.sleep(20)
    q.processAllAvailable()
    q.stop()
    // progress events arrive asynchronously: wait until they account for
    // every frame sent (the warm-up, the loop and the flush event)
    val sent = in.warm.size + ev.size + 1L
    val progressBy = System.nanoTime() + 2000000000L
    while (committed() < sent && System.nanoTime() < progressBy) Thread.sleep(10)
    val runEvs = prog.all.filter(e => runs.contains(e.runId))
    val dropped = runEvs.flatMap(_.p.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    // every late event has its own key, so the window check below fails
    // if one is counted; the engine's dropped-row count must also equal
    // the planted count, but a batch that commits while its query is
    // being stopped reports no progress, so that count is complete (and
    // checked) only when the progress reports cover every frame sent
    val (att, bad) = Reference.check(expected,
      sink.rows.filter(_._1._1 != Gen.FlushKey))
    val complete = committed() >= sent
    val lateOk = !complete || dropped == ev.count(Kind.Late)
    if (!complete || !lateOk) println(s"${p.name}: dropped $dropped late rows, " +
      s"planted ${ev.count(Kind.Late)}; progress reports cover ${committed()} of " +
      s"$sent frames sent")

    // latency: windows the watermark closes on its own a window before
    // the measured seconds end, so no restart or flush shortens or
    // stretches them
    val closeBy = in.openStartMs + a.seconds * 1000L - p.shape.delayMs - p.windowMs
    val lat = sink.timed.collect {
      case (((k, s), _), emitNs) if k < Gen.LateKeyBase &&
          s + p.windowMs <= closeBy && expected.contains((k, s)) =>
        (emitNs - t0) / 1e6 - expected((k, s)).lastDueUs / 1e3
    }
    val restartsFailed = p.restartsInLoop - restores.size
    Loop(lat, restores.toSeq, firstMs.toSeq,
      if (lags.isEmpty) 0 else Stats.pct(lags.toSeq, 0.99), backlogMax,
      (att + 1 + p.restartsInLoop, bad + (if (lateOk) 0 else 1) + restartsFailed))
  }
}
