package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One recorded span. Times are `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long)

/** Spans recorded from the benchmark's own code around each call into a
  * layer, kept in memory and written out when the run ends. Disabled
  * (the untraced run) a span is just its body. */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  private val runId = java.util.UUID.randomUUID().toString
  private val createdNs = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val spark: SparkStats = if (enabled) {
    val l = new SparkStats
    sc.addSparkListener(l)
    l
  } else null

  /** Seconds since tracing began: the wall the Spark listener saw. */
  def elapsedS: Double = (System.nanoTime() - createdNs) / 1e9

  def current: Long = stack.get().headOption.getOrElse(0L)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      val prevProp = sc.getLocalProperty(SparkStats.Prop)
      stack.set(id :: stack.get())
      sc.setLocalProperty(SparkStats.Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        sc.setLocalProperty(SparkStats.Prop, prevProp)
        add(Span(id, parent, name, t0, t1))
      }
    }

  /** Record a span measured elsewhere (a streaming phase built from a
    * progress event); returns its id. */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      add(Span(id, parent, name, startNs, endNs))
      id
    }

  private def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of a span: its duration minus what its children cover. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Write every span, its self time and the Spark work attributed to
    * it as JSON under the work directory. */
  def write(workload: String, seed: Long): Unit = if (enabled) {
    val ss = all
    val base = ss.map(_.startNs).minOption.getOrElse(0L)
    val byspan = spark.bySpan
    val rows = ss.sortBy(_.startNs).map { s =>
      val st = byspan.getOrElse(s.id, SparkStats.Totals())
      s"""{"run": "$runId", "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": "${s.name}", "start_ms": ${(s.startNs - base) / 1e6}, """ +
        s""""end_ms": ${(s.endNs - base) / 1e6}, "self_ms": ${selfMs(s, ss)}, """ +
        s""""jobs": ${st.jobs}, "tasks": ${st.tasks}, "task_busy_ms": ${st.busyMs}}"""
    }
    val dir = java.nio.file.Paths.get(
      sys.props.getOrElse("graftbench.work", ".bench_build/work"), "traces")
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve(s"$workload-seed$seed.json")
    java.nio.file.Files.writeString(f, rows.mkString("[\n", ",\n", "\n]\n"))
    println(s"trace: ${ss.size} spans -> $f")
  }
}

/** Benchmark-attached `SparkListener`: job, stage and task counts and
  * task metrics, attributed to the enclosing layer span through a local
  * property that [[Trace.span]] sets on the calling thread. */
final class SparkStats extends SparkListener {
  import SparkStats._
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val totals = new ConcurrentHashMap[Long, Totals]()

  private def upd(span: Long)(f: Totals => Totals): Unit =
    totals.compute(span, (_, t) => f(if (t == null) Totals() else t))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(id => stageSpan.put(id, span))
    upd(span)(t => t.copy(jobs = t.jobs + 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, 0L)
    upd(span)(t => t.copy(stages = t.stages + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    val m = e.taskMetrics
    val failed = !e.taskInfo.successful
    upd(span)(t => t.copy(
      tasks = t.tasks + 1,
      failed = t.failed + (if (failed) 1 else 0),
      busyMs = t.busyMs + (if (m == null) 0L else m.executorRunTime),
      shuffleWrite = t.shuffleWrite +
        (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      spill = t.spill +
        (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      gcMs = t.gcMs + (if (m == null) 0L else m.jvmGCTime)))
  }

  def bySpan: Map[Long, Totals] = totals.asScala.toMap

  def total: Totals = totals.values().asScala.foldLeft(Totals())(_ + _)
}

object SparkStats {
  val Prop = "graftbench.span"
  final case class Totals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      failed: Long = 0, busyMs: Long = 0, shuffleWrite: Long = 0,
      spill: Long = 0, gcMs: Long = 0) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, failed + o.failed, busyMs + o.busyMs,
      shuffleWrite + o.shuffleWrite, spill + o.spill, gcMs + o.gcMs)
  }

  /** The `spark.*` per-layer metrics over a measured phase of `wallS`
    * seconds on `slots` task slots. */
  def metrics(t: Totals, wallS: Double, slots: Int): Seq[(String, Metric)] =
    Seq(
      "spark.jobs" -> Metric(t.jobs, "count"),
      "spark.stages" -> Metric(t.stages, "count"),
      "spark.tasks" -> Metric(t.tasks, "count"),
      "spark.task_busy_ms" -> Metric(t.busyMs, "ms"),
      "spark.busy_share" -> Metric(
        if (wallS > 0) t.busyMs / (wallS * 1e3 * slots) else 0.0, "share"),
      "spark.shuffle_write_bytes" -> Metric(t.shuffleWrite, "bytes"),
      "spark.spill_bytes" -> Metric(t.spill, "bytes"),
      "spark.gc_ms" -> Metric(t.gcMs, "ms"),
      "spark.failed_tasks" -> Metric(t.failed, "count"))
}

/** Every streaming progress event of the session, with the wall time it
  * arrived. Structured Streaming's own progress reports are how the
  * benchmark reads the micro-batch protocol and the state store from
  * outside the program. */
final case class Event(runId: String, p: StreamingQueryProgress,
    arrivedNs: Long)

final class Progress extends StreamingQueryListener {
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[Event]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(Event(e.progress.runId.toString, e.progress, System.nanoTime()))

  def all: Seq[Event] = events.asScala.toList

  def of(runId: String): Seq[Event] = all.filter(_.runId == runId)

  /** Block until `runId` has reported a batch, or `timeoutMs` passes. */
  def awaitFirst(runId: String, timeoutMs: Long): Option[Event] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var hit = of(runId).headOption
    while (hit.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(2)
      hit = of(runId).headOption
    }
    hit
  }
}

object Progress {
  def attach(s: SparkSession): Progress = {
    val p = new Progress
    s.streams.addListener(p)
    p
  }

  private def d(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** The `streaming.*` and `streaming.state.*` per-layer metrics over a
    * set of progress events. */
  def metrics(ps: Seq[StreamingQueryProgress]): Seq[(String, Metric)] = {
    val trig = ps.map(p => d(p, "triggerExecution").toDouble)
    val ops = ps.flatMap(_.stateOperators)
    def sum(k: String) = ps.map(d(_, k)).sum.toDouble
    Seq(
      "streaming.batches" -> Metric(ps.size, "count"),
      "streaming.trigger_p50_ms" -> Metric(
        if (trig.isEmpty) 0 else Stats.pct(trig, 0.5), "ms"),
      "streaming.trigger_p99_ms" -> Metric(
        if (trig.isEmpty) 0 else Stats.pct(trig, 0.99), "ms"),
      "streaming.add_batch_ms" -> Metric(sum("addBatch"), "ms"),
      "streaming.query_planning_ms" -> Metric(sum("queryPlanning"), "ms"),
      "streaming.wal_commit_ms" -> Metric(sum("walCommit"), "ms"),
      "streaming.commit_offsets_ms" -> Metric(sum("commitOffsets"), "ms"),
      "streaming.latest_offset_ms" -> Metric(sum("latestOffset"), "ms"),
      "streaming.protocol_ms" -> Metric(
        sum("triggerExecution") - sum("addBatch"), "ms"),
      "streaming.state.update_ms" -> Metric(
        ops.map(_.allUpdatesTimeMs).sum.toDouble, "ms"),
      "streaming.state.commit_ms" -> Metric(
        ops.map(_.commitTimeMs).sum.toDouble, "ms"),
      "streaming.state.rows" -> Metric(
        ops.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble, "count"),
      "streaming.state.memory_bytes" -> Metric(
        ops.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble, "bytes"),
      "streaming.state.dropped_late_rows" -> Metric(
        ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count"))
  }

  /** Each batch becomes a span with its protocol phases as child spans,
    * placed from the progress timestamp and `durationMs`, under the
    * innermost benchmark span that was open when the batch started.
    * Phases run in the engine's order; the gaps between them are the
    * unnamed rest of the trigger. */
  def toSpans(t: Trace, evs: Seq[Event]): Unit =
    if (t.enabled) {
      val nowWall = System.currentTimeMillis()
      val nowNs = System.nanoTime()
      val open = t.all
      evs.foreach { e =>
        val startWall = java.time.Instant.parse(e.p.timestamp).toEpochMilli
        val startNs = nowNs - (nowWall - startWall) * 1000000L
        val parent = open.filter(s => s.startNs <= startNs && startNs <= s.endNs)
          .maxByOption(_.startNs).fold(0L)(_.id)
        val total = d(e.p, "triggerExecution")
        val b = t.record(s"batch ${e.p.batchId}", parent, startNs,
          startNs + total * 1000000L)
        var at = startNs
        Seq("latestOffset", "queryPlanning", "walCommit", "getBatch",
          "addBatch", "commitOffsets").foreach { k =>
          val ms = d(e.p, k)
          if (ms > 0) {
            t.record(k, b, at, at + ms * 1000000L)
            at += ms * 1000000L
          }
        }
      }
    }
}
