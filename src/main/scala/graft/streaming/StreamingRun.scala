package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.api.Application

/** Drive a windowed aggregation through the ACTUAL Structured Streaming
  * execution path — file streaming source, `StateStoreSaveExec`, memory
  * sink — and hand back the sink contents as a plain DataFrame, so the
  * driver's DuckDB oracle can check STREAMING execution, not just the
  * batch plan that shares its window assignment
  * (`/root/reference/arcon/src/stream/operator/window/assigner.rs:404-584`
  * is the behavior being operationalized: assign → state → trigger →
  * emit, here over a real parquet-file source).
  *
  * Output mode is COMPLETE, deliberately: on a BOUNDED input the
  * watermark can never pass the final window's end (watermark = max
  * event time − delay, and the max event falls inside the last window),
  * so append mode would hold the last window per key in state forever
  * and no bounded oracle could ever match it. Complete mode emits every
  * window at the final trigger and still runs the full stateful path —
  * `StateStoreSaveExec` with all-updates save, state rows per (window,
  * key). The at-scale shape is unchanged from the batch w1: ONE keyed
  * exchange into the stateful aggregation; state size is #windows ×
  * #keys (bounded by the window calendar, not the row count), which is
  * exactly the state complete mode re-emits — an unbounded production
  * deployment with a watermark would flip this to append + a durable
  * sink and nothing else in the plan changes.
  */
/** pl11's streamed row: one document's token accounting. */
case class TokenDoc(doc_id: Long, source: String, n_tokens: Long)

/** pl11's output row: an admitted document with the per-source running
  * total AS OF its admission — the state trajectory made visible. */
case class AdmittedDoc(doc_id: Long, source: String, n_tokens: Long,
    cum_tokens: Long)

object StreamingRun {

  /** The `events` table through `readStream` with the SAME timestamp
    * normalization as [[graft.Tables.events]]: schema comes from a
    * batch metadata read (file streaming sources require a declared
    * schema — at 100 TB this is the catalog's job), NTZ columns cast to
    * session-tz TimestampType, the legacy TIMESTAMP(NANOS)-as-long
    * flavor converted with exact integer division. */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val normalized = tableStream(s, dir, "events")
    if (normalized.schema("ts").dataType == LongType)
      normalized.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else normalized
  }

  /** Any single-parquet testdata table through `readStream`, with the
    * same staging and NTZ normalization as [[eventsStream]] (which adds
    * only the events-specific legacy-nanos conversion on top). */
  def tableStream(s: SparkSession, dir: String, table: String): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = java.nio.file.Paths.get(dir, s"$table.parquet")
    // FileStreamSource reads DIRECTORIES of files (at 100 TB the input
    // is one); the testdata ships a single parquet file, so stage a
    // symlink directory — zero data copied, the source lists and reads
    // the real file through the link
    val path =
      if (java.nio.file.Files.isDirectory(src)) src.toString
      else {
        // ONE cached staging dir per source path, reused across every
        // bench/oracle/test invocation (a fresh createTempDirectory per
        // call would leak: deleteOnExit cannot remove a non-empty dir).
        // The dir name is deterministic in the source path; deleteOnExit
        // registers dir BEFORE link (it deletes in reverse order, so the
        // link goes first and the then-empty dir can follow)
        val abs = src.toAbsolutePath
        val tag = java.lang.Integer.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(abs.toString))
        val d = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), s"graft-stream-src-$tag")
        java.nio.file.Files.createDirectories(d)
        val link = d.resolve(s"$table.parquet")
        if (!java.nio.file.Files.exists(link,
            java.nio.file.LinkOption.NOFOLLOW_LINKS))
          scala.util.Try(java.nio.file.Files.createSymbolicLink(link, abs))
        d.toFile.deleteOnExit()
        link.toFile.deleteOnExit()
        d.toString
      }
    val raw = s.read.parquet(path).schema // metadata-only: no data scan
    val df = s.readStream.schema(raw).parquet(path)
    val ntz = raw.fields.filter(_.dataType == TimestampNTZType).map(_.name)
    if (ntz.isEmpty) df
    else df.withColumns(ntz.map(n => n -> col(n).cast(TimestampType)).toMap)
  }

  /** The session confs every drain runs under. The partition count is
    * pinned into a checkpoint at first start, so it is sized for the
    * drains' keyed state (≤ a few hundred thousand rows), not inherited
    * from the session's scan parallelism; a deployment with TB-scale
    * state derives it from its state volume. */
  private val DrainConfs = Seq(
    // one state store per partition, committed every batch: 4 ≤ 8 on all drains (r22)
    "spark.sql.shuffle.partitions" -> "4",
    // map-side session pre-merge, same sessions out: −3% to −15% on w9/w16/w22
    "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition" -> "true")

  /** Run `plan` (a streaming aggregation) to completion under
    * `Trigger.AvailableNow` in complete mode into a memory sink; block
    * until drained; return the sink table. `inspect` (tests) sees the
    * live query after termination — e.g. to assert the executed plan
    * really is the stateful streaming one. */
  def drainComplete(s: SparkSession, plan: DataFrame,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    drainTo(s, plan, "complete", inspect)

  /** Append-mode variant of [[drainComplete]] — for streaming plans whose
    * OUTPUT is already final as it is emitted (joins, dedup,
    * flatMapGroupsWithState), where complete mode is either unsupported
    * or meaningless. The memory sink accumulates every emitted row
    * across micro-batches; the caller's plan must make that union
    * deterministic (an inner join and a key-projected dedup are exact
    * sets by construction; a running-state operator needs the
    * final-state readout discipline — see `operatorRunningAgg`). */
  def drainAppend(s: SparkSession, plan: DataFrame,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    drainTo(s, plan, "append", inspect)

  private def drainTo(s: SparkSession, plan: DataFrame, mode: String,
      inspect: StreamingQuery => Unit): DataFrame = {
    val name = "graft_stream_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ckpt = Scratch.dir("graft-stream-ckpt")
    // the checkpoint is single-use (unique sink name per call): remove
    // it so repeated bench/verify invocations don't accumulate temp dirs
    try drive(s, plan, ckpt.toString, memorySink(mode, name))(inspect)
    finally deleteTree(ckpt)
    s.table(name)
  }

  /** A drain's sink setup: output mode, format and sink options. */
  private[streaming] type Sink = DataStreamWriter[Row] => DataStreamWriter[Row]

  private[streaming] def memorySink(mode: String, name: String): Sink =
    _.outputMode(mode).format("memory").queryName(name)

  /** A parquet file sink (append mode — the only mode file sinks
    * support). Unlike the memory sink it participates in recovery: its
    * `_spark_metadata` commit log is checkpoint-coupled. */
  private[streaming] def parquetSink(outDir: String): Sink =
    _.outputMode("append").format("parquet").option("path", outDir)

  /** The one streaming-drive primitive every drain shares: start `plan`
    * through `sink` on checkpoint `ckpt` (which may be a previous run's
    * — the restore protocol resumes it) under `Trigger.AvailableNow`,
    * block until drained, hand the finished query to `inspect`, and
    * always stop the query and unload its state stores. `noDataBatches`
    * optionally pins `spark.sql.streaming.noDataMicroBatches.enabled`
    * for this run only (the restore protocol stops run 1 WITHOUT the
    * trailing no-data batch so the recovered watermark is the one a
    * crash would leave). The conf scope restores [[DrainConfs]] however
    * the drain ends: neither an analysis error at `start()` nor a failed
    * batch leaves a session conf changed. */
  private[streaming] def drive(s: SparkSession, plan: DataFrame, ckpt: String,
      sink: Sink, noDataBatches: Option[Boolean] = None)(
      inspect: StreamingQuery => Unit): Unit =
    Application.withConfs(s, DrainConfs ++ noDataBatches.map(
        "spark.sql.streaming.noDataMicroBatches.enabled" -> _.toString)) {
      var q: StreamingQuery = null
      try {
        q = sink(plan.writeStream)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        inspect(q)
      } finally {
        if (q != null) q.stop()
        Application.releaseStateStores()
      }
    }

  /** QUERYABLE STATE: run the tumbling daily aggregation through the
    * streaming path, keep its checkpoint, and read the operator's STATE
    * STORE back as a DataFrame through Spark's state-store reader data
    * source (`format("statestore")`, SPARK-45511) — the direct analog
    * of the reference's queryable table-state snapshots
    * (`/root/reference/arcon/src/table/mod.rs` / the TSS path that
    * materializes `#[table]` state as Arrow tables mid-run). The
    * snapshot-export pattern ([[Snapshots]]) copies state OUT through
    * `foreachBatch`; this reads the checkpoint's state files THEMSELVES
    * — no export job, any batch version, the tool a 100 TB deployment
    * uses to debug a stateful query without touching its run. The
    * result is one row per live state entry (here: per (window,
    * event_type) aggregation buffer), so the driver oracle is the plain
    * batch aggregate — state-vs-recompute equality is exactly the
    * correctness contract of the state store.
    *
    * Sums are integer micro-units (the w12 discipline) so the state
    * buffer's Long survives the cross-engine compare bit-exactly. */
  def queryableState(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    drainToState(s,
      eventsStream(s, dir)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * lit(1e6)).cast("long"))
            .as("sum_value_micros")),
      "complete", inspect)(windowBuffers(s, None))

  /** Drain a stateful `plan` into a throwaway memory sink, then `read`
    * the operator's state back from the drained checkpoint through
    * Spark's statestore data source (SPARK-45511). The ONE
    * drive/read/cleanup path shared by k9–k15 — advisor r17: the drain
    * block was previously duplicated per method, and the kept
    * checkpoints leaked. The checkpoint IS the table being read, so it
    * must outlive the streaming query — but not the call: the state read
    * is eagerly `localCheckpoint`ed (every read here is sized by the
    * window calendar × keys or by the epoch count — driver-safe by
    * construction) and the checkpoint dir deleted immediately after, so
    * bench/verify repeats leave /tmp flat. */
  private def drainToState(s: SparkSession, plan: DataFrame, mode: String,
      inspect: StreamingQuery => Unit)(read: String => DataFrame): DataFrame = {
    val ckpt = Scratch.dir("graft-stream-state")
    val name = "graft_state_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      drive(s, plan, ckpt.toString, memorySink(mode, name))(inspect)
      read(ckpt.toString).localCheckpoint()
    } finally {
      Application.releaseStateStores() // the statestore READER's providers
      deleteTree(ckpt)
      scala.util.Try(s.catalog.dropTempView(name))
      ()
    }
  }

  /** The tumbling-daily aggregation's state buffers at `batchId` (None =
    * last committed) as (window_start, event_type, n, sum_value_micros)
    * — the k9/k10/k11 read. */
  private def windowBuffers(s: SparkSession, batchId: Option[Long])(
      ckpt: String): DataFrame =
    Snapshots.stateAt(s, ckpt, batchId)
      .select(col("key.window.start").as("window_start"),
        col("key.event_type").as("event_type"),
        col("value.count").as("n"),
        col("value.sum").as("sum_value_micros"))

  /** Run `body` with the streaming state-store provider overridden
    * ([[Application.providerConfs]]: RocksDB comes with changelog
    * checkpointing, so the checkpoint carries the per-epoch delta stream
    * `readChangeFeed` reads). Session confs are restored after, so
    * surrounding Verify/Bench rows keep the default provider. The
    * override must wrap BOTH the drain and the statestore reads: the
    * reader resolves the provider from the session conf, and reading an
    * HDFS-format checkpoint through the RocksDB provider (or vice
    * versa) fails. */
  private def withStateProvider[T](s: SparkSession,
      provider: Option[String])(body: => T): T =
    provider.fold(body)(p => Application.withConfs(s, Application.providerConfs(p))(body))

  /** A staged drop directory ([[stage]]) as a file stream that delivers
    * ONE file per micro-batch, in mtime order — the replayable, ordered
    * source every staged row drives. File streaming sources need a
    * declared schema; the batch read that supplies it is metadata-only. */
  private[streaming] def stagedStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(s.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** The staged watermarked tumbling-daily aggregation — ONE plan
    * definition shared by w15 (emitted output), k10 (held final state),
    * k11 (time-travel state) and w18 (restore): any plan edit lands in
    * every consumer, so the k10 "held ∪ emitted = accepted" and k11/w18
    * prefix contracts break loudly in their specs instead of silently
    * desynchronizing (advisor r17). */
  private def watermarkedTumblingPlan(s: SparkSession,
      stagedDir: String): DataFrame =
    stagedStream(s, stagedDir)
      .withWatermark("ts", s"${Protocol.DelayDays} days")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * lit(1e6)).cast("long"))
          .as("sum_value_micros"))

  /** [[queryableState]] composed with the w15 watermark protocol: run
    * the staged APPEND-mode watermarked aggregation
    * ([[tumblingDailyWatermarked]]'s exact plan), keep its checkpoint,
    * and read back the operator's FINAL state — the HELD-BACK windows,
    * i.e. the ones whose end the final eviction watermark never passed
    * and which w15 therefore never emits. Until now the holdback half
    * of the allowed-lateness contract was only reasoned about (w15's
    * oracle checks the EMITTED half); this row makes it driver-checked:
    * held state ∪ w15's emitted output = every accepted row's window,
    * disjointly. Oracle = the same accepted-row replay as w15 with the
    * final-horizon filter FLIPPED (`end > final wm`). State buffers are
    * integer micro-units, exact cross-engine. */
  def watermarkHeldState(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageEventsOrdered(s, dir)
    drainToState(s, watermarkedTumblingPlan(s, staged), "append",
      inspect)(windowBuffers(s, None))
  }

  /** TIME-TRAVEL state read — [[watermarkHeldState]] at a MID-PROTOCOL
    * batch: the same staged watermarked run, but the statestore reader's
    * `batchId` option pins the read to the state AS COMMITTED BY batch
    * `batchId` instead of the final version. This is the per-epoch half
    * of the reference's TSS/SnapshotManager contract
    * (`/root/reference/arcon/src/manager/snapshot.rs:39-135` keeps a
    * catalog of every epoch's snapshot and serves reads at any of them);
    * k9/k10 proved the LAST version queryable, this row proves the
    * HISTORY is.
    *
    * What the state provably holds after batch k (derivation, pinned by
    * the driver oracle): every row of batches ≤ k that survived its
    * arrival batch's late filter (two-value contract: batch j filters
    * against wm(data ≤ j−2)) and whose window the eviction horizon at
    * batch k — wm(data ≤ k−1) — has not yet passed. The two halves
    * cannot overlap-or-gap: a row surviving batch j's late filter has
    * window end > wm(data ≤ j−2) = the eviction horizon of batch j−1,
    * so its window can never have been emitted before it arrives —
    * Spark lags the late filter one batch behind eviction precisely to
    * make "accepted ⇒ still open" airtight, and this query is that
    * invariant made driver-visible at an interior epoch. */
  def stateTimeTravel(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageEventsOrdered(s, dir)
    drainToState(s, watermarkedTumblingPlan(s, staged), "append",
      inspect)(windowBuffers(s, Some(Protocol.TimeTravelBatch)))
  }

  /** The SNAPSHOT CATALOG (k12) — every committed state version of the
    * staged watermarked run enumerated and summarized in one table:
    * (batch_id, n_buffers, n_rows, sum_value_micros) per epoch. k9/k10
    * proved the LAST state version queryable and k11 ONE interior
    * version; this row proves the whole HISTORY is — the reference's
    * SnapshotManager keeps exactly this registry (epoch → snapshot) and
    * serves reads at any entry
    * (`/root/reference/arcon/src/manager/snapshot.rs:39-135`), so the
    * catalog listing itself is reference surface, not just its lookups.
    *
    * Protocol: the Files staged drops commit state versions
    * 0..Files−1, then the trailing no-data micro-batch (the final
    * eviction pass append mode needs — its existence is load-bearing
    * for k10's "held = accepted − emitted" and is asserted here, not
    * assumed) commits version Files. Version k's contents are the
    * k11 derivation at epoch k: accepted rows of batches ≤ k (per-batch
    * two-value late filter) in windows the eviction horizon
    * wm(data ≤ k−1) has not passed. The oracle replays all Files+1
    * epochs from one ev/wm CTE pair.
    *
    * All catalog values are Longs over integer micro-unit state —
    * exact cross-engine. The per-version reads share ONE drained
    * checkpoint (no re-run per epoch); the result is calendar-sized
    * (#epochs rows), localCheckpoint'd so the checkpoint dir can be
    * reaped before returning (the k9/k10 leak discipline). */
  def snapshotCatalog(s: SparkSession, dir: String,
      provider: Option[String] = None,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame =
      withStateProvider(s, provider) {
    val staged = stageEventsOrdered(s, dir)
    drainToState(s, watermarkedTumblingPlan(s, staged), "append",
        inspect) { ckpt =>
      val commits = Snapshots.committedBatches(s, ckpt)
      val n = Protocol.Files
      require(commits.nonEmpty && commits.max == n.toLong,
        s"expected versions 0..$n ($n data batches + the " +
          s"trailing no-data eviction batch), found max " +
          s"${if (commits.isEmpty) "none" else commits.max.toString} — " +
          "the no-data batch the append-mode eviction contract relies " +
          "on did not run")
      (0L to commits.max).map { k =>
        Snapshots.stateAt(s, ckpt, Some(k))
          .agg(count(lit(1)).as("n_buffers"),
            coalesce(sum(col("value.count")), lit(0L)).as("n_rows"),
            coalesce(sum(col("value.sum")), lit(0L))
              .as("sum_value_micros"))
          .select(lit(k).as("batch_id"), col("n_buffers"),
            col("n_rows"), col("sum_value_micros"))
      }.reduce(_ unionAll _)
    }
  }

  /** The state CHANGE FEED (k13) — the staged watermarked run's state
    * store read as a PER-EPOCH CHANGELOG (`readChangeFeed`,
    * SPARK-45511): one row per (epoch, change) with the update type and
    * the written buffer. k12 lists the epochs' snapshots; this reads
    * the DELTAS between them — the reference's epoch-delta layer (the
    * checkpoint stream sends per-epoch state changes, not full
    * snapshots: `/root/reference/arcon/src/stream/node/mod.rs:406-453`
    * epoch protocol over incremental backend state). Semantics to the
    * oracle: batch k writes one `update` per buffer that absorbed an
    * accepted row in k (the committed value = the running (n, sum) over
    * accepted rows of batches ≤ k), and one `delete` per buffer the
    * epoch-k eviction horizon newly passed. A buffer can legitimately
    * produce BOTH in one epoch (a row accepted at k into a window the
    * k-horizon immediately evicts — possible because the late filter
    * lags eviction by one batch). */
  def stateChangeFeed(s: SparkSession, dir: String,
      provider: Option[String] = None,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame =
      withStateProvider(s, provider) {
    val staged = stageEventsOrdered(s, dir)
    drainToState(s, watermarkedTumblingPlan(s, staged), "append",
        inspect) { ckpt =>
      Snapshots.changeFeed(s, ckpt)
        .select(col("batch_id"), col("change_type"),
          col("key.window.start").as("window_start"),
          col("key.event_type").as("event_type"),
          col("value.count").as("n"),
          col("value.sum").as("sum_value_micros"))
    }
  }

  /** w1's tumbling daily aggregation through the streaming path —
    * the driver-visible streaming-execution oracle row. Identical
    * output contract to the batch `w1_tumbling`, identical oracle. */
  def tumblingDaily(s: SparkSession, dir: String): DataFrame =
    drainComplete(s,
      eventsStream(s, dir)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value")))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stream-STREAM inner interval join through
    * `StreamingSymmetricHashJoinExec`: view events attributed to the
    * same user's purchases within the next 12 hours, BOTH sides live
    * streams over the events source. Append mode; an inner join's
    * output is the exact match set regardless of how the sources
    * micro-batch (each pair emits exactly once, when its second side
    * arrives), so the bounded oracle is the plain batch join — no
    * single-batch assumption anywhere.
    *
    * No watermark, deliberately: with one declared, rows arriving in a
    * later micro-batch but event-timed behind the advanced watermark
    * would be DROPPED (correct streaming semantics, but dependent on
    * the source's batch split — not oracle-checkable on re-ordered
    * bounded input). An unbounded production deployment adds
    * `withWatermark` on both sides so the join state can evict
    * (the range condition then bounds each side's buffer to the band);
    * the join plan itself — user-key exchange into symmetric hash
    * state, range predicate evaluated post-probe — is unchanged. At
    * 100 TB the only wide edge is the key exchange, same as batch j1.
    */
  def attributionJoin(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    drainAppend(s,
      views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") > col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 12 HOURS")),
      inspect)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("purchase_value"))
  }

  /** Streaming key dedup through `StreamingDeduplicateExec`: first
    * occurrence of each (user_id, event_type) pair emits, every later
    * one hits dedup state and is suppressed. The projection keeps ONLY
    * the dedup key columns, so which physical row arrives first cannot
    * show in the output — the emitted set is exactly the distinct key
    * set, batch-split- and order-independent, and the oracle is a plain
    * DISTINCT. Production shape at 100 TB: one key exchange into the
    * dedup state store; with `dropDuplicatesWithinWatermark` the state
    * evicts behind the watermark — same exec, bounded state. */
  def distinctPairs(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    drainAppend(s,
      eventsStream(s, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type"),
      inspect)

  /** The day-N fuzzy ingest gate (dd14,
    * [[graft.operators.Dedup.incrementalMinHash]]) through the ACTUAL
    * streaming path — the production deployment shape, where the crawl
    * batch ARRIVES as a stream and gates against a frozen prior-corpus
    * index: two stateless stream-static left-outer joins (band rows →
    * prior band index; candidates → prior signature table) feeding ONE
    * streaming aggregation (per-doc argmax verdict), complete-mode
    * drain. Identical output contract and DuckDB oracle as batch dd14.
    * Batch doc ids must be UNIQUE (the natural ingest contract): a
    * duplicated non-null id would collapse into one verdict row here
    * (keyed aggregation) while the batch operator emits one row per
    * input row — same caveat as null ids, enforced by the caller.
    *
    * Streaming-legal re-composition of the batch operator, same math:
    * the batch plan's candidate `distinct` is DROPPED (a same-(bid,pid)
    * candidate reached through two bands scores the same jaccard, so
    * the argmax is unaffected — dedup state for nothing); the batch
    * plan's `row_number = 1` best-match window becomes
    * `max_by(value, (jaccard, −pid))` (same (jaccard DESC, pid ASC)
    * pick, null-ordering rows ignored, mergeable across micro-batches);
    * shingle-less docs survive via `posexplode_outer` (null band
    * matches no index row) and emit keep = true, the batch left-join
    * semantics. The batch side carries its shingle set through the
    * band explode (bands× width amplification on the BATCH only — the
    * stream-legal trade for the batch plan's post-candidate signature
    * re-join; the corpus-sized prior stays in its two static tables,
    * exactly the index + signature store a production gate keeps
    * materialized between days).
    *
    * At 100 TB: the prior never rides a stream-batch shuffle — both
    * joins key on (band, band_key) / pid with the static side's
    * exchange planned once per micro-batch over the materialized
    * index; state is one verdict row per batch doc (day-sized, not
    * corpus-sized). Reference bar: arcon's source→operator→state
    * pipeline (`arcon/src/stream/operator/mod.rs:21-54`) has no dedup
    * analog; this is the library's own gate run under the engine's
    * streaming execution. */
  def ingestGate(s: SparkSession, batch: DataFrame, prior: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = graft.operators.Dedup.IngestGateThreshold,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    import graft.functions.TextFunctions.{minHashBandKeys, shingleHashes}
    // the BATCH side keeps null-text docs: their band-key array is null,
    // posexplode_outer emits the one null-band row, the null key matches
    // no index row, and the verdict is keep = true — the same fate the
    // batch operator's final left join gives them. (Null-ID docs are
    // dropped on both paths' candidate sides; the batch operator emits
    // them keep = true while this keyed aggregation would collapse them
    // into one row — don't feed null ids to either.)
    val bandRows = batch.filter(col(idCol).isNotNull)
      .select(col(idCol).as("bid"),
        shingleHashes(col(textCol), shingleK).as("bsh"),
        posexplode_outer(
          minHashBandKeys(col(textCol), shingleK, numHashes, bands))
          .as(Seq("band", "band_key")))
    val verdict = gateAgainstPrior(bandRows, prior, idCol, textCol,
        shingleK, numHashes, bands)
      .select(col("bid"), col("pid"), col("jaccard"))
      .groupBy(col("bid").as(idCol))
      .agg(max_by(struct(col("pid").as("dup_of"), col("jaccard")),
        when(col("jaccard") >= threshold,
          struct(col("jaccard"), (-col("pid")).as("neg")))).as("best"))
    drainComplete(s, verdict, inspect)
      .select(col(idCol), col("best").isNull.as("keep"),
        col("best.dup_of").as("dup_of"), col("best.jaccard").as("jaccard"))
  }

  /** The dd14 gate's probe, shared by [[ingestGate]] and
    * [[curationPipeline]]: stream-side `bandRows` (band, band_key, bsh)
    * left-joined to the prior's band index, then to its shingle sets,
    * with the candidate's `jaccard` (null where no band matched). The
    * prior's two static tables are MATERIALIZED once before the stream
    * starts (localCheckpoint — the pl8 stage-boundary discipline, r22):
    * a stream-static join re-executes the static subplan EVERY
    * micro-batch, so without the boundary every staged drop re-hashed
    * the whole prior corpus's band keys and shingle sets (measured
    * ~6.1 s on pl10: the dominant per-batch cost), and at the drain's
    * state-partition count rather than the session's scan parallelism.
    * This is the production claim — the gate keeps its index + signature
    * store materialized between days — made true in the plan. */
  private def gateAgainstPrior(bandRows: DataFrame, prior: DataFrame,
      idCol: String, textCol: String, shingleK: Int, numHashes: Int,
      bands: Int): DataFrame = {
    import graft.functions.TextFunctions.{jaccardShingles, shingleHashes}
    import graft.operators.Dedup.{incrBandRows, lshInput}
    val index = incrBandRows(prior, idCol, textCol, shingleK, numHashes,
        bands, "pid")
      .localCheckpoint()
    val shingles = lshInput(prior, idCol, textCol).select(col(idCol).as("pid"),
      shingleHashes(col(textCol), shingleK).as("psh"))
      .localCheckpoint()
    bandRows.join(index, Seq("band", "band_key"), "left_outer")
      .join(shingles, Seq("pid"), "left_outer")
      .withColumn("jaccard",
        when(col("pid").isNotNull, jaccardShingles(col("bsh"), col("psh"))))
  }

  /** w1's tumbling daily aggregation in APPEND mode under a REAL
    * advancing watermark — the driver-visible oracle for allowed-
    * lateness semantics (late-data drop + state eviction + finalized-
    * window emission), the behavior
    * `/root/reference/arcon/src/stream/operator/window/assigner.rs:160-165`
    * pins with its `late arrival` guard. The other streaming rows
    * run complete mode on bounded input (a watermark can never pass the
    * final window) or append without a watermark; this one makes the
    * watermark itself deterministic by staging the events table as
    * `Protocol.Files` event-time-ordered files and driving ONE file per
    * micro-batch (`maxFilesPerTrigger = 1` under AvailableNow):
    *
    *  - file k holds the k-th ntile of events by event_id (≈ event
    *    time; the ntile staging is test scaffolding — production files
    *    simply arrive in order), except every `BumpMod`-th event is
    *    BUMPED one file later (a straggler WITHIN the allowed lateness:
    *    it aggregates into its still-open window) and every
    *    `DropMod`-th event from the first Files−3 files is bumped
    *    THREE files later (provably beyond the lateness bound under
    *    this geometry: its window end precedes even the lagged
    *    late-event watermark, so the exec must DROP it — and, never
    *    having touched state, it can never cause a double emission);
    *  - watermarks follow Spark's two-value contract (SPARK-40925,
    *    determined empirically against this very drain): state
    *    EVICTION/emission in batch k uses
    *    `floor(max event-time ms over batches < k) − delay`, while
    *    LATE-EVENT FILTERING uses the previous batch's value (data
    *    through k−2) — dropped rows still advance the watermark, since
    *    the event-time tracker sits source-side of the filter;
    *  - a window EMITS (and its state evicts) in the first batch whose
    *    eviction watermark ≥ window_end; trailing windows the final
    *    watermark (max ts − delay) never passes are held in state
    *    forever and never appear — the append-mode holdback the bounded
    *    complete-mode rows cannot show.
    *
    * All of that is replayed row-for-row by the DuckDB oracle (same
    * ntile, same per-batch running-max watermarks with the one-batch
    * filter lag, same ms-floor), so the streaming exec's
    * drop/evict/emit decisions — not just the window arithmetic — are
    * what the driver checks. Sums are integer micro-units (the w12
    * discipline) for exact cross-engine equality.
    *
    * At 100 TB nothing here is test-shaped: the plan is the same ONE
    * keyed exchange into StateStoreSaveExec (append) every production
    * watermark deployment runs; state holds only open windows (bounded
    * by the window calendar × keys behind the watermark horizon), and
    * the emitted stream is final-on-arrival. */
  def tumblingDailyWatermarked(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageEventsOrdered(s, dir)
    drainAppend(s, watermarkedTumblingPlan(s, staged), inspect)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_micros"))
  }

  /** W25: END-TO-END EVENT-TIME EMISSION LATENCY — the reference
    * `measure()` sink's second metric (per-record latency percentiles,
    * `/root/reference/arcon/src/stream/operator/sink/measure.rs:8-96`)
    * as a driver-checked row. w15's staged watermarked run drains
    * through `foreachBatch` with each emitted (window, event_type) row
    * tagged by its micro-batch; a row's latency is the EVICTION
    * WATERMARK its emitting batch ran under (read from the engine's
    * own progress events, not re-derived from data) minus the window
    * end — i.e. how long past its close the window waited for the
    * allowed-lateness horizon. Output = exact nearest-rank
    * p50/p90/p99/max over the emitted rows (integer ms, no
    * interpolation — bit-stable cross-engine). The oracle replays the
    * per-epoch horizon (hor(k) = max ts(b ≤ k−1) − delay) and each
    * window's emission epoch (the first k whose horizon passed its
    * end), so the ENGINE's choice of emission batch and reported
    * watermark are both pinned — an early emission, a late one, or a
    * wrong watermark all shift a percentile and hash-fail. */
  def emissionLatency(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val staged = stageEventsOrdered(s, dir)
    val outDir = Scratch.dir("graft-latency-out")
    val ckpt = Scratch.dir("graft-latency-ckpt")
    // outDir holds per-batch data parquet — it must not survive ANY
    // failure path (drain error, retention breach, empty protocol),
    // so the whole drain-and-read rides one finally
    val lat =
      try {
        var wmByBatch = Map.empty[Long, Long]
        try drive(s, watermarkedTumblingPlan(s, staged),
            ckpt.toString, _.outputMode("append")
              .foreachBatch { (df: DataFrame, bid: Long) =>
                df.select(col("window.end").as("wend"), col("event_type"))
                  .withColumn("batch_id", lit(bid))
                  .write.mode("append").parquet(outDir.toString)
              }) { q =>
          // the engine's own per-batch eviction watermark (ISO-8601
          // UTC in the progress event) — batch 0 reports the epoch
          // zero watermark, which never emits, so parse failures on
          // it are moot but handled anyway
          wmByBatch = q.recentProgress.toSeq.map { p =>
            p.batchId -> java.time.Instant.parse(
              p.eventTime.get("watermark")).toEpochMilli
          }.toMap
        } finally deleteTree(ckpt)
        val wmExpr = wmByBatch.foldLeft(lit(null).cast("long")) {
          case (acc, (bid, wm)) =>
            when(col("batch_id") === bid, lit(wm)).otherwise(acc)
        }
        val emitted = s.read.parquet(outDir.toString)
        // every emitting batch must have a progress entry:
        // recentProgress retains only the last N updates (default
        // 100), and a batch that fell out would get a NULL watermark —
        // NULLs sort first and silently shift the percentiles. Loud,
        // not quiet.
        val missing = emitted.select(col("batch_id")).distinct()
          .collect().map(_.getLong(0))
          .filterNot(wmByBatch.contains)
        require(missing.isEmpty,
          s"batches ${missing.sorted.mkString(",")} emitted rows but " +
            "carry no progress watermark (recentProgress retention " +
            "exceeded?) — latency percentiles would be silently wrong")
        emitted.withColumn("latency_ms", wmExpr - unix_millis(col("wend")))
          .select(col("latency_ms")).localCheckpoint()
      } finally deleteTree(outDir)
    require(!lat.isEmpty, "no emissions — the staged protocol is broken")
    // exact nearest-rank percentiles (ceil(p·n/100)-th order statistic)
    // + max, as four rows — integer ms end to end
    import org.apache.spark.sql.expressions.Window
    val ranked = lat
      .withColumn("rn", row_number().over(Window.orderBy(col("latency_ms"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    val pcts = Seq(50, 90, 99).map { p =>
      ranked.filter(col("rn") * 100 >= col("n") * p)
        .groupBy().agg(min(col("latency_ms")).as("latency_ms"))
        .select(lit(s"p$p").as("pct"), col("latency_ms"))
    }
    val mx = ranked.groupBy()
      .agg(max(col("latency_ms")).as("latency_ms"))
      .select(lit("max").as("pct"), col("latency_ms"))
    (pcts :+ mx).reduce(_ union _)
  }

  /** W24: EXACTLY-ONCE UNDER A MID-BATCH TASK FAILURE — w15's staged
    * watermarked run with a deliberately injected one-shot task fault
    * ([[FaultInjection]]) in the stage that COMMITS the state store:
    * the probe filter references the aggregation's output column, so
    * it executes inside the `StateStoreSaveExec` task, which dies
    * mid-iteration with uncommitted store updates. Spark's task retry
    * re-runs that partition from shuffle input against the ABORTED
    * store (batch version unchanged) — if the engine leaked the dead
    * task's partial updates or replayed input into committed state,
    * counts/sums would double and the oracle (w15's replay VERBATIM)
    * hash-fails. Every restore row (w18/w20-w23) kills between
    * batches; this is the reference's harder mid-epoch claim
    * (buffered-message replay on failure,
    * `/root/reference/arcon/src/stream/node/mod.rs:406-453`) as a
    * driver-checked row. Requires a retry-tolerant master
    * (`local[n,2]`; production runs `spark.task.maxFailures=4`) — and
    * the run REQUIRES the fault actually fired, so a plan rewrite
    * that elides the probe fails loudly instead of passing as a
    * silently-clean run. */
  def tumblingDailyWatermarkedFaulted(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageEventsOrdered(s, dir)
    // the tag prefix is the QUERY NAME: the bench ledger attributes
    // injected faults by parsing it out of the exception text, which is
    // race-free against the listener bus (the bench's section marker is
    // a volatile that may have advanced by the time the async task-end
    // event is delivered)
    val tag = FaultInjection.freshTag("w24_exactly_once_task_failure")
    val out = drainAppend(s,
      watermarkedTumblingPlan(s, staged)
        .filter(FaultInjection.failOnce(tag, col("n"))), inspect)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_micros"))
    require(FaultInjection.fired(tag),
      s"injected fault '$tag' never fired — the probe was optimized " +
        "away and this run proved nothing")
    out
  }

  /** CHECKPOINT RESTORE under the driver oracle — the reference's
    * headline exactly-once epoch-snapshotting claim
    * (`/root/reference/arcon/src/lib.rs:16-19`; the barrier/replay
    * protocol `/root/reference/arcon/src/stream/node/mod.rs:406-453`)
    * driven through a real kill-and-restart: [[tumblingDailyWatermarked]]'s
    * exact plan is run over the staged files with only the first
    * `Files − 1` visible, stopped after they drain (run 1 commits
    * batches 0..Files−2), the last file is then revealed and a NEW
    * query started on the SAME checkpoint (run 2 — its first executed
    * batch is asserted ≥ Files−1, so it provably resumed rather than
    * reprocessed). The emitted union of the two runs must equal w15's
    * single-run output row for row — the oracle is w15's replay
    * VERBATIM, which makes the restore itself the thing under test:
    * every window emitted after the restart is aggregated from
    * RECOVERED state (+ the last file), the recovered watermark gates
    * the last file's late drops, and nothing double-emits (run 1's
    * emissions evicted their state; a lossy or duplicating restore
    * shows up as a count/sum/row mismatch).
    *
    * Why the oracle can be verbatim (the protocol's one geometric
    * choice): run 1 is driven with no-data micro-batches DISABLED, so
    * it stops exactly where a crash after batch Files−2's commit would
    * — the checkpoint's last offset entry carries watermark
    * wm(data ≤ Files−3). Spark cannot recover the in-memory event-time
    * stats of the last pre-stop batch, so the restarted batch runs with
    * late filter = that recovered value — which, for batch Files−1, is
    * exactly the two-value contract's wm(data ≤ (Files−1)−2) from the
    * uninterrupted run. Restarting anywhere EARLIER would leave some
    * later file filtered against a one-batch-stale watermark (the
    * stats-loss shifts that file's late decisions); restarting before
    * the LAST file is the one point where stats loss is output-
    * invisible. Eviction timing differs (the restarted batch evicts
    * with the recovered watermark, one batch stale) but the trailing
    * no-data batch of run 2 evicts with wm(all data), so the emitted
    * SET is identical — emission timing is not part of the output
    * contract. */
  def tumblingDailyWatermarkedRestored(s: SparkSession, dir: String,
      provider: Option[String] = None,
      inspectRestored: StreamingQuery => Unit = _ => ()): DataFrame =
      withStateProvider(s, provider) {
    val staged = stageEventsOrdered(s, dir)
    runRestored(s, staged,
      dir2 => watermarkedTumblingPlan(s, dir2),
      runOneFiles = Protocol.Files - 1, totalFiles = Protocol.Files,
      noDataBatchesRun1 = Some(false), inspectRestored = inspectRestored)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_micros"))
  }

  /** W26: THE TWO FAILURE MODES COMPOSED — w18's kill-and-restart
    * restore with w24's one-shot task fault injected INTO THE RECOVERED
    * RUN: the query crashes between epochs (run 1 stops at the
    * post-commit point), restarts from its checkpoint, and then a task
    * of the restarted run dies MID-batch holding uncommitted state
    * AND an uncommitted parquet-sink write — the retry must re-run
    * against the aborted store at the recovered version and the file
    * sink's manifest must commit that partition's output exactly once
    * (a leaked pre-retry file would surface as duplicate rows in the
    * final read — the sink side of exactly-once, which w24's memory
    * sink could not test). Oracle = w15's replay VERBATIM: recovery
    * and retry composed are output-invisible. The plan mutation rides
    * a call counter (runRestored invokes planOf once per run), so run
    * 1 is the unmodified w18 geometry and ONLY the recovered run
    * carries the probe; the run REQUIRES the fault fired. */
  def tumblingDailyWatermarkedRestoredFaulted(s: SparkSession, dir: String,
      inspectRestored: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageEventsOrdered(s, dir)
    val tag = FaultInjection.freshTag("w26_exactly_once_restore_retry")
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val out = runRestored(s, staged,
      dir2 => {
        val plan = watermarkedTumblingPlan(s, dir2)
        if (calls.incrementAndGet() >= 2) {
          // run 1 has fully drained by the time run 2's plan is built —
          // the fault must not have fired yet, or the probe leaked into
          // the pre-crash run and this row degrades to w24's claim
          require(!FaultInjection.fired(tag),
            s"fault '$tag' fired BEFORE the restored run's plan was " +
              "built — the run-2-only coupling broke")
          plan.filter(FaultInjection.failOnce(tag, col("n")))
        } else plan
      },
      runOneFiles = Protocol.Files - 1, totalFiles = Protocol.Files,
      noDataBatchesRun1 = Some(false), inspectRestored = inspectRestored)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_micros"))
    // the run-2-only gating rests on runRestored invoking planOf exactly
    // once per run — pin that coupling so a protocol change that calls
    // it again fails HERE, not by silently moving the fault into run 1
    require(calls.get() == 2,
      s"runRestored built ${calls.get()} plans (expected 2: one per " +
        "run) — the run-2-only fault coupling no longer holds")
    require(FaultInjection.fired(tag),
      s"injected fault '$tag' never fired in the restored run — the " +
        "probe was optimized away and this run proved nothing")
    out
  }

  /** The kill-and-restart protocol shared by every restore row — w18
    * (tumbling aggregation state), w20 (custom-operator GroupState),
    * w21 (w18 under RocksDB+changelog) and w22 (merging session
    * state): reveal the first `runOneFiles` staged files into a
    * query-private symlink dir (the shared staged cache is never
    * mutated), drive `planOf(revealDir)` into a DURABLE parquet sink
    * (run 1 — recovery requires a fault-tolerant sink: the memory sink
    * refuses, its contents die with the query, exactly what the
    * exactly-once contract must survive; `noDataBatchesRun1 =
    * Some(false)` stops run 1 at the post-commit point a crash would
    * leave, the w18 geometry), reveal the remaining files, and start a
    * NEW query on the SAME checkpoint (run 2) — asserted to RESUME
    * (first executed batch ≥ runOneFiles, and input was processed).
    * The parquet sink's _spark_metadata commit log is
    * checkpoint-coupled, so the final read sees exactly the committed
    * union of both runs — the production deployment shape. ONE
    * implementation so a protocol fix lands in every restore row
    * (advisor-r17 discipline). */
  private def runRestored(s: SparkSession, staged: String,
      planOf: String => DataFrame, runOneFiles: Int, totalFiles: Int,
      noDataBatchesRun1: Option[Boolean],
      inspectRestored: StreamingQuery => Unit): DataFrame = {
    import java.nio.file.{Files, Paths}
    val reveal = Scratch.dir("graft-stream-restore")
    val ckpt = Scratch.dir("graft-stream-restore-ckpt")
    val out = Scratch.dir("graft-stream-restore-out")
    def reveal1(k: Int): Unit = {
      Files.createSymbolicLink(reveal.resolve(stagedFile(k)),
        Paths.get(staged, stagedFile(k)))
    }
    try {
      (0 until runOneFiles).foreach(reveal1)
      drive(s, planOf(reveal.toString), ckpt.toString,
        parquetSink(out.toString), noDataBatchesRun1)(_ => ())
      (runOneFiles until totalFiles).foreach(reveal1)
      drive(s, planOf(reveal.toString), ckpt.toString,
        parquetSink(out.toString))(
        q => {
          val progresses = q.recentProgress
          require(progresses.nonEmpty &&
            progresses.map(_.batchId).min >= runOneFiles,
            s"restore run re-executed early batches (ids " +
              s"${progresses.map(_.batchId).sorted.mkString(",")}) — the " +
              "checkpoint was not resumed")
          require(progresses.map(_.numInputRows).sum > 0,
            "restore run processed no input — the revealed files were " +
              "not picked up")
          inspectRestored(q)
        })
      s.read.parquet(out.toString).localCheckpoint()
    } finally {
      Application.releaseStateStores()
      deleteTree(ckpt)
      deleteTree(reveal)
      deleteTree(out)
    }
  }

  /** w9's SESSION windows in APPEND mode under a REAL advancing
    * watermark — the session analog of [[tumblingDailyWatermarked]],
    * and the driver-visible oracle for `MergingSessions` eviction: the
    * reference's allowed-lateness guard
    * (`/root/reference/arcon/src/stream/operator/window/assigner.rs:160-165`)
    * applied to gap-merged windows rather than calendar ones. Same
    * staged-file protocol (ONE event-time-ordered file per micro-batch,
    * [[watermarkBatchIndex]] stragglers), same two-value watermark
    * contract (SPARK-40925: late-event filtering lags eviction by one
    * batch), but the stateful exec is
    * `SessionWindowStateStoreRestore/SaveExec`: a within-lateness
    * straggler MERGES into its still-open session in state (possibly
    * bridging two open sessions into one), a beyond-lateness straggler
    * drops before touching state, and a session EMITS (state evicted)
    * in the first batch whose eviction watermark passes its end.
    *
    * Why a flat oracle replay is exact here (the session-specific
    * proof obligation — merging makes emitted output ORDER-dependent in
    * general): a session already emitted can never receive another
    * accepted row under this geometry. Eviction in batch k uses
    * `maxTs(batches < k) − delay`, so any already-evicted session ended
    * ≥ 2 days before the newest pre-k event, while every batch-k row —
    * natural or one-file-bumped — carries a timestamp within one
    * ~6-day file span of that maximum; for the bumped stragglers the
    * gap between their timestamp and any evicted session's end is
    * ≥ delay (2 days) minus nothing, and the session gap is 30 MINUTES.
    * No accepted row can therefore land within `gap` of an evicted
    * session, so the exec's incremental merge/evict equals the batch
    * gaps-and-islands over the accepted rows, restricted to islands the
    * final eviction watermark passed — exactly what the DuckDB oracle
    * computes. Sums are integer micro-units (the w12 discipline).
    *
    * At 100 TB: one keyed exchange into the session-merging state
    * store, state bounded by OPEN sessions behind the horizon (a gap
    * of minutes + a delay of days keeps per-key state to the sessions
    * of the lateness window, not history), emitted sessions final on
    * arrival. */
  def sessionWatermarked(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageEventsOrdered(s, dir)
    sessionReadout(
      drainAppend(s, sessionPlan(s, staged), inspect))
  }

  /** The staged watermarked SESSION aggregation — ONE plan definition
    * shared by w16 (single run) and w22 (kill-and-restart), the
    * watermarkedTumblingPlan discipline. Its flat oracle needs gap ≪
    * delay, which [[Protocol]] checks. */
  private def sessionPlan(s: SparkSession, stagedDir: String): DataFrame =
    stagedStream(s, stagedDir)
      .withWatermark("ts", s"${Protocol.DelayDays} days")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"${Protocol.GapMinutes} minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6)).cast("long"))
          .as("sum_value_micros"))

  /** The w16/w22 output contract — one projection for both the single
    * run and the restored run, so the "restore is output-invisible"
    * compare can never diverge on column shape. */
  private def sessionReadout(df: DataFrame): DataFrame =
    df.select(col("user_id"),
      col("session_window.start").as("session_start"),
      col("session_window.end").as("session_end"),
      col("n_events"), col("sum_value_micros"))

  /** W22: CHECKPOINT RESTORE FOR SESSION STATE — [[sessionWatermarked]]
    * through the [[runRestored]] kill-and-restart: run 1 drains the
    * first Files−1 staged drops (no-data batches off), committing the
    * OPEN sessions — gap-merged, variable-extent state rows, a
    * different recovery surface from w18's calendar buffers and w20's
    * scalar GroupState — then a NEW query on the same checkpoint
    * drains the last drop: within-lateness stragglers must MERGE into
    * RECOVERED open sessions (possibly bridging two recovered sessions
    * into one), and the trailing no-data batch evicts with wm(all).
    * Oracle = w16's replay VERBATIM. The w18 restart-geometry argument
    * carries over unchanged: the late filter of the restarted batch
    * runs with the recovered watermark wm(data ≤ Files−3), which for
    * batch Files−1 IS the two-value contract's value, so restarting
    * before the LAST file is the one output-invisible restart point —
    * the argument is about the watermark protocol, not the state
    * layout, which is exactly what makes it reusable across the
    * stateful execs (`MergingSessionsExec` here). */
  def sessionWatermarkedRestored(s: SparkSession, dir: String,
      inspectRestored: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageEventsOrdered(s, dir)
    sessionReadout(runRestored(s, staged,
      dir2 => sessionPlan(s, dir2),
      runOneFiles = Protocol.Files - 1, totalFiles = Protocol.Files,
      noDataBatchesRun1 = Some(false), inspectRestored = inspectRestored))
  }

  /** w10's stream-stream interval join WITH watermarks on both sides —
    * `StreamingSymmetricHashJoinExec` under real state eviction, the
    * last of the reference's late-data behaviors
    * (`/root/reference/arcon/src/stream/operator/window/assigner.rs:160-165`
    * applied to two-sided join state) to come under the driver oracle.
    * Same staged-file protocol as w15/w16; BOTH sides stream the same
    * staged dir (each `FileStreamSource` lists it independently, so
    * batch k carries file k on both sides). The watermarks are
    * PER-SIDE: Catalyst pushes the event-type predicate below the
    * `EventTimeWatermark` node (it does not reference the event-time
    * column), so each side's tracker advances on its own rows only and
    * the query's global watermark is the MINIMUM of the two — verified
    * against the per-batch progress trace, and exactly the production
    * shape (a views topic and a purchases topic advancing
    * independently). LEFT OUTER
    * rather than inner, deliberately: an inner join's output never
    * shows eviction (matches emit on arrival), but the outer join's
    * null-extended rows emit ONLY when the left row's state evicts —
    * i.e. when the eviction watermark passes its last possible match
    * time (`view.ts + window`) — and views the final watermark never
    * passes are held in state forever, the join analog of w15's
    * trailing-window holdback. Beyond-lateness stragglers drop at the
    * exec on BOTH sides before touching state.
    *
    * Why the flat oracle is exact: Spark sizes each side's state
    * watermark from the range condition precisely so that a stored row
    * is evicted only once no future row surviving the late filter can
    * match it. Under the two-value contract, a purchase that would
    * have matched an already-evicted view satisfies
    * `p.ts ≤ v.ts + window < late_wm(k)` — i.e. it is dropped as late
    * before it could miss the match; symmetrically for views against
    * evicted purchases (a view matches only purchases LATER than it).
    * Matched output is therefore exactly {accepted view × accepted
    * purchase} under the join condition, and the null-extended rows
    * are the accepted views with no accepted match whose horizon the
    * final eviction watermark passed.
    *
    * At 100 TB: the production shape — two keyed exchanges into the
    * symmetric join, per-side state bounded by the range condition ×
    * the lateness delay (12 h + 2 days of events per user, never
    * history), matched rows final on arrival.
    *
    * Bench-cell cost note: this is the most state-store-intensive drain
    * in the suite BY CONSTRUCTION — `StreamingSymmetricHashJoinExec`
    * maintains FOUR stores per partition (keyToNumValues +
    * keyWithIndexToValue, each side) against `StateStoreSaveExec`'s
    * one, so the 6-micro-batch protocol pays ~4× w15's per-batch
    * commit machinery (measured 6.7 s vs 2.7 s at sf0.1). Per-batch
    * state commits, not the join plan, dominate — the same
    * protocol-bound adjudication as the wave leg's stateCommit bound
    * (r14 receipt). */
  def intervalJoinWatermarked(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageEventsOrdered(s, dir)
    // each side through the DSL's withPerSideWatermark — the API
    // contract for the executed per-side tracker (the event-type filter
    // lands below the watermark node, so each side advances on its own
    // rows and the global watermark is the min of the two)
    def side(pred: org.apache.spark.sql.Column) =
      new graft.api.Stream(stagedStream(s, staged),
        graft.api.SourceConf[org.apache.spark.sql.Row]())
        .withPerSideWatermark("ts", s"${Protocol.DelayDays} days", pred).ds
    val views = side(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val purchases = side(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    val joined = views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("view_ts") &&
        col("purchase_ts") <=
          col("view_ts") + expr(s"INTERVAL ${Protocol.WindowHours} HOURS"),
      "left_outer")
    drainAppend(s, joined, inspect)
      .select(col("view_id"), col("user_id"), col("view_ts"),
        col("purchase_id"), col("purchase_ts"))
  }

  /** The staged replay protocol's geometry: the one home of every value
    * the stagers, the staged rows and their DuckDB oracles share (the
    * oracles in `graft.queries` interpolate these, and [[batchIndexSql]]
    * is the SQL twin of [[watermarkBatchIndex]]).
    *
    *  - Staged events (w15–w26, k10–k15): `Files` drops by event_id
    *    ntile under a `DelayDays` watermark delay; every `BumpMod`-th
    *    event arrives one drop late, every `DropMod`-th event of the
    *    first `Files − 3` drops three late. w16/w22 merge sessions at a
    *    `GapMinutes` gap, w17 joins within `WindowHours`, k11 reads the
    *    state committed by batch `TimeTravelBatch`.
    *  - w19's dedup drops: every `NearMod`-th event re-sent one drop
    *    later, every `FarMod`-th (not also `NearMod`-th) three later.
    *  - Staged documents and embeddings (pl10–pl15, w20): `Drops` drops;
    *    pl11/w20 admit `Budget` tokens per source; pl13/pl15 assign
    *    `Cells` IVF cells, and pl15 serves the top `K` from `NProbe`
    *    probed cells.
    *
    * The geometry's preconditions are checked once, here. */
  object Protocol {
    val Files = 5
    val DelayDays = 2
    val DelayMs: Long = DelayDays * 86400000L
    val BumpMod = 97
    val DropMod = 89
    val GapMinutes = 30
    val GapUs: Long = GapMinutes * 60000000L
    val WindowHours = 12
    val WindowUs: Long = WindowHours * 3600000000L
    val NearMod = 7
    val FarMod = 11
    val TimeTravelBatch = 2L

    val Drops = 4
    // ~60% of a source's sf0.01 token total: every source exhausts its
    // budget mid-protocol, so the cross-batch state is load-bearing
    val Budget = 800L
    val Cells = 8
    val NProbe = 2
    val K = 5

    require(Files > 4,
      "need Files > 4 so the +3 stragglers and the far retransmissions exist")
    // sessionWatermarked's flat oracle: an accepted straggler's distance
    // to any evicted session's end is >= the delay, which must exceed the
    // merge gap by a wide margin (see its scaladoc)
    require(GapMinutes * 60000L * 8L <= DelayMs,
      s"the w16 flat oracle requires gap << delay (got gap ${GapMinutes}m " +
        s"vs delay ${DelayDays}d)")

    /** [[watermarkBatchIndex]] in SQL: the one spelling every oracle's
      * `ev` interpolates, valid in DuckDB and Spark SQL alike. */
    val batchIndexSql: String =
      s"""least(${Files - 1}, ntile($Files) OVER (ORDER BY event_id) - 1
         |      + CASE WHEN event_id % $BumpMod = 0 THEN 1 ELSE 0 END
         |      + CASE WHEN ntile($Files) OVER (ORDER BY event_id) - 1 <= ${Files - 4}
         |             AND event_id % $DropMod = 0 THEN 3 ELSE 0 END)""".stripMargin
  }

  /** The staged batch index of [[tumblingDailyWatermarked]] — ONE
    * definition shared by the staging writer and the replay specs, with
    * [[Protocol.batchIndexSql]] its DuckDB twin, so the oracle can never
    * drift from the files the stream actually reads: base file = event_id
    * ntile, +1 for the allowed-late stragglers, +3 (from the first
    * `Files − 3` files only, so the cap cannot soften their lateness) for
    * the beyond-lateness set, capped at the last file. */
  def watermarkBatchIndex: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.expressions.Window
    import Protocol.{BumpMod, DropMod, Files}
    val b0 = ntile(Files).over(Window.orderBy(col("event_id"))) - 1
    least(lit(Files - 1),
      b0 + when(pmod(col("event_id"), lit(BumpMod)) === 0, 1).otherwise(0)
        + when(b0 <= Files - 4 &&
            pmod(col("event_id"), lit(DropMod)) === 0, 3).otherwise(0))
  }

  /** Stage the events table as `Protocol.Files` files in batch order
    * ([[watermarkBatchIndex]]) — the input of every staged watermark
    * row but w19 (w15–w26, k10–k15).
    * The ntile needs a global sort: test scaffolding only. */
  private[streaming] def stageEventsOrdered(s: SparkSession, dir: String): String = {
    import Protocol.{BumpMod, DropMod, Files}
    // the staged projection — part of the cache key, so widening it
    // (w16 added user_id for the session drain) invalidates stale dirs
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    stage(s, "events", dir, Seq(Files, BumpMod, DropMod, cols.mkString(",")),
        Files)(
      graft.Tables.events(s, dir).select(cols.map(col): _*)
        .withColumn("__b", watermarkBatchIndex))
  }

  /** The staged file name of batch `k` — what the file source delivers
    * as micro-batch k, and what the restore protocol reveals. */
  private[streaming] def stagedFile(k: Int): String = f"b$k%03d.parquet"

  /** The ONE stager behind every replayable, ordered source: write
    * `rows` as `nBatches` single-parquet files, file k ([[stagedFile]])
    * holding the rows whose `__b` is k (`__b` dropped), with strictly
    * increasing modification times so FileStreamSource delivers them in
    * exactly this order. Staged once per (`kind`, `dir`, source
    * fingerprint, `key`) and reused, under the root
    * `graft-stream-<kind>-<idTag>-<fpTag>` in `java.io.tmpdir`: `idTag`
    * hashes (`kind`, `dir`, `key`), where `key` carries the kind's
    * parameters and projected columns, and `fpTag` is the fingerprint
    * ([[sourceFingerprint]]), which follows the CONTENT of the source
    * table, so regenerating it in place invalidates the cache instead
    * of silently replaying stale data against a fresh oracle. `rows` is
    * built only on a miss: ONE sort checkpoint, then one filtered write
    * per file, into a process-private build dir published with ONE
    * atomic rename ([[publishStaged]]) — a concurrent reader sees the
    * complete dir or none. Once published, every other complete root of
    * the same `<kind>-<idTag>` (a superseded fingerprint) is deleted;
    * roots of other sources are never touched.
    *
    * Every staged file is asserted NON-EMPTY: the oracles replay
    * per-batch watermarks and drop assignments, so an empty file (a
    * micro-batch that advances the batch counter but not the watermark)
    * would silently desynchronize the replay from the exec by one batch. */
  private def stage(s: SparkSession, kind: String, dir: String,
      key: Seq[Any], nBatches: Int)(rows: => DataFrame): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val idTag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        (Seq(kind, dir) ++ key).mkString("|")))
    val prefix = s"graft-stream-$kind-$idTag-"
    val root = Paths.get(System.getProperty("java.io.tmpdir"),
      prefix + sourceFingerprint(dir))
    if (Files.exists(root.resolve("_STAGED"))) return root.toString
    val build = Paths.get(s"$root.build-${java.lang.ProcessHandle.current().pid()}")
    val tmp = build.resolve("tmp")
    Files.createDirectories(build)
    val sorted = rows.localCheckpoint() // one sort, nBatches filtered writes
    (0 until nBatches).foreach { k =>
      val batch = sorted.filter(col("__b") === k).drop("__b")
        .coalesce(1).localCheckpoint()
      require(!batch.isEmpty, s"staged $kind batch $k is empty — an empty " +
        "micro-batch desynchronizes the oracle's per-batch replay")
      batch.write.mode("overwrite").parquet(tmp.toString)
      val part = scala.util.Using.resource(Files.list(tmp))(_.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get)
      val dst = build.resolve(stagedFile(k))
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + k * 60000L))
    }
    deleteTree(tmp)
    publishStaged(build, root)
    val sibling = (java.util.regex.Pattern.quote(prefix) + "[0-9a-f]+").r
    scala.util.Using.resource(Files.list(root.getParent))(_.iterator().asScala
      .filter(p => p != root && sibling.matches(p.getFileName.toString) &&
        Files.exists(p.resolve("_STAGED"))).toList)
      .foreach(deleteTree)
    root.toString
  }

  /** Publish a fully-built staging dir: mark `build` complete
    * (_STAGED), then ONE atomic rename into `root`. The build dir
    * either becomes the root (success), or a racing winner's complete
    * dir is adopted, or a STALE partial root (a crashed pre-publish
    * builder — no _STAGED marker) is cleared and the publish retried
    * once; the private build dir is best-effort removed in every losing
    * path (a no-op when the move succeeded). */
  private def publishStaged(build: java.nio.file.Path,
      root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.createFile(build.resolve("_STAGED"))
    try {
      try Files.move(build, root, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileSystemException
            if Files.exists(root.resolve("_STAGED")) =>
          () // lost the publish race: adopt the winner's complete dir
        case _: java.nio.file.FileSystemException =>
          deleteTree(root)
          try Files.move(build, root, StandardCopyOption.ATOMIC_MOVE)
          catch {
            case _: java.nio.file.FileSystemException
                if Files.exists(root.resolve("_STAGED")) => ()
          }
      }
    } finally deleteTree(build)
  }

  /** Best-effort recursive delete (reverse walk order: children first);
    * silently tolerates a missing or concurrently-removed path. */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    scala.util.Try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    ()
  }

  /** Stage the WITHIN-WATERMARK dedup protocol (w19): original events
    * in event_id-ntile order (file k = k-th ntile, every row "on time"
    * in its own file), plus planted RETRANSMISSIONS of the dedup key:
    *
    *  - every `NearMod`-th event re-sent ONE file later at ts + 1 day —
    *    inside the 2-day dedup horizon, so its key is still in state
    *    and the exec must DROP it;
    *  - every `FarMod`-th event (not also `NearMod`-divisible) re-sent
    *    THREE files later at ts + 5 days — far enough that the
    *    original's state entry (expiry = ts + delay) may have been
    *    evicted by that batch's watermark, in which case the key
    *    legitimately RE-EMITS (the documented within-watermark
    *    guarantee: dedup is promised only within the delay).
    *
    * Retransmissions are planted only where their file index stays
    * strictly past the original's (b0 bounds below): a key never
    * appears twice in one micro-batch, so which occurrence "wins" is
    * never an intra-batch race and the per-row replay is exact. The
    * oracle replays per key: first accepted occurrence emits; a second
    * accepted occurrence emits iff the first's expiry fell behind its
    * batch's eviction watermark. */
  private[graft] def stageDedupOrdered(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.expressions.Window
    import Protocol.{FarMod, Files, NearMod}
    stage(s, "dedup", dir, Seq(Files, NearMod, FarMod, "event_id,ts"), Files) {
      val base = graft.Tables.events(s, dir)
        .select(col("event_id"), col("ts"))
        .withColumn("b0", ntile(Files).over(Window.orderBy(col("event_id"))) - 1)
      val near = base
        .filter(col("event_id") % NearMod === 0 && col("b0") <= Files - 2)
        .select(col("event_id"),
          (col("ts") + expr("INTERVAL 1 DAY")).as("ts"),
          (col("b0") + 1).as("__b"))
      val far = base
        .filter(col("event_id") % FarMod === 0 &&
          col("event_id") % NearMod =!= 0 && col("b0") <= Files - 4)
        .select(col("event_id"),
          (col("ts") + expr("INTERVAL 5 DAY")).as("ts"),
          (col("b0") + 3).as("__b"))
      base.select(col("event_id"), col("ts"), col("b0").as("__b"))
        .union(near).union(far)
    }
  }

  /** W19: streaming dedup with BOUNDED state —
    * `dropDuplicatesWithinWatermark` / the
    * `StreamingDeduplicateWithinWatermark` exec, the state-evicting
    * dedup [[graft.api.Stream.distinct]] already routes watermarked
    * streams through (w11 drives the unbounded-state
    * `StreamingDeduplicate`; this drives the 100 TB/day variant whose
    * per-key fingerprint EXPIRES once the watermark passes its event
    * time + delay). The staged retransmission protocol
    * ([[stageDedupOrdered]]) makes every drop/expire/re-emit decision
    * deterministic, and the oracle replays them row for row: a near
    * retransmission (+1 day, within the delay) must be suppressed, a
    * far one (+5 days) must re-emit exactly when the original's state
    * expired behind the eviction watermark — BOTH halves of the
    * within-watermark contract (suppression while covered, honest
    * re-emission after) under the driver oracle. Output is the emitted
    * row itself (event_id, ts): a re-emission is visible as the same
    * key with the retransmission timestamp.
    *
    * Empirically pinned eviction lag (the round's one new watermark
    * fact, determined against this drain): the probe of batch b sees
    * state as last evicted at the END of batch b−1 — i.e. with
    * wm(data ≤ b−2) — so a retransmission re-emits iff
    * `first ts + delay < wm(data ≤ b−2)`, ONE batch more lag than the
    * aggregates' emission rule (which uses wm(data ≤ b−1): eviction
    * there happens at the end of the SAME batch, after input). The
    * first replay attempt with the aggregate rule admitted 37 phantom
    * re-emissions at sf0.001; the lagged rule matches hash-exactly. */
  def dedupWithinWatermark(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageDedupOrdered(s, dir)
    val plan = stagedStream(s, staged)
      .withWatermark("ts", s"${Protocol.DelayDays} days")
      .dropDuplicatesWithinWatermark("event_id")
    drainAppend(s, plan, inspect)
      .select(col("event_id"), col("ts"))
  }

  /** The pl10 sentinel document id: divisible by BOTH ingest-derivation
    * mods (10 and 13), so every derived branch of the curation stream
    * carries a sentinel row and no branch's event-time tracker can hold
    * the global watermark back; far above any real or derived doc id. */
  private[streaming] val CurationSentinelId = 130000000L

  /** The staged crawl-drop arrival time of day `k`: noon UTC of day k
    * from 2020-01-01 (the noon offset keeps every arrival strictly
    * inside its day window). */
  private def curationArrival(k: org.apache.spark.sql.Column) =
    timestamp_seconds(lit(1577880000L) + lit(86400L) * k)

  /** Stage the documents table as `Protocol.Drops` single-parquet crawl drops
    * by doc_id ntile — file k carrying `arrival_ts` = day k noon — plus
    * ONE far-future sentinel row (day 1000) as a final file. The
    * sentinel's only job is to advance the watermark past every real
    * day so the append-mode curation windows flush (a bounded stream's
    * watermark otherwise never passes the last day); its own windows
    * are held in state forever and never emitted, so it is invisible in
    * the output — the day-close punctuation a production feed gets from
    * the next day's first arrival. */
  private[graft] def stageDocsOrdered(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.expressions.Window
    import Protocol.Drops
    stage(s, "docs", dir, Seq(Drops, "doc_id,text,source,arrival_ts"),
        Drops + 1) {
      val sentinel = s.range(1).select(lit(CurationSentinelId).as("doc_id"),
        lit("sentinel close of feed").as("text"), lit("sentinel").as("source"),
        lit(Drops).as("__b"), curationArrival(lit(1000)).as("arrival_ts"))
      graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
        .withColumn("__b", ntile(Drops).over(Window.orderBy(col("doc_id"))) - 1)
        .withColumn("arrival_ts", curationArrival(col("__b")))
        .union(sentinel)
    }
  }

  /** The STREAMING curation pipeline (pl10) — the LLM-data operators
    * composed on the streaming path, the reference's actual deployment
    * shape (`/root/reference/arcon/examples/stateful.rs` lineage:
    * source → stateless transforms → keyed windowed state): staged
    * crawl drops arrive one file per micro-batch, each derived ingest
    * doc is gated against the frozen prior corpus by the dd14 MinHash
    * band gate (two stream-static left joins — the prior never rides a
    * stream shuffle) and scored by the stateless x15 Gopher battery,
    * then TWO CHAINED streaming window aggregations
    * (`StateStoreSaveExec` × 2, Spark's multiple-stateful-operator
    * path) produce per-(day, source, fate) accept/reject counts in
    * APPEND mode under a real advancing watermark:
    *
    *  - agg 1 groups (day window, doc) and reduces the band-join rows
    *    to one verdict per doc: `is_dup` = any candidate at
    *    jaccard ≥ threshold (the gate's keep test needs EXISTS, not the
    *    argmax — so the verdict is mergeable across micro-batches),
    *    plus the doc's constant source and Gopher flag;
    *  - agg 2 re-windows agg 1's emitted verdicts (`window(window)`,
    *    the chained-aggregation contract) into the fate counts.
    *
    * A day's counts therefore emit only after the watermark passes the
    * day — the sentinel drop ([[stageDocsOrdered]]) closes the feed —
    * and each emission is final-on-arrival: the daily curation report a
    * production ingest publishes. The oracle replays the whole
    * composition in SQL (same ntile drop assignment, dd14's band CTEs,
    * x15's battery) grouped by (day, source, fate).
    *
    * Derivation and gates arrive as ARGUMENTS (the ingest-batch rule is
    * `DedupQueries.incrBatchKeeping`, its oracle CTE
    * `OracleSql.ingestBatchCte`; the Gopher gate is
    * [[graft.operators.GopherRules.keep]]) so each stays
    * single-sourced. At 100 TB: the stream side shuffles band keys and
    * day×doc verdicts (day-sized, never corpus-sized); the prior's two
    * static tables are the materialized index a production gate keeps
    * between days; state is one row per open (day, doc) + one per open
    * (day, source, fate). */
  def curationPipeline(s: SparkSession, stagedDir: String, prior: DataFrame,
      deriveBatch: DataFrame => DataFrame,
      gopherKeep: org.apache.spark.sql.Column,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    import graft.functions.TextFunctions.{minHashBandKeys, shingleHashes}
    // built first: its constructor checks the band parameters before
    // the staged source is touched
    val bandKeys = minHashBandKeys(col("text"), shingleK, numHashes, bands)
    // watermark ABOVE the derivation union: one tracker fed by every
    // derived row (declaring it on the source would let Catalyst push
    // the derivation filters below the watermark node and split the
    // tracker per branch — the w17 per-side behavior, unwanted here)
    val batch = deriveBatch(stagedStream(s, stagedDir))
      .withWatermark("arrival_ts", "1 hour")
    val bandRows = batch.filter(col("doc_id").isNotNull)
      .select(col("arrival_ts"), col("source"), gopherKeep.as("gq"),
        col("doc_id").as("bid"),
        shingleHashes(col("text"), shingleK).as("bsh"),
        posexplode_outer(bandKeys).as(Seq("band", "band_key")))
    val verdicts = gateAgainstPrior(bandRows, prior, "doc_id", "text",
        shingleK, numHashes, bands)
      .select(col("arrival_ts"), col("source"), col("gq"), col("bid"),
        col("jaccard"))
    val perDoc = verdicts
      .groupBy(window(col("arrival_ts"), "1 day"), col("bid"))
      .agg(any_value(col("source")).as("source"),
        any_value(col("gq")).as("gq"),
        max(coalesce(col("jaccard") >= threshold, lit(false))).as("is_dup"))
    val counts = perDoc
      .select(col("window"), col("source"),
        when(col("is_dup"), lit("near_dup"))
          .when(!col("gq"), lit("low_quality"))
          .otherwise(lit("kept")).as("fate"))
      .groupBy(window(col("window"), "1 day"), col("source"), col("fate"))
      .agg(count(lit(1)).as("n_docs"))
    drainAppend(s, counts, inspect)
      .select(col("window.start").as("window_start"), col("source"),
        col("fate"), col("n_docs"))
  }

  /** STREAMING TOKEN-BUDGET ADMISSION (pl11) — the per-source training
    * quota enforced on the ingest path: each source admits documents in
    * arrival order while its RUNNING token total fits the budget, and
    * once a document overflows, that source is closed (the first-
    * overflow-closes rule makes "admitted" = the rows whose inclusive
    * running total ≤ budget, since the total never decreases). The
    * running total is a per-source `GroupState[Long]` carried ACROSS
    * micro-batches through `FlatMapGroupsWithStateExec` — most sources
    * exhaust their budget in a LATER drop than they started in, so the
    * admission decisions visibly depend on state recovered between
    * batches, and each emitted row carries its `cum_tokens` so the
    * state trajectory itself is oracle-checked, not just the admit set.
    * This is the reference's per-key ValueState rolling-counter shape
    * (`/root/reference/arcon/examples/stateful.rs`;
    * `arcon/src/stream/operator/mod.rs:21-54`) doing the job a 100 TB
    * curation feed actually needs it for: budget caps per source/
    * domain (the mx4 batch recipe, moved onto the stream).
    *
    * Admission order contract: [[stageDocsOrdered]] splits by doc_id
    * ntile, so drop k carries a contiguous ascending doc_id range and
    * (arrival batch, doc_id) order IS global doc_id order — the oracle
    * is one window cumsum per source over the raw table. The
    * within-batch ordering sort and its BOUNDED-DROP assumption (one
    * source's rows of one drop materialize on the executor; the
    * firehose alternative is a pre-shuffle secondary sort) are
    * documented on [[tokenBudgetPlan]], the shared plan. At
    * 100 TB: ONE exchange on source; state is a single Long per
    * source; output is the admitted prefix, never the corpus.
    *
    * Token counts are integer ([[graft.functions.TextFunctions
    * .tokenCount]], replayed by the oracle as
    * `len(string_split(text,' '))`), so every cum_tokens is exact
    * cross-engine. The staged sentinel row (far-future feed-close
    * punctuation, not a document) is excluded by id. */
  def tokenBudgetAdmission(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageDocsOrdered(s, dir)
    drainAppend(s, tokenBudgetPlan(s, staged, Protocol.Budget), inspect)
  }

  /** The pl11 admission plan over an already-staged drop directory —
    * ONE plan definition shared by [[tokenBudgetAdmission]] (single
    * run) and [[tokenBudgetAdmissionRestored]] (kill-and-restart on
    * the same checkpoint): any plan edit lands in both, so the w20
    * "restore is output-invisible" contract breaks loudly instead of
    * silently desynchronizing (the watermarkedTumblingPlan
    * discipline).
    *
    * Within a micro-batch the group's rows are sorted by doc_id before
    * folding (a shuffled group's iterator order is not deterministic).
    * BOUNDED-DROP ASSUMPTION: that sort materializes ONE source's rows
    * of ONE micro-batch (`rows.toSeq`) on the executor — fine when a
    * drop is a bounded crawl-day slice (the staged protocol and the
    * production shape it models: per-source daily volume ≪ executor
    * memory), but a FIREHOSE feed whose single micro-batch carries an
    * unbounded per-source row count would need the sort moved into the
    * engine: pre-shuffle secondary sort on (source, doc_id) —
    * `repartition($"source").sortWithinPartitions("source", "doc_id")`
    * feeding a mapPartitions fold, or TransformWithState's list-state
    * accumulation — so no per-group Seq ever materializes.
    * TokenBudgetSpec pins the multi-drop single-source feed this
    * bound is about. */
  private[streaming] def tokenBudgetPlan(s: SparkSession, stagedDir: String,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    val docs = stagedStream(s, stagedDir)
      .filter(col("doc_id").isNotNull && col("text").isNotNull &&
        col("doc_id") < CurationSentinelId)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .as("n_tokens"))
      .as[TokenDoc]
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, rows: Iterator[TokenDoc],
            state: GroupState[Long]) => {
          var total = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).flatMap { r =>
            total += r.n_tokens
            if (total <= budget)
              Some(AdmittedDoc(r.doc_id, source, r.n_tokens, total))
            else None
          }
          state.update(total)
          out.iterator
        })
      .toDF()
  }

  /** W20: CHECKPOINT RESTORE FOR OPERATOR STATE — w18 proves the
    * built-in aggregation layout recovers; this proves the CUSTOM
    * operator's `GroupState` does, the other half of the reference's
    * epoch-snapshotting claim (operator state is persisted by the same
    * barrier protocol as window state:
    * `/root/reference/arcon/src/stream/node/mod.rs:461-507` snapshots
    * every registered state backend at the epoch marker). The pl11
    * token-budget admission runs over the staged crawl drops with only
    * the first `Drops − 1` data files visible, stops (run 1 commits
    * each source's mid-protocol running total as GroupState), then the
    * remaining files are revealed and a NEW query starts on the SAME
    * checkpoint through the durable parquet sink — asserted to resume
    * (first executed batch ≥ Drops − 1), so every post-restart
    * admission is gated by a RECOVERED running total, not a recomputed
    * one. The emitted union of both runs must equal pl11's single-run
    * output row for row — the oracle is pl11's cumsum replay VERBATIM:
    * a restore that loses a source's total re-admits past the budget
    * (extra rows), one that inflates it truncates admissions early
    * (missing rows), and every emitted `cum_tokens` pins the recovered
    * trajectory itself, not just the admit set.
    *
    * Unlike w18 there is NO restart-point geometry to choose: the
    * operator has no watermark, so no event-time stats can be lost —
    * FMGWS state recovery is exact at ANY epoch boundary. The restart
    * before the last data file is simply where recovered state
    * provably gates further admissions (every source's budget exhausts
    * mid-protocol by construction). */
  def tokenBudgetAdmissionRestored(s: SparkSession, dir: String,
      inspectRestored: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageDocsOrdered(s, dir)
    // run 1 drains all but the last data drop (committing each source's
    // running token total as GroupState); run 2 reveals the last drop
    // AND the sentinel file (batch parity with pl11's single run; the
    // sentinel batch admits nothing). No noDataBatches handling: the
    // operator has no watermark, so FMGWS recovery is exact at any
    // epoch boundary (see scaladoc).
    runRestored(s, staged,
      dir2 => tokenBudgetPlan(s, dir2, Protocol.Budget),
      runOneFiles = Protocol.Drops - 1, totalFiles = Protocol.Drops + 1,
      noDataBatchesRun1 = None, inspectRestored = inspectRestored)
  }

  /** Stage the embeddings table as `Protocol.Drops` single-parquet ingest drops
    * by vec_id ntile — the pl13 ANN-ingest protocol (no sentinel: the
    * cell-census aggregation runs in complete mode, which needs no
    * watermark punctuation). */
  private[graft] def stageEmbOrdered(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.expressions.Window
    import Protocol.Drops
    stage(s, "emb", dir, Seq(Drops, "vec_id,embedding"), Drops)(
      graft.Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        .withColumn("__b", ntile(Drops).over(Window.orderBy(col("vec_id"))) - 1))
  }

  /** PL13: STREAMING ANN-INDEX INGEST — the retrieval index's coarse
    * layer maintained on the ingest path, the last pipeline shape with
    * no streaming twin: staged embedding drops arrive one file per
    * micro-batch, each vector is assigned its nearest IVF cell by a
    * pure PROJECTION against the broadcast centroid set (the sim3
    * deterministic stub centroids — the first `Protocol.Cells` corpus vectors,
    * collected once before the stream starts; production swaps k-means
    * centroids in and nothing else changes,
    * [[graft.operators.Similarity.ivfTopK]]'s contract), and ONE
    * streaming aggregation keyed by cell maintains the per-cell census
    * — `n_vecs` plus the integer `sum_vec_ids` membership pin —
    * through `StateStoreSaveExec` in complete mode. This is how an IVF
    * index actually builds at 100 TB/day: assignment embarrassingly
    * parallel against broadcast centroids (the argmax is an ordered
    * fold over the literal centroid array — ascending cell order with
    * strict `>`, so ties keep the smallest cell, exactly the batch
    * `max_by(struct(sim, -cell))` rule), ONE exchange on cell id,
    * state one row per cell. Oracle = the batch argmax assignment +
    * census (the sim3 CTE machinery); every vector appears in exactly
    * one drop, so the complete-mode final state equals the batch
    * aggregate under any micro-batching. */
  def ivfCellIngest(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    drainComplete(s,
      ivfAssignedStream(s, stageEmbOrdered(s, dir), dir)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("vec_id")).as("sum_vec_ids")),
      inspect)

  /** The pl13/pl15 shared ingest-assignment plan: staged embedding
    * drops, each vector assigned its nearest IVF cell by a pure
    * PROJECTION against the literal broadcast centroid array (ordered
    * fold, ascending cell with strict `>` — ties keep the smallest
    * cell, the batch `max_by(struct(sim, -cell))` rule). Returns the
    * streaming (vec_id, embedding, cell) frame; pl13 folds it into the
    * census, pl15 materializes it as the serving index. */
  private def ivfAssignedStream(s: SparkSession, staged: String,
      dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    // the coarse centroids: Protocol.Cells rows, driver-safe by
    // construction (the broadcast a production assignment ships to every
    // executor)
    val cents = graft.Tables.embeddings(s, dir)
      .filter(col("vec_id") < Protocol.Cells && col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, s"no centroid vectors below id ${Protocol.Cells}")
    val centArr = array(cents.map { case (cell, v) =>
      struct(lit(cell).as("cell"), typedLit(v).as("centroid"))
    }: _*)
    stagedStream(s, staged)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .withColumn("cell",
        aggregate(centArr,
          struct(lit(Double.MinValue).as("sim"), lit(-1L).as("cell")),
          (acc, c) => {
            // bind the cosine: HOF lambdas get no CSE, so a direct
            // `sim` reference in both the compare and the kept struct
            // ran the 64-dim fold TWICE per centroid per row (r22, the
            // dd13/tokenPassages lesson). Bound once, same double.
            graft.functions.TextFunctions.bind(
              cosine(col("embedding"), c.getField("centroid")), sim =>
                when(sim > acc.getField("sim"),
                  struct(sim.as("sim"), c.getField("cell").as("cell")))
                  .otherwise(acc))
          }).getField("cell"))
  }

  /** PL15: SERVE FROM THE STREAM-BUILT ANN INDEX — pl13 proved the
    * census builds on the ingest path; this row PROBES an index whose
    * cells were built by the stream: the same assignment plan drains
    * APPEND into a materialized (cell, neighbor_id, cv) index table
    * (at 100 TB: a cell-partitioned lakehouse table the ingest appends
    * to; the memory sink is the test stand-in), then the sim3 query
    * set is served from it through [[graft.operators.Similarity
    * .ivfTopKServe]] — broadcast-centroid probe selection, ONE
    * exchange on cell id, exact-cosine re-rank. Oracle = the batch IVF
    * top-k over the same corpus (sim3's replay VERBATIM): build-on-
    * stream / serve-after must equal batch retrieval end to end, which
    * holds exactly because every vector rides exactly one drop and the
    * fold's tie rule IS the batch argmax rule. */
  def ivfServeFromStream(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val staged = stageEmbOrdered(s, dir)
    val idx = drainAppend(s,
      ivfAssignedStream(s, staged, dir), inspect)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"))
    val centroids = graft.Tables.embeddings(s, dir)
      .filter(col("vec_id") < Protocol.Cells && col("embedding").isNotNull)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val queries = graft.Tables.embeddings(s, dir)
      .filter(col("vec_id") < 20)
    graft.operators.Similarity.ivfTopKServe(queries, idx, centroids,
      "vec_id", "embedding", k = Protocol.K, nProbe = Protocol.NProbe)
  }

  /** Cheap content fingerprint of a source table directory: murmur over
    * the sorted (relative name, size, mtime-ms) of every parquet file
    * under `dir` — filesystem metadata only, no Spark job. Any in-place
    * regeneration of the table changes at least one component. */
  private[streaming] def sourceFingerprint(dir: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    val parts =
      if (!Files.exists(root)) Seq(s"missing:$dir")
      else Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => s"${root.relativize(p)}|${Files.size(p)}|" +
          s"${Files.getLastModifiedTime(p).toMillis}")
        .toSeq.sorted
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(parts))
  }

  /** The DSL's custom [[graft.operators.StatefulOperator]] (T6) through
    * the ACTUAL streaming path — `flatMapGroupsWithState` /
    * `FlatMapGroupsWithStateExec`, the engine mechanism the reference's
    * `Operator` trait maps to (arcon/src/stream/operator/mod.rs:21-54).
    * The operator keeps a running (count, sum) per user and emits the
    * updated state on every element, exactly the reference's per-element
    * `handle_element -> out` contract.
    *
    * Bounded-oracle discipline: per-element emissions are processing-
    * order-dependent, so the readout takes each key's FINAL state row —
    * the row with the maximal running count, which is unique (the count
    * is strictly increasing per key, across micro-batches too, since
    * group state persists) and whose running sum has by then absorbed
    * every element regardless of arrival order. The state is
    * INTEGER-SCALED (micro-units: `floor(value·10⁶)` per element —
    * per-row double math is bit-identical cross-engine, and the Long
    * running sum is order-free), the same discipline as
    * [[indexOperatorRunningAgg]]: a double accumulator folded in
    * shuffle-arrival order would only match the oracle's scan-order sum
    * up to FP associativity. Deterministic under any batch split;
    * oracle = plain GROUP BY over the same per-row scaling. */
  def operatorRunningAgg(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    import org.apache.spark.sql.Encoders
    import graft.operators.{OperatorContext, StatefulOperator}
    val ds = eventsStream(s, dir)
      .select(col("user_id"), floor(col("value") * lit(1e6)).cast("long"))
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val op = new StatefulOperator[Long, (Long, Long), (Long, Long), (Long, Long, Long)] {
      def initialState: (Long, Long) = (0L, 0L)
      def handleElement(key: Long, e: (Long, Long), ts: Option[Long],
          state: (Long, Long), ctx: OperatorContext):
          ((Long, Long), Iterator[(Long, Long, Long)]) = {
        val s2 = (state._1 + 1L, state._2 + e._2)
        (s2, Iterator((key, s2._1, s2._2)))
      }
    }
    val out = new graft.api.Stream(ds, graft.api.SourceConf[(Long, Long)]())
      .keyBy(_._1)(Encoders.scalaLong)
      .operator(op)(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
    drainAppend(s, out.toDF, inspect)
      .groupBy(col("_1").as("user_id"))
      .agg(max(col("_2")).as("n_events"),
        max_by(col("_3"), col("_2")).as("sum_value_micros"))
  }

  /** The DSL's [[graft.operators.IndexOperator]] (declared state
    * indexes — arcon's `ArconState` field layer) through
    * `TransformWithStateExec`, the modern stateful-processing exec and
    * the SIXTH one this library drives under a driver-visible oracle.
    * A declared `ValueIndex[(count, sumIds)]` accumulates per user via
    * `rmw` — integer-only state, so the readout is bit-exact
    * cross-engine — with the same per-element-emission + final-state
    * readout discipline as `operatorRunningAgg` (the max-count row per
    * key is unique and has absorbed every element under any batch
    * split or arrival order).
    *
    * `transformWithState` requires the RocksDB state store provider;
    * it is set for the duration of the run and restored after, so the
    * surrounding Verify/Bench session keeps its own provider for the
    * other streaming rows. */
  def indexOperatorRunningAgg(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    import org.apache.spark.sql.Encoders
    import graft.api.{IndexState, ValueIndex}
    import graft.operators.{IndexOperator, TimerContext}
    Application.withConfs(s,
        Seq(Application.ProviderKey -> Application.RocksDbProvider)) {
      val ds = eventsStream(s, dir)
        .select(col("user_id"), col("event_id"))
        .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      val op = new IndexOperator[Long, (Long, Long), (Long, Long, Long)] {
        @transient private var agg: ValueIndex[(Long, Long)] = _
        def open(state: IndexState): Unit =
          agg = state.value[(Long, Long)]("agg")(
            Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        def handleElement(key: Long, e: (Long, Long), ts: Option[Long],
            ctx: TimerContext): Iterator[(Long, Long, Long)] = {
          val (n, sum) = agg.rmw((0L, 0L))(s => (s._1 + 1L, s._2 + e._2))
          Iterator((key, n, sum))
        }
      }
      val out = new graft.api.Stream(ds, graft.api.SourceConf[(Long, Long)]())
        .keyBy(_._1)(Encoders.scalaLong)
        .indexOperator(op)(
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      drainAppend(s, out.toDF, inspect)
        .groupBy(col("_1").as("user_id"))
        .agg(max(col("_2")).as("n_events"),
          max_by(col("_3"), col("_2")).as("sum_ids"))
    }
  }

  /** The w23 TransformWithState plan over an already-staged drop dir —
    * ONE definition shared by the single-run pin and the restore row
    * (the tokenBudgetPlan discipline). An [[graft.operators
    * .IndexOperator]] under EVENT-TIME mode: a declared
    * `ValueIndex[(count, sumIds)]` accumulates per user (the w13
    * integer discipline — bit-exact cross-engine, order-free), and
    * every element ARMS a native timer at its daily window end (SET
    * semantics — re-arming an instant coalesces). A timer fires when
    * the eviction watermark passes its instant and emits a marker row;
    * rows older than the LAGGED late watermark are dropped by the exec
    * before the operator sees them (WatermarkSupport's row-level
    * `ts > late_wm` predicate — the w19 boundary, two-value contract
    * SPARK-40925). Output rows: (user_id, 'elem', running_n, running_sum)
    * per element and (user_id, 'timer', fired_at_ms, 0) per firing. */
  private[streaming] def twsTimerPlan(s: SparkSession,
      stagedDir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    import graft.api.{IndexState, ValueIndex}
    import graft.operators.{IndexOperator, TimerContext}
    val typed = stagedStream(s, stagedDir)
      .withWatermark("ts", s"${Protocol.DelayDays} days")
      .select(col("user_id"), col("event_id"),
        col("ts")) // the watermark column rides along for the late filter
      .as[(Long, Long, java.sql.Timestamp)](Encoders.tuple(
        Encoders.scalaLong, Encoders.scalaLong, Encoders.TIMESTAMP))
    val op = new IndexOperator[Long, (Long, Long, java.sql.Timestamp),
        (Long, String, Long, Long)] {
      @transient private var agg: ValueIndex[(Long, Long)] = _
      def open(state: IndexState): Unit =
        agg = state.value[(Long, Long)]("agg")(
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      def handleElement(key: Long, e: (Long, Long, java.sql.Timestamp),
          ts: Option[Long], ctx: TimerContext):
          Iterator[(Long, String, Long, Long)] = {
        val (n, sum) = agg.rmw((0L, 0L))(st => (st._1 + 1L, st._2 + e._2))
        val tsMs = ts.getOrElse(sys.error(s"no event time for key $key"))
        ctx.scheduleAt((tsMs / 86400000L + 1L) * 86400000L)
        Iterator((key, "elem", n, sum))
      }
      override def handleTimer(key: Long, firedAt: Long,
          ctx: TimerContext): Iterator[(Long, String, Long, Long)] =
        Iterator((key, "timer", firedAt, 0L))
    }
    val conf = graft.api.SourceConf[(Long, Long, java.sql.Timestamp)]()
      .withTimestampExtractor(_._3.getTime)
    new graft.api.Stream(typed, conf, watermarked = true)
      .keyBy(_._1)(Encoders.scalaLong)
      .indexOperator(op)(Encoders.tuple(Encoders.scalaLong,
        Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
      .toDF
  }

  /** The final-state + fired-timer readout shared by the w23 single run
    * and restore run. Element emissions are processing-order-dependent,
    * so state rows take each key's max-count emission (unique — the
    * count strictly increases per key across batches AND across a
    * restart, which is exactly what a lost ValueIndex would break);
    * timer markers are a SET (a within-lateness straggler may re-arm
    * and re-fire an already-fired instant — distinct'd, like the oracle
    * side's DISTINCT). */
  private def twsTimerReadout(drained: DataFrame): DataFrame = {
    val elems = drained.filter(col("_2") === "elem")
      .groupBy(col("_1").as("user_id"))
      .agg(max(col("_3")).as("a"), max_by(col("_4"), col("_3")).as("b"))
      .select(col("user_id"), lit("state").as("row_kind"), col("a"), col("b"))
    val timers = drained.filter(col("_2") === "timer")
      .select(col("_1").as("user_id"), lit("timer").as("row_kind"),
        col("_3").as("a"), lit(0L).as("b"))
      .distinct()
    elems.union(timers)
  }

  /** W23: CHECKPOINT RESTORE FOR THE TransformWithStateExec LAYOUT —
    * the restore matrix's last hole: w18 covered built-in aggregation
    * buffers, w20 FlatMapGroupsWithState GroupState, w21 the RocksDB
    * changelog, w22 merging-session state; this row proves the MODERN
    * state API (declared ValueState + NATIVE per-key timers,
    * `TransformWithStateExec`) recovers both its state variables and
    * its timer registry from the checkpoint. The staged w15 protocol
    * runs with only the first Files−1 drops visible, stops at the
    * post-commit crash point (noDataBatches off, the w18 geometry),
    * then a NEW query resumes the SAME checkpoint with the last drop
    * revealed:
    *   - every post-restart element emission is gated by a RECOVERED
    *     (count, sum) — a lost ValueIndex restarts counts at 0 and the
    *     max-count readout hash-fails (missing run-1 mass);
    *   - timers armed in run 1 for day windows the watermark passes
    *     only in run 2 fire POST-RESTART from the recovered timer
    *     registry — event-time-ordered staging puts no run-2 elements
    *     in those days (stragglers aside, which merely re-arm), so a
    *     lost registry silently drops those markers and the oracle
    *     hash-fails on the missing 'timer' rows.
    * Oracle = the batch replay of both readouts over the accepted-row
    * set (late filter at row granularity, w19's `ts > late_wm` rule;
    * fired set = day ends the FINAL eviction watermark passed). The
    * reference persists operator state AND its timer wheel through the
    * same epoch snapshots
    * (/root/reference/arcon/src/stream/node/mod.rs:461-507,
    * timer state registered like any backend:
    * arcon/src/stream/node/timer.rs:61-274). */
  def indexOperatorTimerRestored(s: SparkSession, dir: String,
      inspectRestored: StreamingQuery => Unit = _ => ()): DataFrame =
      withStateProvider(s, Some(Application.RocksDbProvider)) {
    val staged = stageEventsOrdered(s, dir)
    twsTimerReadout(runRestored(s, staged,
      dir2 => twsTimerPlan(s, dir2),
      runOneFiles = Protocol.Files - 1, totalFiles = Protocol.Files,
      noDataBatchesRun1 = Some(false), inspectRestored = inspectRestored))
  }

  /** [[indexOperatorTimerRestored]]'s single-run twin (no kill): used
    * by the spec to pin that the restored union equals the single run
    * — the same plan, one uninterrupted drain. */
  def indexOperatorTimerSingle(s: SparkSession, dir: String,
      inspect: StreamingQuery => Unit = _ => ()): DataFrame =
      withStateProvider(s, Some(Application.RocksDbProvider)) {
    val staged = stageEventsOrdered(s, dir)
    twsTimerReadout(drainAppend(s, twsTimerPlan(s, staged),
      inspect))
  }
}
