package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.streaming.StreamingRun.Protocol.{batchIndexSql, DelayMs, FarMod,
  Files, GapUs, NearMod, TimeTravelBatch, WindowUs}

/** Event-time windowing semantics from the reference's WindowAssigner
  * (`/root/reference/arcon/src/stream/operator/window/assigner.rs:61-229`,
  * tumbling & sliding, window-start alignment to the epoch), evaluated here
  * on the bounded `events` table. The streaming (unbounded) variants of the
  * same plans — `withWatermark` + `window()` in append mode — live in
  * `graft.streaming` and are exercised by the ScalaTest suite; batch and
  * streaming share the window assignment logic, so the DuckDB oracle on the
  * batch plan also pins the streaming window boundaries. Six rows
  * additionally run the ACTUAL streaming execution under the driver's
  * oracle — one per stateful streaming exec this library drives:
  * `w1_streaming` (StateStoreSaveExec tumbling agg, oracle shared verbatim
  * with w1), `w9_streaming_sessions` (SessionWindowStateStoreSave merge
  * path, oracle replaying Spark's own strict-overlap session semantics),
  * `w10_streaming_join` (StreamingSymmetricHashJoinExec, stream-stream
  * interval join), `w11_streaming_dedup` (StreamingDeduplicateExec),
  * `w12_streaming_operator` (FlatMapGroupsWithStateExec — the DSL's custom
  * StatefulOperator on the live engine), and `w13_streaming_index_operator`
  * (TransformWithStateExec — the DSL's IndexOperator with declared state
  * indexes) — see [[graft.streaming.StreamingRun]].
  *
  * Scale notes: `window(ts, ...)` is a projection (no shuffle); the single
  * shuffle is the grouped aggregation with map-side partial agg. The as-of
  * join is the union+ordered-window formulation — one shuffle+sort over
  * (key, time), no per-row range probe, no equi-join explosion — the
  * formulation that survives skewed keys at 100 TB.
  */
object EventTimeQueries {

  lazy val queries: Seq[Query] = Seq(
    // W1 tumbling window (Assigner::Tumbling{length}).
    Query("w1_tumbling", (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value")),
      tumblingDailySql),

    // W1 tumbling window through the ACTUAL Structured Streaming path:
    // parquet file streaming source → StateStoreSaveExec → memory sink,
    // drained under Trigger.AvailableNow (see StreamingRun's scaladoc
    // for why complete mode is the only output mode a bounded oracle
    // can check). Same output contract and same oracle as w1_tumbling —
    // the green row proves batch and streaming execution agree on
    // window assignment AND that the stateful path computes the same
    // aggregate.
    Query("w1_streaming", (s, d) =>
      graft.streaming.StreamingRun.tumblingDaily(s, d),
      tumblingDailySql),

    // W9 row: session windows (SURVEY §2 item W8) through the ACTUAL
    // streaming session-state path — the SECOND stateful exec this
    // library drives under a
    // driver-visible oracle (w1_streaming covers StateStoreSaveExec;
    // this covers SessionWindowStateStoreSave/Restore + MergingSessions,
    // a different state layout: one struct-keyed session row per
    // (key, session), merged on arrival). Spark's session semantics are
    // NOT w3's floor-seconds rule: sessions merge iff the next event's
    // window overlaps (ts < last_ts + gap, STRICT, full microsecond
    // precision) and session_end = last event + gap — the oracle
    // replays exactly that, so the green row pins the engine's own
    // session definition cross-engine, not a lookalike.
    // W10: stream-STREAM inner interval join through
    // StreamingSymmetricHashJoinExec — the THIRD stateful streaming
    // exec under a driver-visible oracle. Both join sides are live
    // streams over the events source; inner-join append output is the
    // exact match set under any micro-batching, so the oracle is the
    // plain batch join (see StreamingRun.attributionJoin for the
    // watermark/state-eviction at-scale note).
    Query("w10_streaming_join", (s, d) =>
      graft.streaming.StreamingRun.attributionJoin(s, d),
      // the streaming inner join's exact match set = the batch join
      """SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
        |  a.ts AS view_ts, b.ts AS purchase_ts, b.value AS purchase_value
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 12 HOUR""".stripMargin),

    // W11: streaming key dedup through StreamingDeduplicateExec — the
    // FOURTH stateful streaming exec under a driver-visible oracle.
    // Key-only projection makes the emitted set exactly DISTINCT
    // (user_id, event_type), independent of arrival order.
    Query("w11_streaming_dedup", (s, d) =>
      graft.streaming.StreamingRun.distinctPairs(s, d),
      "SELECT DISTINCT user_id, event_type FROM events"),

    // W12: the DSL's custom StatefulOperator (T6) through the ACTUAL
    // streaming path — FlatMapGroupsWithStateExec, the FIFTH stateful
    // streaming exec under a driver-visible oracle. Per-element
    // running-state emissions, final-state readout (unique max-count
    // row per key), integer-scaled (micro-unit) state — deterministic
    // under any batch split or order, exact (not FP-tolerant)
    // cross-engine.
    Query("w12_streaming_operator", (s, d) =>
      graft.streaming.StreamingRun.operatorRunningAgg(s, d),
      // final running state per key = the plain per-key aggregate; the
      // state is integer micro-units (floor(value·1e6) per row — per-row
      // double math is bit-identical cross-engine, the BIGINT sum
      // order-free), so the match is exact by construction, not up to FP
      // associativity. DuckDB sum(BIGINT) widens to HUGEINT — cast back.
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
        |    AS sum_value_micros
        |FROM events GROUP BY user_id""".stripMargin),

    // W13: the DSL's IndexOperator (declared state indexes, T6/W6
    // modern path) through TransformWithStateExec — the SIXTH stateful
    // streaming exec under a driver-visible oracle. Integer-only
    // running state (count, sum of event ids) via a declared
    // ValueIndex; same final-state readout discipline as w12.
    Query("w13_streaming_index_operator", (s, d) =>
      graft.streaming.StreamingRun.indexOperatorRunningAgg(s, d),
      // integer-only state: bit-exact cross-engine (DuckDB sum(BIGINT)
      // widens to HUGEINT — cast back)
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events GROUP BY user_id""".stripMargin),

    // W15: the tumbling aggregation in APPEND mode under a REAL
    // advancing watermark — the allowed-lateness/eviction oracle row.
    // Events are staged as 5 event-time-ordered files driven one per
    // micro-batch, with deterministic straggler sets both within
    // lateness (aggregated) and beyond it (dropped by the exec); the
    // oracle replays the per-batch two-value watermark (SPARK-40925)
    // row for row, so the drop/evict/emit decisions themselves are
    // driver-checked. Trailing windows the final watermark never
    // passes are held in state and never appear.
    Query("w15_streaming_watermark", (s, d) =>
      graft.streaming.StreamingRun.tumblingDailyWatermarked(s, d),
      // w15: replay of the staged watermark run, constants from
      // StreamingRun.Protocol (5 files, 2-day delay, one-file and
      // three-file straggler sets). b = the staged batch index
      // (watermarkBatchIndex); a row survives the late filter iff its
      // window end exceeds the LAGGED watermark (data through batch b-2,
      // ms floor, minus delay — SPARK-40925's two-value contract); a
      // window appears iff its end <= the final eviction watermark.
      w15Sql),

    // W18: CHECKPOINT RESTORE under the driver oracle — w15's staged
    // protocol killed after batch nFiles−2 and restarted from its own
    // checkpoint (a NEW query on the same checkpoint dir, asserted to
    // resume: first executed batch ≥ nFiles−1). The union of the two
    // runs' emissions must equal w15's single-run output — the oracle
    // IS w15's replay verbatim, so a restore that loses state, replays
    // input, double-emits, or mis-recovers the watermark hash-fails.
    // The reference's exactly-once epoch-snapshotting headline
    // (arcon/src/lib.rs:16-19) as a driver-checked row.
    Query("w18_streaming_restore", (s, d) =>
      graft.streaming.StreamingRun.tumblingDailyWatermarkedRestored(s, d),
      // w18: the oracle is w15's replay VERBATIM — restore must be
      // output-invisible (the protocol restarts before the last file,
      // the one point where the restart's event-time-stats loss cannot
      // shift any late-filter decision; derivation in
      // StreamingRun.tumblingDailyWatermarkedRestored's scaladoc).
      w15Sql),

    // K11: TIME-TRAVEL state read — the statestore reader pinned to
    // mid-protocol batch 2 of w15's staged run (k9/k10 read the LAST
    // version; this reads an interior epoch, the reference's per-epoch
    // SnapshotManager catalog semantics). Oracle = the accepted rows of
    // batches ≤ 2 whose windows batch 2's eviction horizon had not yet
    // passed (derivation in StreamingRun.stateTimeTravel's scaladoc).
    Query("k11_state_time_travel", (s, d) =>
      graft.streaming.StreamingRun.stateTimeTravel(s, d),
      // k11: the state as committed by batch 2 — accepted rows of
      // batches ≤ 2 (per-batch two-value late filter, same wm CTE as
      // w15) whose window end exceeds batch 2's eviction horizon
      // wm(data ≤ 1). "Accepted ⇒ still open" (the one-batch filter lag)
      // guarantees held state = accepted minus emitted with no overlap.
      s"""WITH $stagedEvWmCtes,
         |hor AS (SELECT max(ts_ms) - $DelayMs AS evict_ms
         |        FROM ev WHERE b <= ${TimeTravelBatch - 1})
         |SELECT make_timestamp((wend_ms - 86400000) * 1000) AS window_start,
         |  event_type, count(*) AS n,
         |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
         |    AS sum_value_micros
         |FROM ev JOIN wm USING (b), hor
         |WHERE ev.b <= $TimeTravelBatch
         |  AND (wm.late_wm_ms IS NULL OR ev.wend_ms > wm.late_wm_ms)
         |  AND ev.wend_ms > hor.evict_ms
         |GROUP BY 1, 2""".stripMargin),

    // K12: the SNAPSHOT CATALOG — every committed state version of
    // w15's staged run (5 data epochs + the trailing no-data eviction
    // epoch) enumerated from one checkpoint and summarized per epoch.
    // k9/k10/k11 proved individual versions queryable; this row proves
    // the registry itself (the reference's SnapshotManager epoch →
    // snapshot catalog). Oracle = the k11 derivation replayed at ALL
    // six epochs from one ev/wm CTE pair.
    Query("k12_snapshot_catalog", (s, d) =>
      graft.streaming.StreamingRun.snapshotCatalog(s, d),
      // k12: the catalog replay — state version k holds the accepted
      // rows of batches ≤ k (per-batch two-value late filter, w15's wm
      // CTE) in windows the epoch-k eviction horizon wm(data ≤ k−1) has
      // not passed (NULL horizon at k=0 evicts nothing); epoch 5 is the
      // trailing no-data batch (no new rows, final horizon = k10's).
      // Summarized per epoch: buffer count, row count, micro-unit total.
      k12Sql),

    // K13: the state CHANGELOG — the same staged run's state store read
    // as a per-epoch change feed (readChangeFeed): batch k emits one
    // `update` per buffer that absorbed an accepted row in k (value =
    // the committed running aggregate) and one `delete` (null value)
    // per buffer whose window the epoch-k eviction horizon newly
    // passed. The deltas between k12's snapshots, driver-checked row
    // for row.
    Query("k13_state_change_feed", (s, d) =>
      graft.streaming.StreamingRun.stateChangeFeed(s, d),
      // k13: the changelog replay. An `update` at batch k exists for each
      // buffer with >= 1 accepted row ARRIVING in k, valued at the
      // running aggregate over accepted rows of batches <= k ("accepted
      // => still open" rules out evict-then-recreate, so the running
      // total is the committed buffer). A `delete` at batch k exists for
      // each buffer that ever existed (>= 1 accepted row, b <= k) whose
      // window end the epoch-k horizon wm(data <= k-1) passed but the
      // epoch-(k-1) horizon had not. Deletes carry null values (the
      // reader does not resurrect the removed buffer).
      k13Sql),

    // K14/K15: the snapshot catalog and the change feed under the
    // ROCKSDB provider (k12/k13 drain under the session default,
    // HDFSBackedStateStoreProvider) — the provider a production
    // streaming deployment actually runs, with changelog checkpointing
    // on so the checkpoint carries the delta stream k15 reads. The
    // oracles are k12's/k13's VERBATIM: the state contract is
    // provider-independent, and these rows prove both engines' layouts
    // serve identical epoch catalogs and changelogs — the reference
    // makes the same claim across its sled/rocks backends
    // (/root/reference/arcon/src/manager/snapshot.rs: one
    // SnapshotManager protocol over any `Backend`).
    // W21: w18's kill-and-restart under the ROCKSDB provider with
    // changelog checkpointing — the production restore combination
    // (recovery replays the changelog onto the last RocksDB snapshot
    // instead of reloading an HDFS-format delta file). Oracle = w15's
    // replay verbatim, the w18 contract: restore is output-invisible
    // regardless of the state backend — the reference's claim that the
    // epoch protocol is backend-agnostic
    // (arcon/src/manager/snapshot.rs: one protocol over any Backend).
    Query("w21_streaming_restore_rocksdb", (s, d) =>
      graft.streaming.StreamingRun.tumblingDailyWatermarkedRestored(s, d,
        provider = Some(graft.api.Application.RocksDbProvider)),
      // w21: w15's replay verbatim — restore is output-invisible on ANY
      // state backend (the w18 geometry argument is provider-free).
      w15Sql),

    Query("k14_snapshot_catalog_rocksdb", (s, d) =>
      graft.streaming.StreamingRun.snapshotCatalog(s, d,
        provider = Some(graft.api.Application.RocksDbProvider)),
      // k14/k15: the k12/k13 oracles VERBATIM — the epoch catalog and
      // delta stream are provider-independent contracts, so the RocksDB
      // drains must serve byte-identical rows.
      k12Sql),

    Query("k15_change_feed_rocksdb", (s, d) =>
      graft.streaming.StreamingRun.stateChangeFeed(s, d,
        provider = Some(graft.api.Application.RocksDbProvider)),
      k13Sql),

    // W16: SESSION windows in APPEND mode under the same staged
    // advancing watermark — MergingSessions eviction under the driver
    // oracle. Within-lateness stragglers merge into their still-open
    // session in state; beyond-lateness stragglers drop at the exec;
    // a session emits when the eviction watermark passes its end. The
    // oracle replays the two-value watermark contract over batch
    // gaps-and-islands (exact under this geometry — see
    // StreamingRun.sessionWatermarked's scaladoc for the proof).
    Query("w16_streaming_session_watermark", (s, d) =>
      graft.streaming.StreamingRun.sessionWatermarked(s, d),
      // w16: the session analog of w15's replay, same staged batches and
      // per-batch two-value watermarks but µs-precision timestamps (the
      // session boundary compare ts - lag >= gap must match the exec's µs
      // arithmetic; only the WATERMARK floors to ms). accepted = candidate
      // session end (ts+gap) survives the lagged late watermark; sessions
      // = gaps-and-islands per user over accepted rows; a session appears
      // iff the final eviction watermark passed its end. Exactness of the
      // flat replay vs the exec's incremental merge/evict is the geometry
      // argument in StreamingRun.sessionWatermarked's scaladoc.
      w16Sql),

    // W22: CHECKPOINT RESTORE FOR SESSION STATE — w16's staged protocol
    // killed before the last drop and restarted from its checkpoint:
    // run 2's within-lateness stragglers must MERGE into RECOVERED
    // open sessions (gap-merged variable-extent state, a different
    // recovery surface from w18's calendar buffers and w20's scalar
    // GroupState). Oracle = w16's replay verbatim; the w18 restart
    // geometry carries over because it is a watermark-protocol
    // argument, not a state-layout one (derivation in
    // StreamingRun.sessionWatermarkedRestored's scaladoc).
    Query("w22_streaming_session_restore", (s, d) =>
      graft.streaming.StreamingRun.sessionWatermarkedRestored(s, d),
      // w22: w16's replay VERBATIM — session-state restore must be
      // output-invisible (the w18 restart-geometry argument is about the
      // watermark protocol, not the state layout; derivation in
      // StreamingRun.sessionWatermarkedRestored's scaladoc).
      w16Sql),

    // W26: THE TWO FAILURE MODES COMPOSED — w18's kill-and-restart with
    // w24's one-shot task fault injected into the RECOVERED run: crash
    // between epochs, restore, then die mid-batch inside the restarted
    // query holding uncommitted state AND an uncommitted parquet-sink
    // write. The retry must re-run against the aborted store at the
    // recovered version and the file-sink manifest must commit that
    // partition exactly once (the sink side of exactly-once, which
    // w24's memory sink could not exercise). Oracle = w15's replay
    // VERBATIM; the run asserts the fault fired post-restart.
    Query("w26_exactly_once_restore_retry", (s, d) =>
      graft.streaming.StreamingRun.tumblingDailyWatermarkedRestoredFaulted(s, d),
      // w26: w15's replay VERBATIM — checkpoint restore COMPOSED with a
      // mid-batch task retry inside the recovered run (state abort at
      // the recovered version + file-sink manifest exactly-once).
      w15Sql),

    // W25: EVENT-TIME EMISSION LATENCY — the reference measure() sink's
    // latency-percentile metric as an oracle row: w15's staged run
    // drained through foreachBatch, each emitted window's latency =
    // the ENGINE-reported eviction watermark of its emitting batch
    // minus the window end; output = exact nearest-rank p50/p90/p99 +
    // max in integer ms. The oracle replays horizon and emission epoch
    // per window, so emission timing itself is driver-checked
    // (derivation in StreamingRun.emissionLatency's scaladoc).
    Query("w25_emission_latency", (s, d) =>
      graft.streaming.StreamingRun.emissionLatency(s, d),
      // w25: the latency replay — per emitted (window, event_type), the
      // emission epoch is the first whose eviction horizon passed the
      // window end (hor(k) = max ts(b ≤ k−1) − delay, the k12/k13 epoch
      // spine); latency = that horizon − window end; then the same
      // integer nearest-rank percentiles the Spark side computes.
      s"""WITH $stagedEvWmCtes,
         |$stagedEpochCtes,
         |emitw AS (
         |  SELECT w.wend_ms, w.event_type, min(hor.batch_id) AS kb
         |  FROM (SELECT DISTINCT wend_ms, event_type FROM acc) w
         |  JOIN hor ON hor.evict_ms IS NOT NULL
         |    AND w.wend_ms <= hor.evict_ms
         |  GROUP BY 1, 2),
         |lat AS (
         |  SELECT hor.evict_ms - emitw.wend_ms AS latency_ms
         |  FROM emitw JOIN hor ON hor.batch_id = emitw.kb),
         |ranked AS (
         |  SELECT latency_ms,
         |    row_number() OVER (ORDER BY latency_ms) AS rn,
         |    count(*) OVER () AS n
         |  FROM lat)
         |SELECT 'p50' AS pct, CAST(min(latency_ms) AS BIGINT) AS latency_ms
         |FROM ranked WHERE rn * 100 >= n * 50
         |UNION ALL
         |SELECT 'p90', CAST(min(latency_ms) AS BIGINT)
         |FROM ranked WHERE rn * 100 >= n * 90
         |UNION ALL
         |SELECT 'p99', CAST(min(latency_ms) AS BIGINT)
         |FROM ranked WHERE rn * 100 >= n * 99
         |UNION ALL
         |SELECT 'max', CAST(max(latency_ms) AS BIGINT) FROM lat""".stripMargin),

    // W24: EXACTLY-ONCE UNDER A MID-BATCH TASK FAILURE — w15's staged
    // protocol with a one-shot fault injected INTO the StateStoreSave
    // task (the probe filter references the aggregation output, so the
    // throwing task holds uncommitted store updates when it dies; the
    // retry re-runs against the aborted store). The run REQUIRES the
    // fault fired; the oracle is w15's replay VERBATIM — leaked
    // partial state or replayed input hash-fails. The reference's
    // mid-epoch recovery claim (arcon node/mod.rs:406-453) as a
    // driver-checked row; the clean restore rows (w18/w20-w23) cover
    // the between-epochs half.
    Query("w24_exactly_once_task_failure", (s, d) =>
      graft.streaming.StreamingRun.tumblingDailyWatermarkedFaulted(s, d),
      // w24: w15's replay VERBATIM — a mid-batch task failure + retry
      // must be output-invisible too (the exactly-once contract at TASK
      // granularity; the run itself asserts the fault fired).
      w15Sql),

    // W23: CHECKPOINT RESTORE FOR THE TransformWithStateExec LAYOUT —
    // the restore matrix's last hole. w13's modern state API (declared
    // ValueIndex + NATIVE per-key timers) under the staged w15
    // protocol, killed at the post-commit point before the last drop
    // and resumed on the same checkpoint: post-restart emissions are
    // gated by the RECOVERED (count, sum) and timers armed in run 1
    // fire from the RECOVERED timer registry (derivation in
    // StreamingRun.indexOperatorTimerRestored's scaladoc). Oracle =
    // the accepted-row batch replay: per-user count/sum(event_id) plus
    // the DISTINCT day-ends the final eviction watermark passed.
    Query("w23_streaming_tws_restore", (s, d) =>
      graft.streaming.StreamingRun.indexOperatorTimerRestored(s, d),
      // w23: the TransformWithState restore replay. Restore is
      // output-invisible, so the oracle is the single-run batch replay:
      // the exec's row-level late filter is w19's strict `ts > late_wm`
      // rule (WatermarkSupport's predicate, not the aggregation's
      // window-end rule); 'state' rows are the per-user running
      // (count, sum(event_id)) the final max-count emission carries;
      // 'timer' rows are the DISTINCT (user, day-end) instants the FINAL
      // eviction watermark passed — armed per element with SET
      // coalescing, so re-arms collapse exactly like the DISTINCT.
      s"""WITH $stagedEvWmCtes,
         |accr AS (
         |  SELECT ev.* FROM ev JOIN wm USING (b)
         |  WHERE wm.late_wm_ms IS NULL OR ev.ts_ms > wm.late_wm_ms),
         |fin AS (SELECT max(ts_ms) - $DelayMs AS wm_ms FROM ev)
         |SELECT user_id, 'state' AS row_kind,
         |  CAST(count(*) AS BIGINT) AS a,
         |  CAST(sum(event_id) AS BIGINT) AS b
         |FROM accr GROUP BY 1
         |UNION ALL
         |SELECT DISTINCT user_id, 'timer' AS row_kind,
         |  wend_ms AS a, CAST(0 AS BIGINT) AS b
         |FROM accr, fin WHERE accr.wend_ms <= fin.wm_ms""".stripMargin),

    // W17: the stream-stream interval join WITH watermarks on both
    // sides (w10 runs append without one, by pre-w15 design) — LEFT
    // OUTER so state eviction is visible in the OUTPUT: null-extended
    // views emit only when the eviction watermark passes their match
    // horizon, trailing views are held in state forever, and
    // beyond-lateness stragglers drop on both sides. The oracle is the
    // batch interval join over late-filter-accepted rows plus the
    // final-horizon rule for the null-extended set.
    Query("w17_streaming_interval_join_watermark", (s, d) =>
      graft.streaming.StreamingRun.intervalJoinWatermarked(s, d),
      // w17: replay of the watermarked symmetric join. The watermark is
      // PER-SIDE (Catalyst pushes the event-type filter below each
      // EventTimeWatermark node, so each side's tracker advances on its
      // own rows and the global value is the MIN of the two — verified
      // against the exec's per-batch progress trace). accepted = raw ts
      // survives the lagged late watermark (a plain-column watermark, so
      // the predicate is on ts itself, unlike w15/w16's window-end);
      // matched = accepted views x accepted purchases under the interval
      // condition (µs-exact integer arithmetic); null-extended = accepted
      // views with no accepted match whose horizon (ts + 12h) the final
      // eviction watermark passed — Spark's per-side state watermarks are
      // sized from the range condition so an evicted row's would-be
      // partner is always itself late-dropped (proof in
      // StreamingRun.intervalJoinWatermarked's scaladoc), which is what
      // makes this flat join exact.
      s"""WITH $stagedEvCte,
        |bm AS (
        |  SELECT b,
        |    max(CASE WHEN event_type = 'view' THEN ts_ms END) AS vmx,
        |    max(CASE WHEN event_type = 'purchase' THEN ts_ms END) AS pmx
        |  FROM ev GROUP BY b),
        |wm AS (
        |  SELECT b,
        |    CASE WHEN vrun IS NULL OR prun IS NULL THEN NULL
        |         ELSE (least(vrun, prun) - $DelayMs) * 1000 END
        |      AS late_wm_us
        |  FROM (SELECT b,
        |      max(vmx) OVER (ORDER BY b
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS vrun,
        |      max(pmx) OVER (ORDER BY b
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS prun
        |    FROM bm)),
        |fin AS (SELECT (least(
        |    max(CASE WHEN event_type = 'view' THEN ts_ms END),
        |    max(CASE WHEN event_type = 'purchase' THEN ts_ms END))
        |    - $DelayMs) * 1000 AS wm_us FROM ev),
        |acc AS (
        |  SELECT ev.* FROM ev JOIN wm USING (b)
        |  WHERE wm.late_wm_us IS NULL OR ev.ts_us > wm.late_wm_us)
        |SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
        |  p.event_id AS purchase_id, p.ts AS purchase_ts
        |FROM (SELECT * FROM acc WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM acc WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id AND p.ts_us > v.ts_us
        | AND p.ts_us <= v.ts_us + $WindowUs
        |, fin
        |WHERE p.event_id IS NOT NULL
        |   OR v.ts_us + $WindowUs < fin.wm_us""".stripMargin),

    // W19: streaming dedup with BOUNDED state
    // (dropDuplicatesWithinWatermark) — planted retransmissions inside
    // the dedup horizon must be suppressed, ones past it re-emit
    // exactly when the original's state expired behind the eviction
    // watermark; the oracle replays both decisions per row (see
    // StreamingRun.dedupWithinWatermark).
    Query("w19_streaming_dedup_within_watermark", (s, d) =>
      graft.streaming.StreamingRun.dedupWithinWatermark(s, d),
      // w19: the within-watermark dedup replay. Staged rows = originals
      // (event_id ntile, file b0) + near retransmissions (+1 day, file
      // b0+1, b0 ≤ 3) + far ones (+5 days, file b0+3, b0 ≤ 1, not also
      // near). Per batch: late filter at µs vs the LAGGED watermark
      // (data ≤ b−2, SPARK-40925); per key: the first accepted occurrence
      // emits and arms expiry = its event time + delay; a second accepted
      // occurrence emits iff that expiry fell strictly behind ITS batch's
      // eviction watermark (data ≤ b−1) — otherwise the state entry is
      // live and the exec suppresses it.
      s"""WITH base AS (
        |  SELECT event_id, ts,
        |    ntile($Files) OVER (ORDER BY event_id) - 1 AS b0
        |  FROM events),
        |rows0 AS (
        |  SELECT event_id, ts, b0 AS b FROM base
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 1 DAY, b0 + 1 FROM base
        |  WHERE event_id % $NearMod = 0 AND b0 <= ${Files - 2}
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 5 DAY, b0 + 3 FROM base
        |  WHERE event_id % $FarMod = 0 AND event_id % $NearMod <> 0
        |    AND b0 <= ${Files - 4}),
        |r AS (SELECT event_id, ts, b, epoch_us(ts) AS ts_us FROM rows0),
        |wm AS (
        |  SELECT b,
        |    (max(mx_ms) OVER (ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |      - $DelayMs) * 1000 AS late_wm_us,
        |    (max(mx_ms) OVER (ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |      - $DelayMs) * 1000 AS evict_wm_us
        |  FROM (SELECT b, max(ts_us // 1000) AS mx_ms FROM r GROUP BY b)),
        |acc AS (
        |  SELECT r.*, wm.evict_wm_us FROM r JOIN wm USING (b)
        |  WHERE wm.late_wm_us IS NULL OR r.ts_us > wm.late_wm_us),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_id ORDER BY b) AS rk,
        |    lag(ts_us) OVER (PARTITION BY event_id ORDER BY b) AS prev_ts_us
        |  FROM acc)
        |SELECT event_id, ts FROM ranked
        |WHERE rk = 1
        |   OR prev_ts_us + ${DelayMs * 1000} < evict_wm_us""".stripMargin),

    // K10: the HOLDBACK half of the allowed-lateness contract, read
    // from state: after w15's staged watermarked append run, the
    // operator's final state holds exactly the windows whose end the
    // final eviction watermark never passed (w15's output is the
    // emitted complement). Oracle = w15's accepted-row replay with the
    // final-horizon filter flipped.
    Query("k10_watermark_held_state", (s, d) =>
      graft.streaming.StreamingRun.watermarkHeldState(s, d),
      // k10: w15's oracle with the final-horizon filter FLIPPED — the
      // state after the final batch holds the accepted rows of windows
      // the final eviction watermark never passed (w15 emits the others)
      s"""WITH $stagedEvWmCtes,
         |fin AS (SELECT max(ts_ms) - $DelayMs AS wm_ms FROM ev)
         |SELECT make_timestamp((wend_ms - 86400000) * 1000) AS window_start,
         |  event_type, count(*) AS n,
         |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
         |    AS sum_value_micros
         |FROM ev JOIN wm USING (b), fin
         |WHERE (wm.late_wm_ms IS NULL OR ev.wend_ms > wm.late_wm_ms)
         |  AND ev.wend_ms > fin.wm_ms
         |GROUP BY 1, 2""".stripMargin),

    // K9: QUERYABLE STATE — the tumbling aggregation's state store read
    // back as a table through Spark's statestore data source (the
    // reference's TSS / #[table] mid-run queryability, reading the
    // checkpoint's state files directly instead of exporting). Oracle =
    // the plain batch aggregate: state ≡ recompute IS the state store's
    // correctness contract.
    Query("k9_queryable_state", (s, d) =>
      graft.streaming.StreamingRun.queryableState(s, d),
      // k9: the state store's aggregation buffers must equal the batch
      // recompute, buffer-for-buffer (integer micro-unit sums, exact)
      """SELECT make_timestamp(
        |    ((epoch_us(ts) // 1000) // 86400000) * 86400000 * 1000)
        |    AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
        |    AS sum_value_micros
        |FROM events GROUP BY 1, 2""".stripMargin),

    Query("w9_streaming_sessions", (s, d) =>
      graft.streaming.StreamingRun.drainComplete(s,
        graft.streaming.StreamingRun.eventsStream(s, d)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value")))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value")),
      // Spark session_window semantics exactly: STRICT microsecond
      // overlap (break iff ts >= prev + gap — unlike w3's floor-seconds
      // inclusive-1800 rule), session_end = last event + gap.
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |         WHEN ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1
        |         ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, sum(value) AS sum_value
        |FROM numbered GROUP BY user_id, sid""".stripMargin),

    // W1 sliding window (Assigner::Sliding{length: 1h, slide: 30m}) — each
    // event lands in length/slide = 2 windows.
    Query("w2_sliding", (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value")),
      // Sliding windows: enumerate both 30-min-aligned starts covering each
      // event via epoch-millisecond integer arithmetic (timezone-free).
      """SELECT ws AS window_start, event_type, count(*) AS n, sum(value) AS sum_value
        |FROM (
        |  SELECT event_type, value,
        |    unnest([make_timestamp((epoch_ms(ts) // 1800000) * 1800000 * 1000),
        |            make_timestamp(((epoch_ms(ts) // 1800000) - 1) * 1800000 * 1000)]) AS ws
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin),

    // SURVEY §2 row W8, session windows (absent in the reference —
    // superset capability; the query key is w3, streaming twin is w9):
    // gap-based sessionization, 30-minute inactivity gap, via ordered
    // window + cumulative session counter (one shuffle+sort per key).
    // Hot-key escape hatch at 100×: graft.operators.ScalableWindows
    // .sessionize — same semantics two-phase over time buckets, many
    // tasks per key (equivalence-tested in ScalableWindowsSpec).
    Query("w3_sessionize", (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val newSess = when(
        col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(byUser) > 1800, 1L)
        .otherwise(lit(0L))
      val withSess = Tables.events(s, d)
        .withColumn("is_new", when(lag(col("ts"), 1).over(byUser).isNull, lit(1L)).otherwise(newSess))
        .withColumn("session_no", sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      withSess.groupBy(col("user_id"), col("session_no"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    },
      sessionizeSql),

    // The skew-safe two-phase sessionize producing the SAME session
    // aggregate as w3 — per-key work splits across day buckets (many
    // tasks per key), equivalence additionally pinned by the shared
    // oracle SQL.
    Query("w7_sessionize_twophase", (s, d) =>
      graft.operators.ScalableWindows.sessionize(
        Tables.events(s, d),
        key = col("user_id"),
        bucket = floor(col("ts").cast("long") / 86400),
        time = col("ts"), tieBreak = col("event_id"), gapSeconds = 1800)
        .groupBy(col("user_id"), col("session_no"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          // a double sum follows the shuffle's fetch order; the decimal
          // sum is exact, so every run returns the same double
          sum(col("value").cast("decimal(38,18)")).cast("double").as("sum_value")),
      // identical sessions must fall out of the two-phase plan
      sessionizeSql),

    // W3 AppenderWindow (arcon/src/index/window/appender.rs:10-91), run
    // through the actual DSL appender path: buffer the whole (user, hour)
    // window, materialize order-insensitive stats from the buffered
    // elements.
    Query("w5_appender", (s, d) => {
      import org.apache.spark.sql.Encoders
      val ds = Tables.events(s, d)
        .select(col("event_id"), expr("unix_millis(ts)").as("tms"), col("user_id"))
        .as[(Long, Long, Long)](Encoders.tuple(
          Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      new graft.api.Stream(ds, graft.api.SourceConf[(Long, Long, Long)]())
        .withTimestampExtractor(_._2)
        .keyBy(_._3)(Encoders.scalaLong)
        .window(graft.api.WindowAssigner.Tumbling(3600000L))
        .appender { elems =>
          val ids = elems.map(_._1)
          (ids.size.toLong, ids.sum, ids.min, ids.max)
        }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong))
        .toDF
        .select(col("_1").as("user_id"), col("_2").as("window_start"),
          col("_3").as("window_end"), col("_4._1").as("n_events"),
          col("_4._2").as("sum_ids"), col("_4._3").as("min_id"),
          col("_4._4").as("max_id"))
    },
      """SELECT user_id,
        |  (epoch_ms(ts) // 3600000) * 3600000 AS window_start,
        |  (epoch_ms(ts) // 3600000) * 3600000 + 3600000 AS window_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 1, 2, 3""".stripMargin),

    // W5 ArrowWindow (arcon/src/index/window/arrow.rs:17-122), run
    // through the DSL arrowBatch path: the whole (user, hour) window
    // group is handed to ONE batch function as an iterator (nothing
    // buffered or sorted — single streamed pass), mirroring the
    // reference handing (schema, RecordBatches) to a batch UDF at
    // trigger. The batch fn here is a one-pass count/sum/max — an
    // order-insensitive computation, as arrowBatch delivers the group
    // unordered.
    Query("w8_arrow_batch", (s, d) => {
      import org.apache.spark.sql.Encoders
      val ds = Tables.events(s, d)
        .select(col("event_id"), expr("unix_millis(ts)").as("tms"), col("user_id"))
        .as[(Long, Long, Long)](Encoders.tuple(
          Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      new graft.api.Stream(ds, graft.api.SourceConf[(Long, Long, Long)]())
        .withTimestampExtractor(_._2)
        .keyBy(_._3)(Encoders.scalaLong)
        .window(graft.api.WindowAssigner.Tumbling(3600000L))
        .arrowBatch { it =>
          var n = 0L; var sum = 0L; var mx = Long.MinValue
          while (it.hasNext) {
            val e = it.next()
            n += 1; sum += e._1; if (e._1 > mx) mx = e._1
          }
          (n, sum, mx)
        }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
        .toDF
        .select(col("_1").as("user_id"), col("_2").as("window_start"),
          col("_3").as("window_end"), col("_4._1").as("n_events"),
          col("_4._2").as("sum_ids"), col("_4._3").as("max_id"))
    },
      """SELECT user_id,
        |  (epoch_ms(ts) // 3600000) * 3600000 AS window_start,
        |  (epoch_ms(ts) // 3600000) * 3600000 + 3600000 AS window_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |  max(event_id) AS max_id
        |FROM events GROUP BY 1, 2, 3""".stripMargin),

    // Interval (range) join — the other half of SURVEY §2.6's
    // "as-of/interval" row: re-orders within 7 days by the same customer
    // (each later order paired with every order of that customer in the
    // preceding week). Equi-join on the customer key carries the
    // shuffle; the range predicate evaluates inside the join — at 100×
    // the key-hash exchange is the plan's only wide edge, and AQE's
    // skew handling covers hot customers.
    Query("w6_interval_join", (s, d) => {
      val o = Tables.orders(s, d)
      val a = o.select(col("o_custkey").as("custkey"),
        col("o_orderkey").as("first_orderkey"), col("o_orderdate").as("first_date"))
      val b = o.select(col("o_custkey").as("custkey"),
        col("o_orderkey").as("next_orderkey"), col("o_orderdate").as("next_date"))
      a.join(b, Seq("custkey"))
        .filter(col("first_orderkey") < col("next_orderkey") &&
          col("next_date") >= col("first_date") &&
          col("next_date") <= col("first_date") + expr("INTERVAL 7 DAYS"))
        .select(col("custkey"), col("first_orderkey"), col("next_orderkey"),
          col("first_date"), col("next_date"))
    },
      """SELECT a.o_custkey AS custkey,
        |  a.o_orderkey AS first_orderkey, b.o_orderkey AS next_orderkey,
        |  a.o_orderdate AS first_date, b.o_orderdate AS next_date
        |FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey
        | AND a.o_orderkey < b.o_orderkey
        | AND b.o_orderdate >= a.o_orderdate
        | AND b.o_orderdate <= a.o_orderdate + INTERVAL 7 DAY""".stripMargin),

    // As-of join (SURVEY §2.6 "as-of/interval" row): for every event, the
    // latest order of that user at-or-before the event time. Implemented as
    // merge-union + last(ignoreNulls) over an ordered window: right rows
    // sort before left rows at equal timestamps (inclusive >= semantics).
    Query("w4_asof_join", (s, d) => {
      // Deduplicate the right side to one row per (key, time) so the pick
      // among simultaneous orders is deterministic (highest orderkey).
      val right = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("k"), col("o_orderdate").as("t"))
        .agg(max(col("o_orderkey")).as("r_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("r_totalprice"))
        .withColumn("event_id", lit(null).cast("long"))
        .withColumn("side", lit(0))
        .select(col("k"), col("t"), col("event_id"), col("r_orderkey"),
          col("r_totalprice"), col("side"))
      val left = Tables.events(s, d)
        .select(col("user_id").as("k"), col("ts").as("t"), col("event_id"),
          lit(null).cast("long").as("r_orderkey"),
          lit(null).cast("double").as("r_totalprice"), lit(1).as("side"))
      val w = Window.partitionBy(col("k")).orderBy(col("t"), col("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      right.union(left)
        .withColumn("asof_orderkey", last(col("r_orderkey"), ignoreNulls = true).over(w))
        .withColumn("asof_totalprice", last(col("r_totalprice"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("k").as("user_id"),
          col("asof_orderkey"), col("asof_totalprice"))
    },
      """WITH r AS (
        |  SELECT o_custkey AS k, o_orderdate AS t,
        |    max(o_orderkey) AS r_orderkey,
        |    arg_max(o_totalprice, o_orderkey) AS r_totalprice
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id,
        |  r.r_orderkey AS asof_orderkey, r.r_totalprice AS asof_totalprice
        |FROM events e ASOF LEFT JOIN r ON e.user_id = r.k AND e.ts >= r.t""".stripMargin)
  )

  /** Shared by w3 (single-partition window) and w7 (two-phase skew-safe)
    * — same sessions by construction. Gaps compare FLOOR-SECONDS on
    * both engines: Spark's `ts.cast(long)` truncates to seconds while
    * DuckDB's `epoch()` returns a fractional DOUBLE, so a bare
    * epoch-difference would flip a session boundary whenever a gap's
    * sub-second parts straddle 1800 s (latent on this sub-second-
    * timestamped corpus; `floor(epoch(..))` pins the semantics). */
  private val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |         WHEN CAST(floor(epoch(ts)) AS BIGINT)
      |            - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800 THEN 1
      |         ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, ts, value,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM flagged)
      |SELECT user_id, session_no, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events, sum(value) AS sum_value
      |FROM numbered GROUP BY user_id, session_no""".stripMargin

  /** Shared by w1_tumbling (batch plan) and w1_streaming (the same
    * aggregation through the stateful streaming path): identical oracle
    * = identical required answer from both execution engines. */
  private val tumblingDailySql: String =
    """SELECT date_trunc('day', ts) AS window_start, event_type,
      |  count(*) AS n, sum(value) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** The staged-protocol replay prelude shared VERBATIM by every
    * watermark oracle below but w19's (which replays its own staged
    * protocol): `ev` carries each event's staged batch index b
    * ([[graft.streaming.StreamingRun.Protocol.batchIndexSql]]), its event
    * time at µs and at ms precision, and its daily window end. The
    * protocol constants interpolate from
    * [[graft.streaming.StreamingRun.Protocol]], the values the staged
    * rows run with, so a constant change lands in the runner and every
    * oracle at once. */
  private val stagedEvCte: String =
    s"""ev AS (
       |  SELECT user_id, event_id, event_type, value, ts,
       |    epoch_us(ts) AS ts_us,
       |    epoch_us(ts) // 1000 AS ts_ms,
       |    ((epoch_us(ts) // 1000) // 86400000 + 1) * 86400000 AS wend_ms,
       |    $batchIndexSql AS b
       |  FROM events)""".stripMargin

  /** [[stagedEvCte]] plus `wm`, the per-batch LAGGED late-filter
    * watermark in ms (data ≤ b−2, SPARK-40925's two-value contract) —
    * the prelude of every single-tracker oracle (all but w17's per-side
    * join). */
  private val stagedEvWmCtes: String =
    s"""$stagedEvCte,
       |wm AS (
       |  SELECT b,
       |    max(mx) OVER (ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
       |      - $DelayMs AS late_wm_ms
       |  FROM (SELECT b, max(ts_ms) AS mx FROM ev GROUP BY b))""".stripMargin

  /** w15's replay: the staged batch index, the per-batch two-value
    * watermark (late filter lags eviction by one batch, SPARK-40925),
    * emission iff the final eviction watermark passed the window end.
    * Shared VERBATIM by w18 (restore must be output-invisible). */
  private val w15Sql: String =
    s"""WITH $stagedEvWmCtes,
       |fin AS (SELECT max(ts_ms) - $DelayMs AS wm_ms FROM ev)
       |SELECT make_timestamp((wend_ms - 86400000) * 1000) AS window_start,
       |  event_type, count(*) AS n,
       |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
       |    AS sum_value_micros
       |FROM ev JOIN wm USING (b), fin
       |WHERE (wm.late_wm_ms IS NULL OR ev.wend_ms > wm.late_wm_ms)
       |  AND ev.wend_ms <= fin.wm_ms
       |GROUP BY 1, 2""".stripMargin

  /** The per-epoch replay prelude shared by the k12 catalog and k13
    * changelog oracles (on top of [[stagedEvWmCtes]]): `ks` enumerates
    * the committed state versions 0..Files (Files data epochs + the
    * trailing no-data eviction epoch), `acc` is the late-filter-
    * accepted row set, `hor` the per-epoch eviction horizon
    * wm(data ≤ k−1). */
  private val stagedEpochCtes: String =
    s"""ks AS (SELECT unnest(range(${Files + 1})) AS batch_id),
       |acc AS (
       |  SELECT ev.* FROM ev JOIN wm USING (b)
       |  WHERE wm.late_wm_ms IS NULL OR ev.wend_ms > wm.late_wm_ms),
       |hor AS (
       |  SELECT batch_id,
       |    (SELECT max(ts_ms) FROM ev WHERE ev.b <= ks.batch_id - 1)
       |      - $DelayMs AS evict_ms
       |  FROM ks)""".stripMargin

  /** k12's catalog replay — state version k summarized per epoch. The
    * final SELECT goes through `ks LEFT JOIN buf`, not `buf` alone, so
    * an epoch whose surviving state is EMPTY still emits its
    * (batch_id, 0, 0, 0) row — mirroring the Scala side, which always
    * emits one row per committed version with coalesced zeros (under
    * the default protocol no epoch is fully evicted, but the oracle
    * must not silently depend on that). Shared by k12 (default
    * provider) and k14 (the same drain under RocksDB — identical
    * required catalog). */
  private val k12Sql: String =
    s"""WITH $stagedEvWmCtes,
       |$stagedEpochCtes,
       |buf AS (
       |  SELECT hor.batch_id, acc.wend_ms, acc.event_type,
       |    count(*) AS n,
       |    sum(CAST(floor(acc.value * 1000000) AS BIGINT)) AS sm
       |  FROM hor JOIN acc ON acc.b <= hor.batch_id
       |    AND (hor.evict_ms IS NULL OR acc.wend_ms > hor.evict_ms)
       |  GROUP BY 1, 2, 3)
       |SELECT batch_id, CAST(count(buf.wend_ms) AS BIGINT) AS n_buffers,
       |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
       |  CAST(coalesce(sum(sm), 0) AS BIGINT) AS sum_value_micros
       |FROM ks LEFT JOIN buf USING (batch_id)
       |GROUP BY 1""".stripMargin

  /** k13's changelog replay (semantics derivation in the oracle-map
    * comment at the call site). Shared by k13 (default provider) and
    * k15 (the same drain under RocksDB WITH changelog checkpointing —
    * identical required delta stream). */
  private val k13Sql: String =
    s"""WITH $stagedEvWmCtes,
       |$stagedEpochCtes,
       |ups AS (
       |  SELECT ks.batch_id, acc.wend_ms, acc.event_type,
       |    count(*) AS n,
       |    sum(CAST(floor(acc.value * 1000000) AS BIGINT)) AS sm
       |  FROM ks JOIN acc ON acc.b <= ks.batch_id
       |  GROUP BY 1, 2, 3
       |  HAVING count(*) FILTER (acc.b = ks.batch_id) > 0),
       |dels AS (
       |  SELECT hc.batch_id, acc.wend_ms, acc.event_type
       |  FROM acc
       |  JOIN hor hc ON acc.b <= hc.batch_id
       |    AND acc.wend_ms <= hc.evict_ms
       |  LEFT JOIN hor hp ON hp.batch_id = hc.batch_id - 1
       |  WHERE hp.evict_ms IS NULL OR acc.wend_ms > hp.evict_ms
       |  GROUP BY 1, 2, 3)
       |SELECT batch_id, 'update' AS change_type,
       |  make_timestamp((wend_ms - 86400000) * 1000) AS window_start,
       |  event_type, CAST(n AS BIGINT) AS n,
       |  CAST(sm AS BIGINT) AS sum_value_micros
       |FROM ups
       |UNION ALL
       |SELECT batch_id, 'delete' AS change_type,
       |  make_timestamp((wend_ms - 86400000) * 1000) AS window_start,
       |  event_type, CAST(NULL AS BIGINT) AS n,
       |  CAST(NULL AS BIGINT) AS sum_value_micros
       |FROM dels""".stripMargin

  /** w16's session replay — shared VERBATIM by w22 (session-state
    * restore must be output-invisible). Sessions compare at MICROSECOND
    * precision (`ts_us`); only the watermark floors to ms. */
  private val w16Sql: String =
    s"""WITH $stagedEvWmCtes,
        |fin AS (SELECT (max(ts_ms) - $DelayMs) * 1000 AS wm_us FROM ev),
        |acc AS (
        |  SELECT ev.user_id, ev.value, ev.ts_us FROM ev JOIN wm USING (b)
        |  WHERE wm.late_wm_ms IS NULL
        |     OR ev.ts_us + $GapUs > wm.late_wm_ms * 1000),
        |flagged AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w >= $GapUs THEN 1 ELSE 0 END AS nf
        |  FROM acc WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |isl AS (
        |  SELECT *, sum(nf) OVER (PARTITION BY user_id ORDER BY ts_us
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM flagged)
        |SELECT user_id,
        |  make_timestamp(min(ts_us)) AS session_start,
        |  make_timestamp(max(ts_us) + $GapUs) AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
        |    AS sum_value_micros
        |FROM isl, fin
        |GROUP BY user_id, island, fin.wm_us
        |HAVING max(ts_us) + $GapUs <= fin.wm_us""".stripMargin

}
