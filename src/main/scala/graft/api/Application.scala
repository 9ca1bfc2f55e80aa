package graft.api

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's `ApplicationConf`
  * (`/root/reference/arcon/src/application/conf/mod.rs:270-311`) mapped
  * onto Spark session configuration:
  *
  * | arcon knob | default | Spark mapping |
  * |---|---|---|
  * | `epoch_interval` 25 000 ms | epoch ≙ micro-batch commit | trigger interval |
  * | `watermark_interval` 250 ms | watermark advances per batch | (no knob; sub-batch cadence has no analog) |
  * | `max_key` / parallelism | key-range shards | `spark.sql.shuffle.partitions` |
  * | backend Sled / Rocks | state backend | HDFS-backed / RocksDB state store provider |
  * | allocator / buffer pool | memory caps | Spark unified memory (free) |
  *
  * [[Application.session]] builds the configured session;
  * [[Application.run]] is the `#[arcon::app]` terminal — attach the
  * default sink and block-ready query handle
  * (`arcon_macros/src/lib.rs:39-78` appends
  * `.builder().build().run_and_block()`).
  */
case class AppConf(
    appName: String = "graft",
    master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
    /** Shuffle/state parallelism — the `max_key` shard-count analog. */
    parallelism: Int = Runtime.getRuntime.availableProcessors(),
    /** "rocksdb" (≙ arcon Rocks backend) or "hdfs" (≙ Sled: the simple
      * default store); any other value is rejected. */
    stateBackend: String = "rocksdb",
    /** Micro-batch cadence — the epoch interval (reference default 25 s). */
    epochInterval: String = "25 seconds",
    checkpointDir: Option[String] = None)

object Application {

  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** The RocksDB state-store provider class — the provider a production
    * streaming deployment actually runs (bounded executor heap: state
    * lives off-heap/on-disk per partition). */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The confs that select state-store `provider`. The RocksDB provider
    * always comes with changelog checkpointing, so a checkpoint ships
    * per-epoch deltas instead of full snapshots and carries the delta
    * stream the change-feed reader needs. */
  def providerConfs(provider: String): Seq[(String, String)] =
    (ProviderKey -> provider) +:
      (if (provider == RocksDbProvider) Seq(ChangelogKey -> "true") else Nil)

  /** The confs for an [[AppConf.stateBackend]] value: `rocksdb` selects
    * [[RocksDbProvider]], `hdfs` keeps Spark's default provider. */
  def backendConfs(backend: String): Seq[(String, String)] = {
    require(backend == "rocksdb" || backend == "hdfs",
      s"AppConf.stateBackend must be \"rocksdb\" or \"hdfs\", got '$backend'")
    if (backend == "rocksdb") providerConfs(RocksDbProvider) else Nil
  }

  /** Every setting [[session]] gives the builder. Sessions run in UTC
    * with the web UI off, and checkpoint files go through
    * [[graft.streaming.LocalCheckpointFs]], which creates and renames
    * them without starting a process per file. */
  def sessionConfs(conf: AppConf): Seq[(String, String)] = Seq(
    "spark.master" -> conf.master,
    "spark.app.name" -> conf.appName,
    "spark.sql.shuffle.partitions" -> conf.parallelism.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.streaming.LocalCheckpointFs].getName) ++
    backendConfs(conf.stateBackend)

  /** The one session factory: every `SparkSession` in this repository is
    * built here. Its context releases the state stores when it stops
    * (see [[stateStoreReleaser]]). */
  def session(conf: AppConf): SparkSession = {
    val s = sessionConfs(conf).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    stateStoreReleaser(s.sparkContext)
    s
  }

  private val releasers = new java.util.WeakHashMap[SparkContext, SparkListener]

  /** The listener that stops every state store when `sc` ends,
    * registered once per context however often [[session]] returns it.
    * Spark itself never stops the state stores: without it, each
    * RocksDB instance a run loaded, and RocksDB's background threads,
    * would still be live when the JVM exits. */
  private[graft] def stateStoreReleaser(sc: SparkContext): SparkListener =
    releasers.synchronized {
      releasers.computeIfAbsent(sc, _ => {
        val l = new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            releaseStateStores()
        }
        sc.addSparkListener(l)
        l
      })
    }

  /** The one place state stores are stopped: unload every loaded
    * state-store provider in this JVM (local mode: the only JVM), a
    * failure to stop ignored. Called at application end
    * ([[stateStoreReleaser]]), after every drain, and after each bench
    * streaming run. A stopped query's providers otherwise stay loaded
    * until the ~60 s maintenance cycle deactivates them, snapshotting in
    * the background against a checkpoint the caller is about to delete;
    * with dozens of drains per session that churn lands inside later
    * cells' measured windows (the r21 A/B probe measured the resulting
    * per-cell drift). Statestore READER providers (SPARK-45511) register
    * in the same JVM-wide registry and are covered too. Safe between
    * drains: the next query start reloads from its checkpoint, which is
    * exactly the restore path the w18-w26 rows exercise. */
  private[graft] def releaseStateStores(): Unit = {
    scala.util.Try(StateStore.stop())
    ()
  }

  /** Run `body` with each `kvs` pair set on the session, then put every
    * key back as it was. The restore contract:
    *  - every key's prior value, or its absence, is captured before the
    *    first set;
    *  - the sets run inside the `try`, so a set that throws (a static
    *    SQL conf, say) still restores the keys set before it;
    *  - in `finally`, each key that was set gets its prior value back,
    *    or is unset if it had none — whether `body` returned or threw.
    * A later pair for the same key wins inside the scope. Compute and
    * validate the pairs before calling: the scope only restores. */
  def withConfs[T](s: SparkSession, kvs: Seq[(String, String)])(body: => T): T = {
    // getAll holds only the keys explicitly set; getOption would report
    // a registered conf's default, and restoring that would leave the
    // key set
    val set = s.conf.getAll
    val prior = kvs.map { case (k, _) => k -> set.get(k) }
    var applied = 0
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v); applied += 1 }
      body
    } finally prior.take(applied).foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Terminal for a streaming pipeline: start it on the epoch-interval
    * trigger with a discarding sink (the `ignore()` default) unless the
    * stream is bounded, in which case it just executes. Returns the
    * query handle for `run_and_block`-style awaiting. */
  def run[T](stream: Stream[T], conf: AppConf = AppConf()): Option[StreamingQuery] =
    if (stream.ds.isStreaming) {
      val w = stream.ds.writeStream
        .format("noop")
        .trigger(Trigger.ProcessingTime(conf.epochInterval))
      Some(conf.checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start())
    } else {
      stream.ignore()
      None
    }
}
