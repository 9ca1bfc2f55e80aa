package graft.api

import graft.SparkTestBase

/** Ports of the reference's operator DSL end-to-end tests with `debug()`
  * sink assertions (`/root/reference/arcon/src/stream/operator/function/mod.rs:11-104`):
  * map sum 145, filter count 5, flatmap count 10 / sum 10.
  */
class StreamDslSpec extends SparkTestBase {
  import spark.implicits._

  test("map: 0..9 mapped +10 sums to 145 (function/mod.rs map test)") {
    val out = Stream.fromCollection(spark, (0L until 10L))
      .map(_ + 10L)
      .debug()
    assert(out.sum == 145L)
  }

  test("mapInPlace preserves type and applies mutation") {
    val out = Stream.fromCollection(spark, (0L until 10L))
      .mapInPlace(x => x * 2)
      .debug()
    assert(out.sum == 90L)
  }

  test("filter: 0..9 keep <5 gives 5 records (function/mod.rs filter test)") {
    val out = Stream.fromCollection(spark, (0L until 10L))
      .filter(_ < 5)
      .debug()
    assert(out.size == 5)
  }

  test("flat_map: 0..4 expanded to 0..i gives count 10 sum 10 (function/mod.rs flatmap test)") {
    val out = Stream.fromCollection(spark, (0L until 5L))
      .flatMap(i => (0L until i))
      .debug()
    assert(out.size == 10)
    assert(out.sum == 10L)
  }

  test("local file source parses lines and drops errors (local_file.rs:17-62)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src")
    val f = new java.io.File(dir.toFile, "in.txt")
    java.nio.file.Files.writeString(f.toPath, "1\n2\nnope\n4\n")
    val out = try Stream.fromLocalFile[Long](spark, f.getPath, l => l.toLongOption)
      .debug()
    finally graft.streaming.StreamingRun.deleteTree(dir)
    assert(out.sorted == Seq(1L, 2L, 4L))
  }

  test("local file sink writes one line per record (K5 local_file.rs:67-109 golden check)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink")
    val dir = tmp.toString + "/out"
    val lines = try {
      Stream.fromCollection(spark, Seq(6L, 2L, 15L)).toLocalFile(dir)
      spark.read.textFile(dir).collect().toSeq.sorted
    } finally graft.streaming.StreamingRun.deleteTree(tmp)
    assert(lines == Seq("15", "2", "6"))
  }

  test("arrow IPC file round-trip (table/mod.rs:343-418 round-trip tests)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-arrow")
    val path = tmp.toString + "/t.arrow"
    try {
      val df = spark.range(100).selectExpr("id", "concat('v', id) AS s",
        "CAST(id * 1.5 AS DOUBLE) AS d")
      new Stream(df.toDF(), SourceConf[org.apache.spark.sql.Row]()).toArrowFile(path)
      val back = Stream.fromArrowFile(spark, path).debug()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      val orig = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(back == orig)
      // any Arrow reader opens it: check the stream magic is parseable by
      // re-reading through the converters (done above) and non-empty file
      assert(new java.io.File(path).length() > 0)
    } finally graft.streaming.StreamingRun.deleteTree(tmp)
  }

  test("print and ignore sinks materialize without error (K1/K2)") {
    val s = Stream.fromCollection(spark, (0L until 5L))
    assert(s.print().isEmpty)  // batch: console show, no query handle
    assert(s.ignore().isEmpty) // batch: noop write
  }

  test("rebalance and parallelism control partition counts (P5/P7)") {
    val s = Stream.fromCollection(spark, (0L until 100L))
    assert(s.rebalance(7).ds.rdd.getNumPartitions == 7)
    assert(s.parallelism(3, org.apache.spark.sql.functions.col("value"))
      .ds.rdd.getNumPartitions == 3)
  }

  test("application conf maps to session settings; run() is the app terminal (ApplicationConf analog)") {
    // the pairs session() hands the builder, per backend
    val common = Map("spark.master" -> "local[3]", "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.streaming.LocalCheckpointFs")
    def derived(backend: String) = Application.sessionConfs(AppConf(
      master = "local[3]", parallelism = 6, stateBackend = backend)).toMap
    assert(derived("hdfs") == common)
    assert(derived("rocksdb") == common ++ Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
    // the harness session is built from the same mapping
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    val conf = AppConf(parallelism = 4, stateBackend = "hdfs", epochInterval = "1 seconds")
    val s = Stream.fromCollection(spark, (0L until 10L))
    assert(Application.run(s, conf).isEmpty) // bounded: executed + discarded
  }

  test("the session's context stops every state store when it ends") {
    import org.apache.spark.scheduler.SparkListenerApplicationEnd
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.graftbridge.StateStoreBridge
    implicit val sqlCtx = spark.sqlContext
    // one listener per context, however often session() returns it
    val releaser = Application.stateStoreReleaser(spark.sparkContext)
    assert(Application.session(graft.Harness.conf(4)).sparkContext eq spark.sparkContext)
    assert(Application.stateStoreReleaser(spark.sparkContext) eq releaser)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-release")
    val input = MemoryStream[Long]
    val q = Application.withConfs(spark, Application.providerConfs(Application.RocksDbProvider)) {
      input.toDF().groupBy("value").count().writeStream.outputMode("complete")
        .format("noop").option("checkpointLocation", ckpt.toString).start()
    }
    try {
      input.addData(1L, 2L, 1L)
      q.processAllAvailable()
      val ids = StateStoreBridge.providerIds(q)
      assert(ids.exists(StateStoreBridge.isLoaded), ids)
      assert(StateStoreBridge.isMaintenanceRunning)
      releaser.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
      assert(!ids.exists(StateStoreBridge.isLoaded), ids)
      assert(!StateStoreBridge.isMaintenanceRunning)
    } finally {
      q.stop()
      graft.streaming.StreamingRun.deleteTree(ckpt)
    }
  }

  test("an unknown state backend is rejected before any session is built") {
    val e = intercept[IllegalArgumentException](
      Application.session(AppConf(stateBackend = "rocksDB")))
    assert(e.getMessage.contains("stateBackend") && e.getMessage.contains("rocksDB"),
      e.getMessage)
  }

  test("withConfs restores every key when a later set throws") {
    val (a, b, c) = ("spark.graft.test.a", "spark.graft.test.b", "spark.graft.test.c")
    spark.conf.set(a, "before")
    try {
      // a static SQL conf cannot be set on a running session
      intercept[Exception](Application.withConfs(spark, Seq(a -> "1", b -> "2",
        "spark.sql.warehouse.dir" -> "elsewhere", c -> "3"))(fail("body ran")))
      assert(spark.conf.getOption(a).contains("before"))
      assert(spark.conf.getOption(b).isEmpty && spark.conf.getOption(c).isEmpty)
    } finally spark.conf.unset(a)
  }

  test("withConfs restores every key when the body throws") {
    val (a, b) = ("spark.graft.test.a", "spark.graft.test.b")
    // a registered conf reads as its default while unset; it must come
    // back unset, not set to that default
    val registered = "spark.sql.cbo.enabled"
    assert(!spark.conf.getAll.contains(registered))
    spark.conf.set(a, "before")
    try {
      val e = intercept[IllegalStateException](Application.withConfs(spark,
          Seq(a -> "1", b -> "2", a -> "3", registered -> "true")) {
          assert(spark.conf.get(a) == "3" && spark.conf.get(b) == "2")
          throw new IllegalStateException("body")
        })
      assert(e.getMessage == "body")
      assert(spark.conf.getOption(a).contains("before"))
      assert(spark.conf.getOption(b).isEmpty)
      assert(!spark.conf.getAll.contains(registered))
    } finally spark.conf.unset(a)
  }

  test("keyed partitioning: all elements of a key land in one partition (channel/strategy/keyed.rs:148-225)") {
    // the Keyed channel strategy's contract: hash routing sends every
    // element of a key to the same downstream instance, and keys spread
    // across instances. Spark analog: repartition by key column.
    val n = 1000
    val parts = 8
    val byPartition = Stream.fromCollection(spark, (0L until n))
      .parallelism(parts, org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("value"), org.apache.spark.sql.functions.lit(64L)))
      .ds.mapPartitions { it => Iterator(it.map(_ % 64).toSet) }
      .collect()
    // each key appears in exactly one partition
    val all = byPartition.flatten
    assert(all.size == all.toSet.size, "a key appeared in two partitions")
    assert(all.toSet == (0L until 64L).toSet)
    // and keys spread across more than one instance
    assert(byPartition.count(_.nonEmpty) > 1)
  }

  test("keyBy + reduce: per-key reduction (ReducerState analog)") {
    val out = Stream.fromCollection(spark, (0L until 10L))
      .keyBy(_ % 2)
      .reduce(_ + _)
      .debug().toMap
    assert(out == Map(0L -> 20L, 1L -> 25L))
  }

  test("keyBy + aggregate: full Aggregator contract (AggregatorState analog)") {
    val avg = new ArconAggregator[Long, (Long, Long), Double] {
      def createAccumulator(): (Long, Long) = (0L, 0L)
      def add(acc: (Long, Long), v: Long): (Long, Long) = (acc._1 + v, acc._2 + 1)
      def mergeAccumulators(a: (Long, Long), b: (Long, Long)): (Long, Long) =
        (a._1 + b._1, a._2 + b._2)
      def accumulatorIntoResult(acc: (Long, Long)): Double =
        acc._1.toDouble / acc._2.toDouble
    }
    val out = Stream.fromCollection(spark, (0L until 10L))
      .keyBy(_ % 2).aggregate(avg).debug().toMap
    assert(out == Map(0L -> 4.0, 1L -> 5.0))
  }

  test("withPerSideWatermark rejects a predicate referencing the event-time column") {
    import org.apache.spark.sql.functions.col
    // must be a STREAMING frame: on batch input the analyzer eliminates
    // the EventTimeWatermark node and there is no tracker to protect
    val df = spark.readStream.format("rate").load() // (timestamp, value)
    val s = new Stream(df, SourceConf[org.apache.spark.sql.Row]())
    // the legal shape composes (executed per-side semantics are pinned
    // by StreamingRunSpec's w17 progress-trace assertion)
    assert(s.withPerSideWatermark("timestamp", "1 hour",
      col("value") % 2 === 0).watermarked)
    // an event-time-referencing predicate would sit ABOVE the watermark
    // node and change the tracker's population: fail loud
    val e = intercept[IllegalArgumentException] {
      s.withPerSideWatermark("timestamp", "1 hour",
        col("timestamp") > "2020-01-01" && col("value") % 2 === 0)
    }
    assert(e.getMessage.contains("event-time"))
  }
}
