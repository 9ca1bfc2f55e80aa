package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import graft.api.Application

/** Value analog of the reference's `SmallStruct`
  * (`/root/reference/arcon/benches/hash_table.rs:42-60`). */
case class SmallState(x1: Long, x2: Int, x3: Double)

/** Value analog of the reference's `LargeStruct`
  * (`/root/reference/arcon/benches/hash_table.rs:62-91`). */
case class LargeState(x1: Long, x2: Int, x3: Double,
    x4: Seq[Long], x5: Seq[Long], x6: Seq[Double])

/** State-index micro-benchmark — the analog of the reference's criterion
  * benches for value and hash-table state
  * (`/root/reference/arcon/benches/value.rs:7-55` rolling-counter rmw per
  * epoch; `/root/reference/arcon/benches/hash_table.rs:9-40,92+` 100k ops
  * over 10k keys, uniform and hot-key distributions, small and large
  * values).
  *
  * Two backends, mirroring the reference's Local(in-memory)/Rocks split:
  *  - `local_*`: [[graft.api.LocalIndexState]] — the bounded-replay
  *    backend; pure JVM, measures the index-layer overhead itself.
  *  - `tws_*`: the same op sequence driven through a real
  *    `transformWithState` streaming query on the RocksDB state store
  *    (one grouping key = one store, like the reference's single
  *    hash-table instance), measured end-to-end through the engine.
  *
  * Prints ONE JSON line and writes `index_bench_result.json`.
  */
object IndexBench {

  private val TotalKeys = 10000
  private val TotalOps = 100000
  private val OpsPerEpoch = 10000

  private case class Leg(ops: Long, sec: Double) {
    def opsPerSec: Double = if (sec > 0) ops / sec else 0.0
    def json: String = s"""{"ops":$ops,"sec":$sec,"ops_per_sec":$opsPerSec}"""
  }

  private def time[A](body: => A): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** The reference's key streams (hash_table.rs:14-39): uniform random
    * draws, and the "hot" pattern where each drawn pair is pushed twice. */
  private def uniformKeys(rng: java.util.Random): Array[Long] =
    Array.fill(TotalOps)(rng.nextInt(TotalKeys).toLong)
  private def hotKeys(rng: java.util.Random): Array[Long] = {
    val out = new Array[Long](TotalOps)
    var i = 0
    while (i < TotalOps) {
      val a = rng.nextInt(TotalKeys).toLong
      val b = rng.nextInt(TotalKeys).toLong
      out(i) = a; out(i + 1) = b; out(i + 2) = a; out(i + 3) = b
      i += 4
    }
    out
  }

  // ---- local backend (index layer itself) ----------------------------

  /** value.rs rolling counter: OPS_PER_EPOCH rmw ops then an epoch
    * boundary, repeated; the Local backend has no persist step. */
  private def localValueRmw(epochs: Int): Leg = {
    val st = new graft.api.LocalIndexState
    val v = st.value[Long]("ctr")(Encoders.scalaLong)
    v.put(0L)
    val sec = time {
      var e = 0
      while (e < epochs) {
        var i = 0
        while (i < OpsPerEpoch) { v.rmw(0L)(_ + 1L); i += 1 }
        e += 1
      }
    }
    val expected = epochs.toLong * OpsPerEpoch
    require(v.get.contains(expected), s"counter=${v.get} != $expected")
    Leg(expected, sec)
  }

  private def localMapRmw[V](keys: Array[Long], init: V, bump: V => V)(
      implicit vEnc: org.apache.spark.sql.Encoder[V]): Leg = {
    val st = new graft.api.LocalIndexState
    val m = st.map[Long, V]("m")(Encoders.scalaLong, vEnc)
    val sec = time {
      var i = 0
      while (i < keys.length) {
        val k = keys(i)
        m.put(k, m.get(k).map(bump).getOrElse(init))
        i += 1
      }
    }
    Leg(keys.length.toLong, sec)
  }

  // ---- transformWithState / RocksDB backend --------------------------

  /** Drive `keys` through a real streaming query: one grouping key (one
    * state store instance, like the reference's single table), state ops
    * inside the processor, AvailableNow drain, engine time from the
    * progress listener. `mode` = "value" (rolling counter rmw) or "map"
    * (get-modify-put of a SmallState per op key). */
  private def twsLeg(spark: SparkSession, keys: Array[Long], mode: String): Leg = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Long]
    val blocks = 10
    val perBlock = keys.length / blocks
    (0 until blocks).foreach(b =>
      input.addData(keys.slice(b * perBlock, (b + 1) * perBlock).toSeq))
    val op = new graft.operators.IndexOperator[Long, Long, Long] {
      @transient private var ctr: graft.api.ValueIndex[Long] = _
      @transient private var tbl: graft.api.MapIndex[Long, SmallState] = _
      def open(state: graft.api.IndexState): Unit = {
        ctr = state.value[Long]("ctr")(Encoders.scalaLong)
        tbl = state.map[Long, SmallState]("tbl")(
          Encoders.scalaLong, Encoders.product[SmallState])
      }
      def handleElement(key: Long, e: Long, ts: Option[Long],
          c: graft.operators.TimerContext): Iterator[Long] = {
        if (mode == "value") ctr.rmw(0L)(_ + 1L)
        else tbl.put(e, tbl.get(e) match {
          case Some(s) => s.copy(x1 = s.x1 + 1)
          case None    => SmallState(100L, 500, 1000.0)
        })
        Iterator.empty
      }
    }
    val out = new graft.api.Stream(input.toDS(), graft.api.SourceConf[Long]())
      .keyBy(_ => 0L)(Encoders.scalaLong)
      .indexOperator(op)(Encoders.scalaLong)
    val m = graft.streaming.Measure.attach(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-idxbench").toString
    try {
      val q = out.toDF.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val deadline = System.nanoTime() + 5000000000L
      while (m.totalRows < keys.length && System.nanoTime() < deadline)
        Thread.sleep(50)
      Leg(m.totalRows, m.totalSeconds)
    } finally graft.streaming.Measure.remove(spark, m)
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")

    val rng = new java.util.Random(42)
    val uni = uniformKeys(rng)
    val hot = hotKeys(rng)
    val smallEnc = Encoders.product[SmallState]
    val largeEnc = Encoders.product[LargeState]
    val largeInit = LargeState(50L, 1000, 500.0,
      Seq(200L, 300L, 1000L, 5000L, 200L, 350L, 100L),
      Seq(20L, 50L, 100L, 20L, 40L, 100L, 900L, 100L),
      Seq(150.0, 500.1, 35.5, 20.5, 40.9, 80.5, 400.5, 350.0))

    // warm-up (JIT) then measured — criterion does the same implicitly
    localValueRmw(epochs = 10)
    localMapRmw[SmallState](uni, SmallState(100L, 500, 1000.0),
      s => s.copy(x1 = s.x1 + 1))(smallEnc)

    val legs = scala.collection.mutable.LinkedHashMap[String, Leg]()
    legs("local_value_rmw") = localValueRmw(epochs = 100)
    legs("local_map_small_uniform") = localMapRmw[SmallState](uni,
      SmallState(100L, 500, 1000.0), s => s.copy(x1 = s.x1 + 1))(smallEnc)
    legs("local_map_small_hot") = localMapRmw[SmallState](hot,
      SmallState(100L, 500, 1000.0), s => s.copy(x1 = s.x1 + 1))(smallEnc)
    legs("local_map_large_uniform") = localMapRmw[LargeState](uni,
      largeInit, s => s.copy(x1 = s.x1 + 1))(largeEnc)
    legs("local_map_large_hot") = localMapRmw[LargeState](hot,
      largeInit, s => s.copy(x1 = s.x1 + 1))(largeEnc)
    Application.withConfs(spark, Application.backendConfs("rocksdb")) {
      legs("tws_value_rmw") = twsLeg(spark, uni, "value")
      legs("tws_map_small_uniform") = twsLeg(spark, uni, "map")
      legs("tws_map_small_hot") = twsLeg(spark, hot, "map")
    }

    val json = legs.map { case (k, l) => "\"" + k + "\":" + l.json }
      .mkString("""{"metric":"index_bench","legs":{""", ",", "}}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("index_bench_result.json"), json)
    println(json)
    spark.stop()
  }
}
