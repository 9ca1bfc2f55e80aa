package graft.operators

import java.sql.Timestamp
import graft.SparkTestBase
import graft.api.{Application, IndexState, SourceConf, Stream, ValueIndex, AppenderIndex}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The index-operator path (arcon `ArconState` indexes + timers on
  * `transformWithState` / bounded replay). Ports the shape of
  * `/root/reference/examples/custom_operator.rs` with declared state:
  * an appender buffers elements, a timer drains it. */
/** Buffer values per key; +1s after the first buffered element, drain
  * and emit the buffer's sum. (Top-level: an inner class would drag the
  * non-serializable suite into the closure.) */
class DrainOp extends IndexOperator[Int, (Int, Long, Long), (Int, Long)] {
    @transient private var buf: AppenderIndex[Long] = _
    @transient private var armed: ValueIndex[Boolean] = _
    def open(state: IndexState): Unit = {
      buf = state.appender[Long]("buf")(Encoders.scalaLong)
      armed = state.value[Boolean]("armed")(Encoders.scalaBoolean)
    }
    def handleElement(key: Int, e: (Int, Long, Long), ts: Option[Long],
        ctx: TimerContext): Iterator[(Int, Long)] = {
      buf.append(e._2)
      if (!armed.get.getOrElse(false)) {
        ctx.scheduleAt(ts.get + 1000)
        armed.put(true)
      }
      Iterator.empty
    }
  override def handleTimer(key: Int, firedAt: Long,
      ctx: TimerContext): Iterator[(Int, Long)] = {
    armed.clear()
    Iterator((key, buf.consume().sum))
  }
}

class IndexOperatorSpec extends SparkTestBase {
  import spark.implicits._

  test("bounded: declared indexes + timer drain (custom_operator.rs with ArconState)") {
    // key 7: elements at 1s,1.2s -> timer 2s drains 30; element at 5s -> flush drains 12
    val events = Seq((7, 10L, 1000L), (7, 20L, 1200L), (7, 12L, 5000L))
    val out = Stream.fromCollection(spark, events)
      .withTimestampExtractor(_._3)
      .keyBy(_._1)
      .indexOperator(new DrainOp)(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .debug()
    assert(out == Seq((7, 30L), (7, 12L)))
  }

  test("streaming: transformWithState with state variables and native timers") {
    implicit val sqlCtx = spark.sqlContext
    Application.withConfs(spark,
        Seq(Application.ProviderKey -> Application.RocksDbProvider)) {
      val input = MemoryStream[(Timestamp, Int, Long)]
      val op = new IndexOperator[Int, (Timestamp, Int, Long), (Int, Long)] {
        @transient private var buf: AppenderIndex[Long] = _
        def open(state: IndexState): Unit =
          buf = state.appender[Long]("buf")(Encoders.scalaLong)
        def handleElement(key: Int, e: (Timestamp, Int, Long), ts: Option[Long],
            ctx: TimerContext): Iterator[(Int, Long)] = {
          buf.append(e._3)
          ctx.scheduleAt(ts.get + 3000)
          Iterator.empty
        }
        override def handleTimer(key: Int, firedAt: Long,
            ctx: TimerContext): Iterator[(Int, Long)] =
          Iterator((key, buf.consume().sum))
      }
      val out = new Stream(input.toDS(), SourceConf[(Timestamp, Int, Long)]())
        .withWatermark("_1", "0 seconds")
        .withTimestampExtractor(_._1.getTime)
        .keyBy(_._2)
        .indexOperator(op)(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      val q = out.ds.writeStream.outputMode("append")
        .format("memory").queryName("tws_out").start()
      try {
        input.addData((new Timestamp(1000), 1, 10L), (new Timestamp(2000), 1, 5L))
        q.processAllAvailable()
        assert(spark.sql("SELECT * FROM tws_out").count() == 0) // wm 2s < timers 4s/5s
        input.addData((new Timestamp(20000), 2, 1L)) // wm -> 20s, both timers fire
        q.processAllAvailable()
        val rows = spark.sql("SELECT * FROM tws_out").collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
        // first timer (4s) drains 15; second (5s) drains the empty buffer
        assert(rows == Seq((1, 0L), (1, 15L)))
      } finally q.stop()
    }
  }
}
