package graft.api

import graft.SparkTestBase
import org.apache.spark.sql.Encoders

/** The reference ships five runnable examples (`/root/reference/examples/`)
  * — its public face for users. Each test here is that example's pipeline
  * re-expressed through this library's DSL, end to end, with the result
  * asserted (the reference examples just print). A reference user should
  * be able to port each example mechanically.
  *
  * `kafka_source.rs` is the one exception: the connector jar is absent
  * from this container (environment-limited, documented in
  * [[Stream.fromKafka]]); its serde projections are covered broker-less
  * in SourceSinkSpec.
  */
class ExamplesParitySpec extends SparkTestBase {

  test("examples/file.rs: LocalFileSource -> filter(>50) -> map(*10)") {
    // file source parses i32 lines, drops errors; filter; map; print
    val f = java.nio.file.Files.createTempFile("graft-file-example", ".txt")
    val lines = (1 to 100).map(_.toString) ++ Seq("not-a-number", "", "60")
    java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes)
    val out = try Stream
      .fromLocalFile[Int](spark, f.toString, l => l.toIntOption)(Encoders.scalaInt)
      .filter(_ > 50)
      .map(_ * 10)(Encoders.scalaInt)
      .ds.collect()
    finally java.nio.file.Files.delete(f)
    // 51..100 plus the extra valid "60"; parse failures dropped silently
    assert(out.sorted.toSeq == ((51 to 100).map(_ * 10) :+ 600).sorted)
  }

  test("examples/window.rs: 0..100000 event-time stream, sliding 1000s/500s appender window_sum") {
    // all 100000 event timestamps (millis) land in the single epoch-
    // aligned window [0, 1000000); the negative-start slide is clipped
    val out = Stream
      .fromCollection[Long](spark, (0L until 100000L))(Encoders.scalaLong)
      .withTimestampExtractor(identity)
      .keyBy(_ => 0L)(Encoders.scalaLong) // the example is unkeyed = one global key
      .window(WindowAssigner.Sliding(lengthMs = 1000000L, slideMs = 500000L))
      .appender(buffer => buffer.sum)(Encoders.scalaLong)
      .ds.collect()
    assert(out.toSeq == Seq((0L, 0L, 1000000L, (0L until 100000L).sum)))
  }

  test("examples/stateful.rs: stateful map storing each event in declared value state") {
    // Event { id, data }, keyed by id, EagerValue state put + passthrough
    type Event = (Long, Float)
    implicit val evEnc: org.apache.spark.sql.Encoder[Event] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaFloat)
    val n = 200000L // the example streams 1M; scaled for suite time
    val op = new graft.operators.IndexOperator[Long, Event, Event] {
      @transient private var events: ValueIndex[Event] = _
      def open(state: IndexState): Unit =
        events = state.value[Event]("_events")(evEnc)
      def handleElement(key: Long, e: Event, ts: Option[Long],
          c: graft.operators.TimerContext): Iterator[Event] = {
        events.put(e) // state.events().put(event)?
        Iterator.single(e)
      }
    }
    val out = Stream
      .fromCollection[Event](spark, (0L until n).map(x => (x, 1.5f)))
      .withTimestampExtractor(_._1)
      .keyBy(_._1)(Encoders.scalaLong)
      .indexOperator(op)(evEnc)
      .ds.collect()
    assert(out.length == n)
    assert(out.forall(_._2 == 1.5f))
    assert(out.map(_._1).toSet == (0L until n).toSet)
  }

  test("examples/custom_operator.rs: chained custom operators, second schedules timers") {
    // MyOperator: u64 -> CustomEvent(id), stateless 1 -> 1;
    // TimerOperator: passthrough + schedule_at(current_time + 1000)
    val n = 10000L // the example streams 10M; scaled for suite time
    val first = new graft.operators.StatefulOperator[Long, Long, Long, Long] {
      def initialState: Long = 0L
      def handleElement(key: Long, e: Long, ts: Option[Long], state: Long,
          ctx: graft.operators.OperatorContext): (Long, Iterator[Long]) =
        (state, Iterator.single(e)) // CustomEvent { id: element.data }
    }
    val timed = new graft.operators.StatefulOperator[Long, Long, Long, Long] {
      def initialState: Long = 0L
      def handleElement(key: Long, e: Long, ts: Option[Long], state: Long,
          ctx: graft.operators.OperatorContext): (Long, Iterator[Long]) = {
        ctx.scheduleAt(ts.getOrElse(0L) + 1000L) // schedule_at(current + 1000)
        (state + 1L, Iterator.single(e))
      }
      override def handleTimeout(key: Long, state: Long,
          ctx: graft.operators.OperatorContext): (Long, Iterator[Long]) =
        (state, Iterator.empty) // the example just logs; emits nothing
    }
    val out = Stream
      .fromCollection[Long](spark, (0L until n))(Encoders.scalaLong)
      .withTimestampExtractor(identity)
      .keyBy(_ % 16L)(Encoders.scalaLong)
      .operator(first)(Encoders.scalaLong, Encoders.scalaLong)
      .withTimestampExtractor(identity)
      .keyBy(_ % 16L)(Encoders.scalaLong)
      .operator(timed)(Encoders.scalaLong, Encoders.scalaLong)
      .ds.collect()
    assert(out.sorted.toSeq == (0L until n).toSeq)
  }
}
