package graftbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Event kinds planted by the generator. */
object Kind {
  val OnTime: Byte = 0
  /** Out of order, but within the watermark delay: must be counted. */
  val OutOfOrder: Byte = 1
  /** Behind every watermark the run can have: must be dropped. */
  val Late: Byte = 2
  /** Not a decodable proto3 frame: must be dropped by the decoder. */
  val Malformed: Byte = 3
}

/** Shape of a keyed event stream. `zipfS = 0` draws keys uniformly. */
final case class EventShape(keys: Int, zipfS: Double, oooShare: Double,
    lateShare: Double, malformedShare: Double, delayMs: Long)

/** A generated event stream: proto3 frames plus the ground truth the
  * reference fold reads. Event `i` is due `dueUs(i)` microseconds after
  * the stream's schedule starts; its event time is `tsMs(i)`. */
final class Events(val frames: Array[Array[Byte]], val key: Array[Long],
    val tsMs: Array[Long], val value: Array[Long], val dueUs: Array[Long],
    val kind: Array[Byte]) {
  def size: Int = frames.length
  def count(k: Byte): Int = kind.count(_ == k)
  def maxTsMs: Long = tsMs.indices.filter(i => kind(i) != Kind.Malformed)
    .map(tsMs).maxOption.getOrElse(Long.MinValue)
  /** First index whose due time is after `us` (events are due in order). */
  def dueBefore(us: Long, from: Int): Int = {
    var i = from
    while (i < size && dueUs(i) <= us) i += 1
    i
  }
}

object Gen {
  /** Event time of schedule time 0: a fixed instant, so the same seed
    * gives byte-identical frames on every run. */
  val BaseMs: Long = 1700000000000L
  /** Keys at or above this are reserved: each late event gets its own
    * key, so partial aggregation cannot merge two of them and the
    * state operator's dropped-row count equals the planted count. */
  val LateKeyBase: Long = 1L << 40
  val WarmKeyBase: Long = 1L << 41
  val FlushKey: Long = 1L << 42

  /** proto3 field numbers of the event message (all varint int64). */
  val FKey = 1; val FTs = 2; val FValue = 3; val FDue = 4

  def frame(key: Long, ts: Long, value: Long, due: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(32)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0L) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    Seq(FKey -> key, FTs -> ts, FValue -> value, FDue -> due).foreach {
      case (f, v) => varint((f << 3).toLong); varint(v)
    }
    out.toByteArray
  }

  /** A frame whose first varint never terminates: malformed proto3. */
  def malformed(r: SplittableRandom): Array[Byte] =
    Array.fill(1 + r.nextInt(3))((0x80 | r.nextInt(0x80)).toByte)
      .+:((FKey << 3).toByte)

  /** Cumulative Zipf weights over ranks 1..n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); c(i) = acc; i += 1 }
    c.map(_ / acc)
  }

  /** `n` events due at `ratePerS` per second from schedule time 0,
    * event time `BaseMs + startMs + due`. Late events sit far behind
    * `lateBeforeMs` (an event time every batch's watermark has passed);
    * out-of-order events sit at most 80% of the delay behind. `stream`
    * separates independent streams drawn from one seed. */
  def events(seed: Long, stream: Int, n: Int, ratePerS: Double,
      startMs: Long, lateBeforeMs: Long, shape: EventShape): Events = {
    val r = new SplittableRandom(seed * 1000003L + stream)
    val cdf = if (shape.zipfS > 0) zipfCdf(shape.keys, shape.zipfS) else null
    val frames = new Array[Array[Byte]](n)
    val key = new Array[Long](n); val ts = new Array[Long](n)
    val value = new Array[Long](n); val due = new Array[Long](n)
    val kind = new Array[Byte](n)
    var i = 0
    while (i < n) {
      due(i) = (i * 1e6 / ratePerS).toLong
      val u = r.nextDouble()
      kind(i) =
        if (u < shape.malformedShare) Kind.Malformed
        else if (u < shape.malformedShare + shape.lateShare) Kind.Late
        else if (u < shape.malformedShare + shape.lateShare + shape.oooShare)
          Kind.OutOfOrder
        else Kind.OnTime
      key(i) =
        if (kind(i) == Kind.Late) LateKeyBase + stream * 10000000L + i
        else if (cdf != null) {
          val k = java.util.Arrays.binarySearch(cdf, r.nextDouble())
          (if (k >= 0) k else -k - 1).toLong + 1
        } else (r.nextInt(shape.keys) + 1).toLong
      value(i) = 1 + r.nextInt(100)
      val onTime = BaseMs + startMs + due(i) / 1000
      ts(i) = kind(i) match {
        case Kind.OutOfOrder => onTime - 1 - r.nextLong(shape.delayMs * 4 / 5)
        case Kind.Late => BaseMs + lateBeforeMs - 1 - r.nextLong(5000)
        case _ => onTime
      }
      frames(i) =
        if (kind(i) == Kind.Malformed) malformed(r)
        else frame(key(i), ts(i), value(i), due(i))
      i += 1
    }
    new Events(frames, key, ts, value, due, kind)
  }
}

/** The reference fold: exact sums and counts per (key, window) over the
  * events the engine must keep, with the due time of the last event
  * that contributed. */
object Reference {
  final case class Agg(sum: Long, count: Long, lastDueUs: Long)
  type Table = mutable.HashMap[(Long, Long), Agg]

  def windowStart(tsMs: Long, windowMs: Long): Long =
    tsMs - Math.floorMod(tsMs, windowMs)

  /** Fold events `[from, until)` into `into`; `dueOffsetUs` places the
    * stream's schedule on a common clock. */
  def fold(into: Table, ev: Events, from: Int, until: Int, windowMs: Long,
      dueOffsetUs: Long = 0L): Table = {
    var i = from
    while (i < until) {
      val k = ev.kind(i)
      if (k == Kind.OnTime || k == Kind.OutOfOrder) {
        val w = (ev.key(i), windowStart(ev.tsMs(i), windowMs))
        val a = into.getOrElse(w, Agg(0, 0, Long.MinValue))
        into(w) = Agg(a.sum + ev.value(i), a.count + 1,
          math.max(a.lastDueUs, ev.dueUs(i) + dueOffsetUs))
      }
      i += 1
    }
    into
  }

  /** Windows the engine must have emitted once its watermark reached
    * `watermarkMs`: append mode emits a window when the watermark
    * passes its end. */
  def emitted(t: Table, windowMs: Long, watermarkMs: Long): Map[(Long, Long), Agg] =
    t.iterator.filter { case ((_, s), _) => s + windowMs <= watermarkMs }.toMap

  /** Compare emitted (key, window start) → (sum, count) rows against the
    * expected table. Every expected window is one checked operation, and
    * so is every unexpected or repeated emitted row. Returns
    * (attempted, failed). */
  def check(expected: Map[(Long, Long), Agg],
      got: Seq[((Long, Long), (Long, Long))]): (Long, Long) = {
    val seen = mutable.HashMap.empty[(Long, Long), (Long, Long)]
    var extra = 0L
    got.foreach { case (w, v) =>
      if (seen.contains(w) || !expected.contains(w)) extra += 1
      else seen(w) = v
    }
    val wrong = expected.count { case (w, a) =>
      !seen.get(w).contains((a.sum, a.count)) }
    (expected.size + extra, wrong + extra)
  }
}
