package graftbench

/** The benchmark's own tests: seeded inputs are reproducible, the
  * reference fold matches a hand-computed case, and a broken output is
  * caught. Run with `python3 perfbench/test.py`; exits non-zero on the
  * first failure. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case t: Throwable => println(s"  $t"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  private def digest(chunks: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    chunks.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  private def windowInputs(p: WindowWorkload.Params, seed: Long): String = {
    val in = WindowWorkload.inputs(p, seed, 2)
    digest((in.backlog +: in.chunks :+ in.warm :+ in.open).iterator
      .flatMap(_.frames.iterator))
  }

  private def corpusBytes(seed: Long): String =
    digest(CurationWorkload.corpus(seed).docs.iterator
      .map { case (id, t) => s"$id\t$t\n".getBytes("UTF-8") })

  /** Events built by hand: (key, event time, value, due, kind). */
  private def events(rows: (Long, Long, Long, Long, Byte)*): Events =
    new Events(rows.map(r => Gen.frame(r._1, r._2, r._3, r._4)).toArray,
      rows.map(_._1).toArray, rows.map(_._2).toArray, rows.map(_._3).toArray,
      rows.map(_._4).toArray, rows.map(_._5).toArray)

  def main(args: Array[String]): Unit = {
    for (p <- Seq(WindowWorkload.rocksdb, WindowWorkload.smallState)) {
      check(s"${p.name}: same seed gives byte-identical inputs") {
        windowInputs(p, 7) == windowInputs(p, 7)
      }
      check(s"${p.name}: another seed gives other inputs") {
        windowInputs(p, 7) != windowInputs(p, 8)
      }
    }
    check("curation_batch: same seed gives byte-identical corpus") {
      corpusBytes(7) == corpusBytes(7)
    }
    check("curation_batch: another seed gives another corpus") {
      corpusBytes(7) != corpusBytes(8)
    }
    check("generator plants every kind at about its share") {
      val in = WindowWorkload.inputs(WindowWorkload.rocksdb, 3, 4)
      val n = in.open.size.toDouble
      Seq(Kind.Late -> 0.002, Kind.Malformed -> 0.002, Kind.OutOfOrder -> 0.05)
        .forall { case (k, share) => math.abs(in.open.count(k) / n - share) < share / 2 }
    }

    // window 1000 ms; key 1 gets two on-time events in [0, 1000) and an
    // out-of-order one in [1000, 2000); key 2 one event; a late and a
    // malformed event count for nothing
    val tiny = events(
      (1, 100, 5, 10, Kind.OnTime), (1, 900, 7, 20, Kind.OnTime),
      (2, 1500, 1, 30, Kind.OnTime), (1, 1200, 2, 40, Kind.OutOfOrder),
      (Gen.LateKeyBase, 50, 9, 50, Kind.Late), (1, 1300, 4, 60, Kind.Malformed))
    val ref = Reference.fold(new Reference.Table, tiny, 0, tiny.size, 1000)
    check("reference fold matches the hand-computed case") {
      ref.toMap == Map(
        (1L, 0L) -> Reference.Agg(12, 2, 20), (1L, 1000L) -> Reference.Agg(2, 1, 40),
        (2L, 1000L) -> Reference.Agg(1, 1, 30))
    }
    check("only windows the watermark has passed are due") {
      Reference.emitted(ref, 1000, 1999).keySet == Set((1L, 0L)) &&
        Reference.emitted(ref, 1000, 2000).size == 3
    }

    val expected = ref.toMap
    val good = expected.toSeq.map { case (w, a) => (w, (a.sum, a.count)) }
    def rate(af: (Long, Long)): Double = af._2.toDouble / af._1
    check("the correct output has error_rate 0") {
      rate(Reference.check(expected, good)) == 0.0
    }
    check("one dropped row gives error_rate > 0") {
      rate(Reference.check(expected, good.tail)) > 0
    }
    check("one altered sum gives error_rate > 0") {
      val ((w, (s, n)) +: rest) = good
      rate(Reference.check(expected, (w, (s + 1, n)) +: rest)) > 0
    }
    check("one repeated row gives error_rate > 0") {
      rate(Reference.check(expected, good :+ good.head)) > 0
    }
    check("one unexpected row gives error_rate > 0") {
      rate(Reference.check(expected, good :+ ((3L, 0L), (1L, 1L)))) > 0
    }

    val c = CurationWorkload.corpus(5)
    val t = CurationWorkload.truth(c)
    check("curation truth: each planted cluster keeps only its smallest id") {
      val planted = c.families.filter(f => f.combinations(2).forall {
        case Seq(x, y) => t.pairs.contains((x min y, x max y)) })
      planted.nonEmpty && planted.forall(f => f.filter(t.kept) == Seq(f.min)) &&
        t.kept.size == c.good.size - planted.map(_.size - 1).sum
    }
    check("curation: the true kept set passes, one dropped id fails") {
      CurationWorkload.checkKept(t.kept, t.kept.toSeq)._2 == 0 &&
        CurationWorkload.checkKept(t.kept, t.kept.toSeq.tail)._2 > 0
    }
    check("curation: a pair below the threshold fails precision") {
      val bad = c.families.find(f => !t.pairs.contains((f(0) min f(1), f(0) max f(1))))
        .map(f => (f(0) min f(1), f(0) max f(1))).get
      CurationWorkload.checkPairs(c, t, t.pairs.toSeq)._2 == 0 &&
        CurationWorkload.checkPairs(c, t, t.pairs.toSeq :+ bad)._2 > 0
    }
    check("curation: recall below the floor fails") {
      CurationWorkload.checkPairs(c, t, t.pairs.toSeq.take(t.pairs.size / 2))._2 > 0
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-tests failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
