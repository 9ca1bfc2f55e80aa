package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import graft.functions.{HofTwins => H, TextFunctions => T, VectorFunctions => V}

/** The native Catalyst expressions must be bit-identical to their
  * declarative HOF twins — the twins are the executable specification
  * (and the thing the DuckDB oracles were derived from). Checked over
  * the real sf0.001 corpus plus adversarial edge cases (empty text,
  * sub-shingle-length texts, repeated tokens, multi-space runs, CJK).
  */
class NativeExprParitySpec extends SparkTestBase {
  import spark.implicits._

  private def corpus = {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edges = Seq(
      "", "a", "a b", "one two three", "one two three four",
      "tok tok tok tok", "x  y   z", " leading", "trailing ",
      "的 是 了 在 和", "a b a b a b").toDF("text")
    real.union(edges)
  }

  test("native text expressions ≡ HOF twins (polyHash/simHash/shingles/bandKeys)") {
    val df = corpus.select(
      T.polyHash(col("text")).as("n1"), H.polyHashHof(col("text")).as("h1"),
      T.simHash(col("text")).as("n2"), H.simHashHof(col("text")).as("h2"),
      T.shingleHashes(col("text"), 3).as("n3"),
      H.shingleHashesHof(col("text"), 3).as("h3"),
      T.minHashBandKeys(col("text"), 3, 32, 8).as("n4"),
      H.minHashBandKeysHof(H.shingleHashesHof(col("text"), 3), 32, 8).as("h4"))
    val bad = df.filter(!(col("n1") <=> col("h1") && col("n2") <=> col("h2") &&
      col("n3") <=> col("h3") && col("n4") <=> col("h4"))).count()
    assert(bad == 0)
  }

  test("native topBigramFrac ≡ HOF twin (incl. <2-token and repeat edges)") {
    val df = corpus.select(
      T.topBigramFrac(col("text")).as("n"),
      H.topBigramFracHof(col("text")).as("h"))
    assert(df.filter(!(col("n") <=> col("h"))).count() == 0)
  }

  /** Seeded documents around the gate's thresholds: stopword, empty
    * (multi-space) and CJK tokens, repeated phrases. */
  private def gateDocs(n: Int, seed: Int): Seq[String] = {
    val vocab = Seq("the", "a", "of", "and", "to", "in", "is", "data",
      "model", "train", "text", "alpha", "beta", "x", "", "token", "zeta",
      "的", "ok", "quality", "filter", "corpus", "z9", "42")
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val len = 40 + rnd.nextInt(90)
      val phrase = Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      val repeat = rnd.nextInt(4) // 0: no planted phrase
      val toks = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))) ++
        Seq.fill(repeat)(phrase).flatten
      val doc = rnd.shuffle(toks.grouped(3).toSeq).flatten.mkString(" ")
      if (rnd.nextInt(10) == 0) s" $doc " else doc
    }
  }

  test("native n-gram fractions ≡ HOF twin (top + dup, n = 2..10)") {
    val extra = Seq("  ", " a b a b ", "a  b  a  b  a  b", "的 是 的 是 的 是")
    val df0 = corpus.union((extra ++ gateDocs(200, 801)).toDF("text"))
    val checks = for { n <- 2 to 10; dup <- Seq(false, true) } yield
      ((if (dup) T.dupNgramCharFrac(col("text"), n) else T.topNgramCharFrac(col("text"), n)),
        H.ngramCharFracHof(col("text"), n, dup))
    val df = df0.select(checks.zipWithIndex.flatMap { case ((nat, hof), i) =>
      Seq(nat.as(s"n$i"), hof.as(s"h$i")) }: _*)
    val bad = df.filter(checks.indices.map(i =>
      !(col(s"n$i") <=> col(s"h$i"))).reduce(_ || _)).count()
    assert(bad == 0)
    // null text: every fraction is null (the report's null-stats contract)
    val nul = Seq(null: String).toDF("text")
      .select(checks.map(_._1): _*).head()
    assert(checks.indices.forall(nul.isNullAt))
  }

  test("Gopher keep ≡ coalesce(quality twin ∧ repetition twin, false)") {
    import graft.operators.GopherRules
    // 𝒜ab: 3 code points, 4 UTF-16 units — mean word length counts
    // code points (2.98), so this doc fails the [3, 10] rule; in UTF-16
    // units (3.95) it would pass
    val astral = (Seq("the", "of") ++ Seq.fill(58)("𝒜ab")).mkString(" ")
    val edges = Seq(null, "", "   ", " leading and trailing ", "a b", astral,
      (Seq("the", "of") ++ (1 to 58).map(i => f"word$i%02d")).mkString(" "),
      (Seq("the", "of") ++ (1 to 58).map(i => f"word$i%02d")).mkString("  "))
    val docs = corpus.union((edges ++ gateDocs(400, 802)).toDF("text"))
      .select(col("text"),
        GopherRules.keep(col("text")).as("nk"), GopherTwins.keep(col("text")).as("hk"),
        GopherRules.passQuality(col("text")).as("nq"),
        GopherTwins.passQuality(col("text")).as("hq"),
        GopherRules.passRepetition(col("text")).as("nr"),
        GopherTwins.passRepetition(col("text")).as("hr"))
      .cache()
    try {
      // the family verdicts are tri-state; the HOF n-gram twin reads a
      // null text as 0.0, so families are compared on non-null text
      val bad = docs.filter(!(col("nk") <=> col("hk")) || (col("text").isNotNull &&
        !(col("nq") <=> col("hq") && col("nr") <=> col("hr"))))
        .select("text").collect().map(_.getString(0))
      assert(bad.isEmpty, bad.take(3).mkString(" | "))
      val nul = docs.filter(col("text").isNull).select("nk", "nq", "nr").head()
      assert(!nul.getBoolean(0) && nul.isNullAt(1) && nul.isNullAt(2))
      // the battery is exercised on both sides of every family
      val kept = docs.filter(col("nk")).count()
      assert(kept > 0 && kept < docs.count(), s"$kept kept")
      assert(docs.filter(col("nq") && !col("nr")).count() > 0)
      assert(docs.filter(!col("nq") && col("nr")).count() > 0)
      assert(docs.filter(col("text") === astral).select("nq").head().getBoolean(0) == false)
    } finally docs.unpersist()
  }

  test("native jaccard ≡ HOF twin (incl. empty-set edge)") {
    val pairs = corpus.as("a").crossJoin(corpus.limit(5).as("b"))
      .select(T.shingleHashes(col("a.text"), 3).as("sa"),
        T.shingleHashes(col("b.text"), 3).as("sb"))
    val bad = pairs.filter(
      !(T.jaccardShingles(col("sa"), col("sb")) <=>
        H.jaccardShinglesHof(col("sa"), col("sb")))).count()
    assert(bad == 0)
  }

  test("native aHash61 ≡ pure-Scala reference on random byte streams + edges") {
    // independent reference: functional restatement of the pooling rule
    def ref(b: Array[Byte]): Long = {
      val n = b.length
      val cells = (0 until 61).map { j =>
        val lo = (j.toLong * n / 61).toInt
        val hi = ((j + 1).toLong * n / 61).toInt
        if (hi > lo) b.slice(lo, hi).map(x => (x & 0xff).toLong).sum / (hi - lo)
        else 0L
      }
      val mean = cells.sum / 61
      cells.zipWithIndex.collect { case (c, j) if c > mean => 1L << j }.sum
    }
    val rnd = new scala.util.Random(7)
    val cases: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray,
      Array[Byte](0), Array[Byte](-1), // unsigned-read edge (0xff)
      Array.fill[Byte](61)(42),
      Array.fill[Byte](7)(0)) ++
      (1 to 40).map(_ => Array.fill[Byte](rnd.nextInt(400))(rnd.nextInt(256).toByte))
    val df = cases.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "media")
      .select(col("id"), T.aHash61(col("media")).as("sig"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.zipWithIndex.foreach { case (b, i) =>
      assert(got(i.toLong) == ref(b), s"case $i (len ${b.length})")
    }
    // the 61-bit packing contract: top bits always clear
    assert(got.values.forall(s => (s >>> 61) == 0L))
  }

  test("native vector expressions ≡ HOF twins (cosine/lshSignature)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val pairs = emb.as("a").crossJoin(emb.limit(7).as("b"))
      .select(col("a.embedding").as("va"), col("b.embedding").as("vb"))
    val bad = pairs.filter(
      !(V.cosine(col("va"), col("vb")) <=> H.cosineHof(col("va"), col("vb")) &&
        V.lshSignature(col("va"), 8, 64) <=> H.lshSignatureHof(col("va"), 8, 64)))
      .count()
    assert(bad == 0)
  }
}
