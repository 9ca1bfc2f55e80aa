package graftbench

import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, GopherRules}

/** A generated corpus and its ground truth. `families` groups the
  * documents planted as near-duplicates (or as decoys) of one base. */
final case class Corpus(docs: Seq[(Long, String)], good: Set[Long],
    families: Seq[Seq[Long]])

/** The curation pipeline: Gopher quality gate → MinHash-LSH near-dup
  * pairs → connected components → one document kept per cluster. */
object CurationWorkload {

  val ShingleK = 3
  val NumHashes = 32
  val Bands = 16
  val Threshold = 0.5
  /** Share of the planted pairs the LSH must find. */
  val RecallFloor = 0.95
  /** Timed pipeline runs per measured phase, at the least. */
  val MinRuns = 5

  val Singles = 700
  val Clusters = 150
  val Decoys = 50
  val BadPerKind = 75

  val stopwords = Seq("the", "of", "and")

  /** The seeded corpus: clean singles, near-duplicate clusters (one or
    * two substituted words per copy), decoy pairs sharing about half
    * their text (below the threshold), and four kinds of documents each
    * planted to fail one Gopher rule. */
  def corpus(seed: Long): Corpus = {
    val r = new SplittableRandom(seed * 7919L + 17)
    val vocab = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < 4000) {
        val w = Array.fill(4 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString
        if (!TextFunctions.stopwords.exists(_._2.contains(w))) seen += w
      }
      seen.toIndexedSeq
    }
    def word(): String = vocab(r.nextInt(vocab.size))
    // stopwords at three distinct positions, never substituted below
    def clean(n: Int): Array[String] = {
      val ws = Array.fill(n)(word())
      stopwords.zipWithIndex.foreach { case (s, i) => ws(i * n / 3 + r.nextInt(n / 3)) = s }
      ws
    }
    var id = 0L
    val docs = ArrayBuffer.empty[(Long, String)]
    val good = mutable.Set.empty[Long]
    val families = ArrayBuffer.empty[Seq[Long]]
    def add(ws: Array[String], ok: Boolean): Long = {
      id += 1 + r.nextInt(3)
      docs += id -> ws.mkString(" ")
      if (ok) good += id
      id
    }
    (0 until Singles).foreach(_ => add(clean(80 + r.nextInt(60)), ok = true))
    (0 until Clusters).foreach { _ =>
      val base = clean(80 + r.nextInt(60))
      val copies = 1 + r.nextInt(3)
      families += (add(base, ok = true) +: (0 until copies).map { _ =>
        val c = base.clone()
        (0 until 1 + r.nextInt(2)).foreach { _ =>
          val i = r.nextInt(c.length)
          if (!stopwords.contains(c(i))) c(i) = word()
        }
        add(c, ok = true)
      })
    }
    (0 until Decoys).foreach { _ =>
      val a = clean(80 + r.nextInt(60))
      val b = a.take(a.length / 2) ++ clean(a.length - a.length / 2)
      families += Seq(add(a, ok = true), add(b, ok = true))
    }
    (0 until BadPerKind).foreach { _ =>
      add(clean(20 + r.nextInt(25)), ok = false) // too few words
      val phrase = Array.fill(6)(word())
      add(Array.fill(15)(phrase).flatten ++ clean(20), ok = false) // repetition
      add(Array.fill(80 + r.nextInt(40))(word()), ok = false) // no stopwords
      add(clean(80).map(w => if (r.nextBoolean()) r.nextInt(100000).toString else w),
        ok = false) // mostly not alphabetic
    }
    Corpus(docs.toSeq, good.toSet, families.toSeq)
  }

  def shingles(text: String): Set[String] =
    text.split(" ").sliding(ShingleK).filter(_.length == ShingleK)
      .map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val u = (x ++ y).size
    if (u == 0) 0.0 else (x intersect y).size.toDouble / u
  }

  /** Ground truth: the planted pairs (Jaccard ≥ threshold inside a
    * family) and the ids an exact pair finder would make the pipeline
    * keep. */
  final case class Truth(pairs: Set[(Long, Long)], kept: Set[Long])

  def truth(c: Corpus): Truth = {
    val text = c.docs.toMap
    val pairs = c.families.flatMap(f => f.combinations(2).collect {
      case Seq(a, b) if jaccard(text(a), text(b)) >= Threshold => (a min b, a max b)
    }).toSet
    Truth(pairs, keptFrom(c.good, pairs))
  }

  /** The good documents kept when `pairs` link near-duplicates: one —
    * the smallest id — per connected component. */
  def keptFrom(good: Set[Long], pairs: Iterable[(Long, Long)]): Set[Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    good.filter(d => find(d) == d)
  }

  /** The pipeline as a user writes it: one lazy plan, one action. */
  def pipeline(docs: DataFrame): Array[Long] = {
    val gated = docs.filter(GopherRules.keep(col("text")))
    val labels = Dedup.clusters(
      Dedup.minHashLsh(gated, "doc_id", "text", ShingleK, NumHashes, Bands,
        Threshold).select(col("doc_a"), col("doc_b")),
      "doc_a", "doc_b")
    gated.join(labels, Seq("doc_id"), "left")
      .filter(coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0))
  }

  /** One pipeline result is one checked operation: exactly the `want`
    * ids, each once. */
  def checkKept(want: Set[Long], kept: Seq[Long]): (Long, Long) =
    (1L, if (kept.toSet == want && kept.size == want.size) 0L else 1L)

  /** Precision and recall of verified pairs against the ground truth:
    * every verified pair must have Jaccard ≥ threshold, and at least
    * [[RecallFloor]] of the planted pairs must be found. */
  def checkPairs(c: Corpus, t: Truth, verified: Seq[(Long, Long)]): (Long, Long) = {
    val text = c.docs.toMap
    val wrong = verified.count { case (a, b) =>
      jaccard(text(a), text(b)) < Threshold }
    val r = recall(t, verified)
    println(f"curation_batch: ${verified.size} verified pairs, ${t.pairs.size} planted, " +
      f"recall $r%.4f, $wrong below threshold")
    (verified.size.toLong + 1, wrong.toLong + (if (r >= RecallFloor) 0 else 1))
  }

  def recall(t: Truth, verified: Seq[(Long, Long)]): Double =
    if (t.pairs.isEmpty) 1.0 else verified.count(t.pairs.contains).toDouble / t.pairs.size

  def run(a: Args): Outcome = {
    val spark = Main.session("hdfs", a)
    val sessionS = Main.sinceJvmStart
    val trace = new Trace(a.trace, spark.sparkContext)
    import spark.implicits._
    var attempted = 0L
    var failed = 0L
    def checked(af: (Long, Long)): Unit = { attempted += af._1; failed += af._2 }
    val dir = Main.workDir("curation")
    val input = s"$dir/corpus.parquet"

    // ---- set-up: generate the corpus and its truth three times (median),
    // write it where the pipeline reads it, run the pipeline three times
    // (the first run is cold: codegen and class loading; after two, the
    // first timed run was still the slowest)
    var c: Corpus = null
    var t: Truth = null
    val reps = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      c = corpus(a.seed)
      t = truth(c)
      (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    c.docs.toDF("doc_id", "text").write.parquet(input)
    (0 until 3).foreach(_ => pipeline(spark.read.parquet(input)))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + warmS + Stats.median(reps)
    println(f"curation_batch: session $sessionS%.2fs, warm-up $warmS%.2fs, " +
      "generation " + reps.map(x => f"$x%.2f").mkString(" ") +
      s"; ${c.docs.size} docs, ${c.good.size} good, ${t.kept.size} to keep")
    val phase0 = System.nanoTime()

    // ---- rounds until the time budget is spent (at least five): one
    // pipeline run, then two reloads of the job's input (a restart) and
    // two reads of the curated output, so every median's samples spread
    // over the run
    val runs, reloads, reads = ArrayBuffer.empty[Double]
    val results = ArrayBuffer.empty[Seq[Long]]
    val out = s"$dir/curated.parquet"
    while (runs.size < MinRuns || (System.nanoTime() - phase0) < a.seconds * 1e9) {
      val (kept, s) = trace.span("curation.pipeline") {
        val t0 = System.nanoTime()
        val k = pipeline(spark.read.parquet(input))
        (k, (System.nanoTime() - t0) / 1e9)
      }
      runs += s
      results += kept.toSeq
      if (runs.size == 1)
        spark.read.parquet(input).join(kept.toSeq.toDF("doc_id"), "doc_id")
          .write.parquet(out)
      (0 until 2).foreach { _ =>
        val t0 = System.nanoTime()
        val df = spark.read.parquet(input).cache()
        df.count()
        reloads += (System.nanoTime() - t0) / 1e9
        df.unpersist(blocking = true)
        val t1 = System.nanoTime()
        val rows = spark.read.parquet(out).collect()
        reads += (System.nanoTime() - t1) / 1e9
        results += rows.map(_.getAs[Long]("doc_id")).toSeq
      }
    }
    val resultS = Stats.median(runs.toSeq)
    // every document's decision arrives when the action returns
    val perDoc = runs.toSeq.flatMap(s => Seq.fill(t.kept.size)(s * 1e3))
    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "events_per_s" -> Metric(c.docs.size / resultS, "events/s"),
      "emit_p50_ms" -> Metric(Stats.pct(perDoc, 0.50), "ms"),
      "emit_p99_ms" -> Metric(Stats.pct(perDoc, 0.99), "ms"),
      "restore_s" -> Metric(Stats.median(reloads.toSeq), "s"),
      "state_read_s" -> Metric(Stats.median(reads.toSeq), "s"),
      "result_s" -> Metric(resultS, "s"))
    println(s"curation_batch: ${runs.size} pipeline runs: " +
      runs.map(x => f"$x%.3f").mkString(" "))

    // ---- checks: MinHash-LSH is approximate, so its pairs are held to
    // precision 1 and a recall floor against the planted pairs; every
    // later stage is exact, so each result must keep one id per
    // component of the pairs the LSH did verify
    val pairs = Dedup.minHashLsh(
      spark.read.parquet(input).filter(GopherRules.keep(col("text"))),
      "doc_id", "text", ShingleK, NumHashes, Bands, Threshold)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSeq
    checked(checkPairs(c, t, pairs))
    val want = keptFrom(c.good, pairs)
    if (want.size != t.kept.size)
      println(s"curation_batch: missed LSH pairs split ${want.size - t.kept.size} " +
        "planted clusters")
    results.foreach(r => checked(checkKept(want, r)))

    val metrics = if (!a.trace) e2e
    else {
      val heap = Layers.heapLiveMb()
      val staged = trace.span("curation.staged")(stagedLayers(spark, trace, input, t))
      val gopherKept = staged.toMap.apply("operators.gopher_kept").value
      checked((1L, if (gopherKept == c.good.size) 0L else 1L))
      Layers.all(staged ++ Seq(
        "gen.events" -> Metric(c.docs.size, "count"),
        "jvm.heap_live_mb" -> Metric(heap, "MB")) ++
        SparkStats.metrics(trace.spark.total, trace.elapsedS, Main.slots(spark)),
        e2e, attempted, failed)
    }
    trace.write("curation_batch", a.seed)
    spark.stop()
    Outcome(attempted, failed, metrics)
  }

  /** Staged layer timing: each layer's input is materialized first, so
    * its span is that layer's own time. */
  private def stagedLayers(spark: SparkSession, trace: Trace, input: String,
      t: Truth): Seq[(String, Metric)] = {
    import spark.implicits._
    def timed[T](name: String)(body: => T): (T, Double) = trace.span(name) {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e6)
    }
    val docs = spark.read.parquet(input).cache()
    docs.count()
    val (_, ngramMs) = timed("functions.ngram_frac") {
      docs.select((GopherRules.topNgramMax.map { case (n, _) =>
        TextFunctions.topNgramCharFrac(col("text"), n) } ++
        GopherRules.dupNgramMax.map { case (n, _) =>
          TextFunctions.dupNgramCharFrac(col("text"), n) }): _*)
        .write.format("noop").mode("overwrite").save()
    }
    val (gated, gateMs) = timed("operators.gopher_keep") {
      val g = docs.filter(GopherRules.keep(col("text"))).cache()
      g.count()
      g
    }
    val kept = gated.count()
    val (_, bandMs) = timed("functions.band_keys") {
      gated.select(TextFunctions.minHashBandKeys(col("text"), ShingleK, NumHashes, Bands))
        .write.format("noop").mode("overwrite").save()
    }
    val candidates = Dedup.minHashBandVolume(gated, "doc_id", "text", ShingleK,
      NumHashes, Bands).totalPairs
    val (pairs, lshMs) = timed("operators.lsh") {
      val p = Dedup.minHashLsh(gated, "doc_id", "text", ShingleK, NumHashes, Bands,
        Threshold).select(col("doc_a"), col("doc_b")).cache()
      p.count()
      p
    }
    val verified = pairs.as[(Long, Long)].collect().toSeq
    val (labels, clustersMs) = timed("operators.clusters") {
      val l = Dedup.clusters(pairs, "doc_a", "doc_b").cache()
      l.count()
      l
    }
    Thread.sleep(200) // let the listener bus deliver the call's job events
    val clusterJobs = trace.all.filter(_.name == "operators.clusters")
      .map(s => trace.spark.bySpan.get(s.id).fold(0L)(_.jobs)).sum
    val nClusters = labels.select(col("cluster_id")).distinct().count()
    Seq(docs, gated, pairs, labels).foreach(_.unpersist())
    Seq(
      "functions.ngram_frac_ms" -> Metric(ngramMs, "ms"),
      "functions.band_keys_ms" -> Metric(bandMs, "ms"),
      "operators.gopher_keep_ms" -> Metric(gateMs, "ms"),
      "operators.gopher_kept" -> Metric(kept, "count"),
      "operators.lsh_ms" -> Metric(lshMs, "ms"),
      "operators.lsh_candidate_pairs" -> Metric(candidates, "count"),
      "operators.lsh_verified_pairs" -> Metric(verified.size, "count"),
      "operators.lsh_recall" -> Metric(recall(t, verified), "share"),
      "operators.lsh_yield" -> Metric(
        if (candidates > 0) verified.size.toDouble / candidates else 0, "share"),
      "operators.clusters_ms" -> Metric(clustersMs, "ms"),
      "operators.clusters_jobs" -> Metric(clusterJobs, "count"),
      "operators.clusters" -> Metric(nClusters, "count"))
  }
}
