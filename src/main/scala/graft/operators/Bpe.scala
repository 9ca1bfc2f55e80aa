package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction and tokenization as Spark
  * aggregation — the learned counterpart to the regex token counter in
  * [[graft.functions.TextFunctions]] (SURVEY §6's "token counting" row
  * asked for a BPE-ish approximation; this is the real algorithm,
  * Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
  * Subword Units"). No reference analog — arcon has no text pipeline —
  * so the design is Spark-first throughout.
  *
  * Scale shape (the reason real BPE trainers work on word histograms,
  * not corpora): the corpus is scanned ONCE into a (word, freq)
  * histogram — one exchange keyed on the word — and every merge round
  * touches only the histogram, whose size is the DISTINCT vocabulary
  * (millions of rows at 100 TB, not billions). Each round is two small
  * jobs over the staged histogram: a pair-count aggregation and a
  * one-row top-1 collect (scalar model selection, the same bounded
  * driver-side pattern as the Σ-convergence check of
  * [[Dedup.clusters]]' distributed loop),
  * then the merge applies as a narrow per-row array fold. Rounds are
  * staged through local/reliable checkpoints like every iterative
  * operator here, so lineage stays flat.
  *
  * Merge semantics are the classic ones, expressed identically in the
  * DuckDB oracle so the result is bit-exact cross-engine:
  *  - pair counts are over ADJACENT OVERLAPPING symbol pairs ("a a a"
  *    counts (a,a) twice), weighted by word frequency;
  *  - the best pair maximizes (count, then lexicographic (left, right)
  *    ascending — a total, engine-neutral order over ASCII symbols);
  *  - a merge applies LEFTMOST-NONOVERLAPPING, which the string fold
  *    below gets for free: the accumulator ends with the merged token
  *    (no trailing separator) after a merge, so the just-merged symbol
  *    can never match as the LEFT of the same pair again ("a a a" with
  *    (a,a) → "aa a", not "aa aa").
  */
object Bpe {

  /** One learned merge: rank (1-based round), the pair, and the pair's
    * count at the time it was chosen. */
  final case class Merge(mergeRank: Long, leftSym: String, rightSym: String,
      merged: String, pairCount: Long)

  /** Learned model: the ranked merge list plus the final word → symbol
    * mapping (space-joined symbol string per distinct word) the merges
    * produce — which is all [[tokenize]] needs, since every corpus word
    * maps through the histogram it was learned from.
    * `distributedRounds` records how many distributed merge rounds the
    * trainer ran (0 = the in-memory path handled every merge after the
    * one histogram scan) — the jobs-per-merge receipt. */
  final case class Model(merges: Seq[Merge], vocab: DataFrame,
      distributedRounds: Int = 0)

  /** (word, sym, freq) histogram of `textCol` split on single spaces:
    * the ONE corpus-wide scan and exchange of the whole trainer. `sym`
    * starts as the word's space-joined characters. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    // explode_outer + output-side null/empty filter: a bare explode lets
    // InferFiltersFromGenerate clone the split() into a pre-filter and
    // the corpus-scan projection would tokenize every text twice
    docs.select(explode_outer(split(col(textCol), " ")).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .select(col("word"), array_join(split(col("word"), ""), " ").as("sym"),
        col("freq"))

  /** Apply one merge (a, b) to a space-joined symbol string: fold the
    * symbols left to right, gluing `x` onto the accumulator WITHOUT a
    * separator when the accumulator ends in the complete symbol `a` and
    * `x = b` (string concatenation of adjacent symbols IS the merge).
    * "Complete symbol" = preceded by a separator or the whole
    * accumulator, which also encodes non-overlap: after a merge the
    * accumulator ends in `ab`, not `a`. */
  private def applyMerge(sym: Column, a: String, b: String): Column =
    applyMerge(sym, lit(a), lit(b))

  /** Column-general form of the merge fold, shared by the learn loop
    * (literal pair) and [[applyMerges]] (pair from the replayed merge
    * array). */
  private def applyMerge(sym: Column, a: Column, b: Column): Column =
    // the symbol split is BOUND once (r22, the dd13/tokenPassages
    // lesson): this fold runs INSIDE applyMerges' per-merge lambda,
    // where HOF lambdas get no CSE, so the direct `val s = split(...)`
    // form re-split the accumulated symbol string three times per merge
    // step (the slice source, the size bound, the element_at seed) —
    // O(3·|word|·|merges|) re-tokenization per OOV word. Same fold,
    // same strings.
    graft.functions.TextFunctions.bind(split(sym, " "), s =>
      aggregate(slice(s, lit(2), size(s) - 1), element_at(s, 1),
        (acc, x) =>
          when(x === b &&
              (acc === a || acc.endsWith(concat(lit(" "), a))),
            concat(acc, x))
          .otherwise(concat(acc, lit(" "), x))))

  /** Rank-ordered merge replay: tokenize ONE word with a fixed learned
    * merge list — the path for words the training histogram never saw.
    * Each merge applies once, in rank order, leftmost-nonoverlapping —
    * exactly the computation [[learn]] runs against the histogram, so
    * for every training-corpus word this replay reproduces the model
    * vocab's symbol string bit-for-bit (the learn loop IS a rank-ordered
    * single pass per round). Pure array-local fold: the merge list is a
    * literal in the expression (a real tokenizer's merge table is a few
    * tens of thousands of entries — it rides the closure, no join). */
  def applyMerges(word: Column, merges: Seq[Merge]): Column = {
    val init = array_join(split(word, ""), " ")
    if (merges.isEmpty) init
    else aggregate(
      array(merges.map(m =>
        struct(lit(m.leftSym).as("l"), lit(m.rightSym).as("r"))): _*),
      init,
      (acc, m) => applyMerge(acc, m.getField("l"), m.getField("r")))
  }

  /** Tokenize ANY corpus with a FIXED learned model — the apply-only
    * tokenizer every production pipeline runs (the model is trained
    * once, then applied to each new crawl). In-vocabulary words resolve
    * through the model's word → symbols table ([[tokenize]]'s lookup —
    * the cheap path, one broadcastable join); out-of-vocabulary words
    * fall back to [[applyMerges]] replay, computed once per DISTINCT
    * word (the word-histogram compaction that makes BPE tractable at
    * corpus scale), never per occurrence. `coalesce` evaluates lazily,
    * so the replay fold only runs for OOV rows.
    *
    * Plan at 100 TB: one exchange keyed on the word for the distinct-
    * word table (vocabulary-sized), the replay array-local over it, and
    * the occurrences → symbols join broadcastable; document re-assembly
    * is the same ordered collect as [[tokenize]].
    *
    * @return (idCol, bpe_text, n_tokens) — same contract as
    *         [[tokenize]]; empty documents are omitted. */
  def applyModel(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame = {
    val words = explodeWords(docs, idCol, textCol)
    val syms = words.select(col("word")).distinct()
      .join(model.vocab.select(col("word"), col("sym")), Seq("word"), "left")
      .select(col("word"),
        coalesce(col("sym"), applyMerges(col("word"), model.merges)).as("sym"))
    reassemble(words.join(syms, Seq("word")), idCol)
  }

  /** (idCol, i, word) position-preserving word explode shared by
    * [[tokenize]] and [[applyModel]] (explode_outer + output-side
    * filter — the house generator discipline). */
  private def explodeWords(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode_outer(split(col(textCol), " ")).as(Seq("i", "word")))
      .filter(col("word").isNotNull && col("word") =!= "")

  /** Ordered document re-assembly from (idCol, i, sym) rows — shared by
    * [[tokenize]] and [[applyModel]] so the two tokenizer paths cannot
    * drift. Returns (idCol, bpe_text, n_tokens). */
  private def reassemble(mapped: DataFrame, idCol: String): DataFrame =
    mapped
      .groupBy(col(idCol))
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("i"), col("sym")))),
          p => p.getField("sym")), " ").as("bpe_text"))
      .select(col(idCol), col("bpe_text"),
        size(split(col("bpe_text"), " ")).cast("long").as("n_tokens"))

  /** Learn `numMerges` BPE merges over the corpus word histogram.
    *
    * The corpus-SCALE work — one scan and one word-keyed exchange into
    * the (word, freq) histogram — is always distributed; what varies is
    * where the merge LOOP runs, because the loop touches only the
    * histogram (distinct-vocabulary-sized — model scale, not data
    * scale):
    *
    *  - **In-memory** (vocab ≤ `localVocabLimit`, the production
    *    default): collect the histogram once and run the classic
    *    indexed trainer driver-side — every production BPE trainer
    *    (SentencePiece, HF tokenizers) trains exactly this way, on the
    *    histogram, after the distributed counting pass. A real 32k-merge
    *    vocabulary costs 32k rounds; in memory that is milliseconds per
    *    round against ~64k serial Spark jobs for a distributed loop —
    *    the model-size wall-clock wall this path removes. A 100 TB
    *    crawl's distinct vocabulary is a few million words (Heaps' law)
    *    ≈ 100s of MB with counts — driver-sized by two orders of
    *    magnitude.
    *  - **Distributed batched rounds** (vocab above the limit — the
    *    fail-open path, never the silently-slow one): per round, ONE
    *    pair-count job collects the top-`topPairs` pairs and the driver
    *    accepts the longest PROVABLY-sequential-equal prefix (see
    *    [[acceptBatch]]), applying the whole batch in one projection.
    *    Exactly the sequential merge list, ~half the rounds (hot
    *    symbols conflict quickly — measured ≈ 2× on the test corpus;
    *    the in-memory path is why this fallback is rarely the one that
    *    runs).
    *
    * Both paths produce the IDENTICAL ranked merge list and vocab (the
    * BpeSpec ScalaCheck suites prove each against a pure-Scala
    * sequential reference; the DuckDB oracle replays every merge round
    * on top). `reliable` stages distributed rounds through the reliable
    * checkpoint directory — the [[Dedup.clusters]] trade. */
  def learn(docs: DataFrame, textCol: String, numMerges: Int,
      reliable: Boolean = false, localVocabLimit: Long = 4000000L,
      topPairs: Int = 1024): Model = {
    require(numMerges > 0, "numMerges must be positive")
    require(topPairs > 0, "topPairs must be positive")
    def stage(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val hist = stage(wordHistogram(docs, textCol))
    if (hist.count() <= localVocabLimit) learnLocal(hist, numMerges)
    else learnDistributed(hist, numMerges, stage, topPairs)
  }

  /** Symbol order shared by both trainers: unsigned UTF-8 byte order —
    * what Spark's string comparison and DuckDB's default collation use —
    * NOT java.lang.String's UTF-16 code-unit order (they diverge on
    * supplementary characters). */
  private val Utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The in-memory merge loop over the collected histogram. Indexed:
    * `where` maps each live pair to the word ids containing it, so a
    * merge rescans only affected words, with exact incremental count
    * updates (remove the word's old pair contributions, merge, add the
    * new ones). Argmax is a scan of the live pair map per round —
    * O(distinct pairs), the simple exact structure (a heap with lazy
    * deletion is the constant-factor upgrade; counts stay exact either
    * way). */
  private def learnLocal(hist: DataFrame, numMerges: Int): Model = {
    import scala.collection.mutable
    val rows = hist.select(col("word"), col("freq")).collect()
    val words = rows.map(_.getString(0))
    val freqs = rows.map(_.getLong(1))
    val syms: Array[Array[String]] = words.map(_.split(""))
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def contribute(i: Int, sign: Long): Unit = {
      val s = syms(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * freqs(i)
        if (c == 0L) { counts.remove(p); where.remove(p) }
        else {
          counts(p) = c
          if (sign > 0) where.getOrElseUpdate(p, mutable.Set.empty) += i
        }
        j += 1
      }
    }
    syms.indices.foreach(contribute(_, 1L))
    implicit val pairOrd: Ordering[((String, String), Long)] =
      Ordering.by[((String, String), Long), Long](-_._2)
        .orElse(Ordering.by[((String, String), Long), String](_._1._1)(Utf8Order))
        .orElse(Ordering.by[((String, String), Long), String](_._1._2)(Utf8Order))
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), c) = counts.min
        merges += Merge(rank.toLong, a, b, a + b, c)
        val affected = where.getOrElse((a, b), mutable.Set.empty).toArray
        affected.foreach { i =>
          contribute(i, -1L)
          // stale index entries for this word (pairs it no longer has)
          syms(i).sliding(2).foreach {
            case Array(x, y) => where.get((x, y)).foreach(_.remove(i))
            case _ =>
          }
          syms(i) = applyMergeLocal(syms(i), a, b)
          contribute(i, 1L)
        }
        where.remove((a, b))
        rank += 1
      }
    }
    val spark = hist.sparkSession
    import spark.implicits._
    val vocab = words.indices
      .map(i => (words(i), syms(i).mkString(" "), freqs(i)))
      .toDF("word", "sym", "freq")
    Model(merges.result(), vocab.localCheckpoint(), distributedRounds = 0)
  }

  /** Leftmost-nonoverlapping merge on a local symbol array — the same
    * fold [[applyMerge]] runs as a column expression. */
  private def applyMergeLocal(s: Array[String], a: String,
      b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out += a + b; i += 2
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  /** The longest prefix of the ranked pair list `ranked` (sorted by
    * (count DESC, left, right) — the argmax order) that PROVABLY equals
    * what the sequential trainer would pick next, merged one at a time:
    *
    *  1. prefix-only — a skipped higher-ranked pair might keep enough
    *     count to still be sequential's next pick, so the batch stops
    *     at the first rejection rather than skipping;
    *  2. symbol-disjoint from every earlier acceptance — merging (a,b)
    *     cannot change the count of any pair touching neither a nor b;
    *  3. strictly above every possible NEW pair — a merge (a,b)→ab
    *     creates pairs (x,ab)/(ab,y) whose counts are bounded by
    *     min(count(x,a), c) / min(count(b,y), c); `floor` bounds
    *     creators truncated out of the top list. Acceptance requires
    *     count > every such bound (strict, so ties with unknowable new
    *     pair names never need a lexicographic decision).
    *
    * Exactness is ScalaCheck-proven against the sequential reference
    * (BpeSpec); measured batch factor ≈ 2 on real text (hot symbols
    * conflict quickly — condition 2 stops the prefix). */
  private[operators] def acceptBatch(ranked: Seq[(String, String, Long)],
      maxAccept: Int, floor: Long): Seq[(String, String, Long)] = {
    var acc = List.empty[(String, String, Long)]
    var used = Set.empty[String]
    var stop = false
    val it = ranked.iterator
    while (!stop && it.hasNext && acc.length < maxAccept) {
      val (l, r, c) = it.next()
      if (acc.isEmpty) { acc = (l, r, c) :: acc; used = used + l + r }
      else if (used(l) || used(r)) stop = true
      else {
        var u = floor
        for ((aj, bj, cj) <- acc; (ql, qr, cq) <- ranked
            if qr == aj || ql == bj)
          u = math.max(u, math.min(cq, cj))
        if (c <= u) stop = true
        else { acc = (l, r, c) :: acc; used = used + l + r }
      }
    }
    acc.reverse
  }

  /** Distributed batched merge rounds — the fallback for vocabularies
    * over the driver budget. Per round: one pair-count TakeOrdered job
    * collects the top `topPairs`, [[acceptBatch]] proves a prefix, and
    * the whole batch applies in ONE staged projection (chained merge
    * folds). Identical merge list to the sequential loop, ~half the
    * rounds. */
  private def learnDistributed(hist0: DataFrame, numMerges: Int,
      stage: DataFrame => DataFrame, topPairs: Int): Model = {
    var hist = hist0
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var rounds = 0
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val s = split(col("sym"), " ")
      val top = hist
        .select(explode_outer(arrays_zip(
          slice(s, lit(1), size(s) - 1).as("l"),
          slice(s, lit(2), size(s) - 1).as("r"))).as("pr"),
          col("freq"))
        .filter(col("pr").isNotNull) // single-symbol words: no pairs
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(topPairs)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        rounds += 1
        val floor = if (top.length == topPairs) top.last._3 else 0L
        val batch = acceptBatch(top, numMerges - rank + 1, floor)
        batch.foreach { case (a, b, c) =>
          merges += Merge(rank.toLong, a, b, a + b, c)
          rank += 1
        }
        hist = stage(hist.withColumn("sym",
          batch.foldLeft(col("sym")) { case (e, (a, b, _)) =>
            applyMerge(e, a, b)
          }))
      }
    }
    Model(merges.result(), hist, distributedRounds = rounds)
  }

  /** Tokenize `docs` with a learned model: per-word lookup through the
    * model's vocab table (words explode with their position, join the
    * mapping, re-assemble in order). The vocab is distinct-word-sized —
    * broadcastable for real vocabularies; the hint is left to the
    * planner since the join also runs correctly, one exchange wider, if
    * a future vocabulary outgrows broadcast.
    *
    * @return (idCol, bpe_text, n_tokens): the space-joined BPE symbol
    *         sequence and its length. Documents with no words (empty
    *         text) are omitted, matching the histogram's domain. */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    reassemble(explodeWords(docs, idCol, textCol)
      .join(model.vocab.select(col("word"), col("sym")), Seq("word")), idCol)
}
