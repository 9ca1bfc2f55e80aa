package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * token counting, language ID, quality scoring, and document
  * fingerprinting. Everything is a Catalyst expression tree over
  * `functions._` (codegen'd, no UDFs), so filters composed from these
  * stay inside whole-stage codegen and scale linearly with executors.
  *
  * Determinism contract: only integer arithmetic and exact double division
  * — every value is bit-reproducible and DuckDB-oracle-checkable.
  */
object TextFunctions {

  /** Whitespace tokens. The corpus is single-space separated; for general
    * text swap the delimiter for "\\s+". */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * other non-space chars — the standard pre-tokenizer shape. */
  def bpeishTokenCount(text: Column): Column =
    size(call_function("regexp_extract_all", text,
      lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")

  private def ncol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def nexpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  /** Polynomial rolling hash of a string: fold over characters of
    * acc*31 + codepoint (mod P). Cross-engine reproducible (unlike
    * murmur3/xxhash whose seeds differ between engines); the scale path
    * for pure fingerprinting is [[fingerprint64]]. Native expression
    * ([[PolyHashExpr]]), parity-tested against its declarative twin in
    * the test support's `HofTwins`. */
  def polyHash(s: Column): Column = ncol(PolyHashExpr(nexpr(s)))

  /** 64-bit xxhash fingerprint — the cheap at-scale dedup key. */
  def fingerprint64(text: Column): Column = xxhash64(text)

  /** Number of tokens of `text` found in `words` (multiset count). */
  def hitCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit): _*)))

  /** Tiny per-language function-word lists for the n-gram/stopword
    * language-ID heuristic. Real pipelines plug in fastText-style models;
    * the operator shape (argmax over per-language evidence scores) is the
    * same. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我"))

  /** Language ID: the language with the most stopword hits; ties resolve
    * to the first language in `stopwords` order; zero hits → "und"
    * (undetermined). */
  def langId(text: Column): Column = {
    // [[bind]] the five hit counts (each a full token scan) into one
    // array evaluated ONCE, and the running max once on top: the naive
    // fold re-evaluates every count inside `best` for each of the five
    // when-branches (~6× redundant token scans per row on the
    // quality-filter hot path — Spark HOFs have no subexpression
    // elimination, see [[bind]]).
    val hitsArr = array(stopwords.map { case (_, ws) => hitCount(text, ws) }: _*)
    bind(hitsArr, hs => {
      val best = stopwords.indices.map(i => element_at(hs, i + 1))
        .reduce((a, b) => greatest(a, b))
      bind(best, b =>
        stopwords.zipWithIndex.foldRight(lit("und"): Column) {
          case (((l, _), i), els) =>
            val h = element_at(hs, i + 1)
            when(h > 0 && h === b, lit(l)).otherwise(els)
        })
    })
  }

  /** Mean token length (exact double division of integer totals). */
  def meanTokenLen(text: Column): Column = meanTokenLenOf(tokens(text))

  /** [[meanTokenLen]] over an ALREADY-tokenized array — for callers
    * that [[bind]] the token array once and compute several statistics
    * from it (HOF lambdas get no CSE, so the text-column form re-splits
    * per reference). Same expression tree, same doubles. */
  def meanTokenLenOf(ts: Column): Column =
    aggregate(ts, lit(0L), (acc, t) => acc + length(t).cast("long"))
      .cast("double") / size(ts).cast("double")

  /** Fraction of characters in [a-z ] (alphabetic-or-space ratio). */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^a-z ]", "")).cast("double") /
      length(text).cast("double")

  /** Fraction of tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column =
    hitCount(text, stopwords.toMap.apply("en")).cast("double") /
      size(tokens(text)).cast("double")

  /** Composite quality score in [0, ~1]: length prior + shape priors.
    * Deterministic arithmetic only; weights mirror common heuristic
    * filters (Gopher/C4-style length, word-shape, stopword signals). */
  def qualityScore(text: Column): Column = {
    val nTok = size(tokens(text)).cast("double")
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val wordShape = when(meanTokenLen(text).between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
    val alpha = alphaRatio(text)
    val stop = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    lenScore * lit(0.3) + wordShape * lit(0.2) + alpha * lit(0.3) + stop * lit(0.2)
  }

  /** Let-binding for expression trees: evaluates `value` ONCE and hands
    * the result to `body` as a lambda variable. Spark HOFs are
    * interpreted with no subexpression elimination, and CollapseProject
    * happily re-inlines single-use projection columns — so an expensive
    * subtree referenced N times is evaluated N times unless bound this
    * way (`transform` over a 1-element array is the binder). */
  def bind(value: Column, body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** 61-bit SimHash over token hashes: bit j of the signature is the
    * majority vote of bit j across all token hashes (61 bits so the
    * packed value stays positive in an i64). The token hash packs TWO
    * independent polynomial folds — mod-P in bits 31..60, mod-P2 in
    * bits 0..30 — so every signature bit carries signal; a single mod-P
    * fold (< 2^30) left bits 30-60 constant and collapsed the Manku
    * banding's dead-block tables to one corpus-wide bucket. Native
    * expression ([[SimHashExpr]]: one compiled loop per row). */
  def simHash(text: Column): Column = ncol(SimHashExpr(nexpr(text)))

  /** 61-bit average-hash of a binary media column
    * ([[NativeText.aHash61]]) — the perceptual signature under
    * [[graft.operators.Dedup.perceptualHashDup]]. Native expression,
    * codegen'd. */
  def aHash61(media: Column): Column = ncol(AHash61Expr(nexpr(media)))

  /** Word k-shingles as strings ("w1 w2 ... wk" joined). Guarded for
    * texts shorter than k tokens (Spark's sequence(1, 0) would count
    * DOWN, not produce an empty array). */
  def shingles(text: Column, k: Int): Column = {
    val ts = tokens(text)
    when(size(ts) >= k,
      transform(sequence(lit(1), size(ts) - (k - 1)),
        i => array_join(slice(ts, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct polynomial hashes of the k-shingle set — the MinHash and
    * Jaccard input. Native expression ([[ShingleHashesExpr]]). */
  def shingleHashes(text: Column, k: Int): Column =
    ncol(ShingleHashesExpr(nexpr(text), k))

  /** LSH band keys straight from the text column: shingles → MinHash
    * signature → per-band poly-fold keys in one compiled pass
    * ([[MinHashBandKeysExpr]]); null for shingle-less texts (empty docs
    * never band-match). */
  def minHashBandKeys(text: Column, k: Int, numHashes: Int, bands: Int): Column =
    ncol(MinHashBandKeysExpr(nexpr(text), k, numHashes, bands))

  /** Fraction of tokens that are repeats of an earlier token
    * (1 − distinct/total) — the Gopher-style duplicate-token repetition
    * signal. Exact double division of integer counts. */
  def dupTokenFrac(text: Column): Column = {
    val ts = tokens(text)
    lit(1.0) - size(array_distinct(ts)).cast("double") / size(ts).cast("double")
  }

  /** Fraction of bigram occurrences held by the most frequent bigram
    * (Gopher "top 2-gram fraction"; high values flag boilerplate /
    * degenerate repetition). Native expression ([[TopBigramFracExpr]]:
    * one compiled pass per row). */
  def topBigramFrac(text: Column): Column = ncol(TopBigramFracExpr(nexpr(text)))

  /** Gopher "fraction of characters in the most frequent n-gram":
    * char mass (occurrences · gram length) of the top n-gram over the
    * doc's char length: the Gopher kernel ([[GopherKernel]]) run for
    * this one n. [[graft.operators.GopherRules]] reads all nine
    * fractions and the quality statistics from ONE kernel pass per row
    * instead. Gram and doc lengths count UTF-16 units, while the
    * battery's mean token length counts code points; the two agree on
    * BMP text. */
  def topNgramCharFrac(text: Column, n: Int): Column =
    gopher(text, GopherOut.NgramFrac(n, dup = false))

  /** Gopher "fraction of characters in duplicated n-grams": total char
    * mass of n-grams occurring ≥ 2 times over the doc's char length
    * (all occurrences counted). Same kernel and length convention as
    * [[topNgramCharFrac]]. */
  def dupNgramCharFrac(text: Column, n: Int): Column =
    gopher(text, GopherOut.NgramFrac(n, dup = true))

  /** The Gopher battery over `text` in one pass per row
    * ([[GopherExpr]]): `out` selects one n-gram fraction, a rule-family
    * verdict, or every statistic as a struct. Null for null text. */
  def gopher(text: Column, out: GopherOut): Column =
    ncol(GopherExpr(nexpr(text), out))

  /** Set Jaccard similarity of two hash arrays (duplicates inside either
    * input are deduplicated, matching the HOF twin's `array_intersect`/
    * `array_distinct` semantics; set sizes are exact ints, the division
    * exact double math). Native expression ([[JaccardShinglesExpr]]). */
  def jaccardShingles(aHashes: Column, bHashes: Column): Column =
    ncol(JaccardShinglesExpr(nexpr(aHashes), nexpr(bHashes)))
}
