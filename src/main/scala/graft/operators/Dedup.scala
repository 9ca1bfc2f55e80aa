package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for training-data pipelines, each designed
  * around ONE bounded shuffle rather than any n² comparison:
  *
  *  - exact:        shuffle on the content key, keep min-id per group.
  *  - MinHash+LSH:  per-row signature (narrow) → band rows at
  *                  DISTINCT-TEXT granularity (identical texts compact
  *                  map-side; their Jaccard-1 pairs emit from group
  *                  membership) → shuffle on band key → pairs only
  *                  within buckets → one exact Jaccard verify per
  *                  distinct-text pair → membership expansion.
  *                  Candidate count is governed by the
  *                  (bands, rowsPerBand) S-curve over distinct texts,
  *                  not by corpus size² and not by dup-cluster size².
  *  - SimHash:      per-row 61-bit signature (narrow) → compact to ONE
  *                  row per DISTINCT signature → Manku-style
  *                  combinatorial block banding over the distinct
  *                  signatures (hamming ≤ h ⇒ some 3-block combination
  *                  fully equal, key ~31 bits) → hamming verify within
  *                  buckets → expand signature pairs back through
  *                  membership. Identical-signature dup clusters
  *                  (boilerplate, mirrored pages — the dominant dup mass
  *                  of a real crawl) collapse to one banded row each, so
  *                  the band join is quadratic in DISTINCT-signature
  *                  bucket size, never in dup-cluster size.
  *  - n-gram Jaccard: exact pairwise, but only within caller-supplied
  *                  blocking keys (never global n²).
  *  - embedding:    cosine near-dup via random-hyperplane LSH buckets.
  *
  * At 100 TB the explode factors are constants (bands, chunks) and every
  * join key is a hash bucket — skew shows up only if one bucket is hot,
  * which AQE skew-join handles.
  */
object Dedup {

  /** Exact dedup: one surviving row id per distinct value of `key`
    * (deterministically the smallest), plus the duplicate count. */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Incremental snapshot dedup: the rows of `newDocs` whose exact text
    * content does NOT already occur in `prior` — the ingest gate of an
    * incremental crawl, where each snapshot admits only genuinely new
    * content and everything already in the previous corpus drops at the
    * door (re-crawls, mirrors, unchanged pages).
    *
    * Plan shape at 100 TB: both sides key on the 16-byte
    * (fingerprint64, length) content key — the anti-join shuffles 16
    * bytes per prior row, never the prior text (the [[exact]] /
    * [[passageExactDedup]] collision contract: the oracle anti-joins
    * the raw text, and the hashed plan must reproduce it). No
    * distinct-ing of the prior key table: an anti join is insensitive
    * to duplicate build keys, so the aggregate would be pure cost. */
  /** Default verified-Jaccard threshold of the day-N fuzzy ingest gate —
    * ONE constant shared by [[incrementalMinHash]] and its streaming
    * twin [[graft.streaming.StreamingRun.ingestGate]] (identical output
    * contract, identical oracle), so a caller relying on defaults can
    * never get silently different verdicts from the two paths.
    *
    * BEHAVIOR CHANGE (r16 unification): [[incrementalMinHash]]'s default
    * threshold was 0.6 before the two paths shared this constant; it is
    * now 0.5, the streaming gate's historical default. A default-arg
    * caller of the batch path therefore gates strictly MORE documents as
    * duplicates than before (docs whose best verified prior Jaccard
    * falls in [0.5, 0.6) are now dropped). Pass `threshold = 0.6`
    * explicitly to reproduce the pre-unification batch retention. */
  val IngestGateThreshold: Double = 0.5

  def incrementalNew(newDocs: DataFrame, prior: DataFrame,
      textCol: String): DataFrame =
    newDocs
      .withColumn("__fp", fingerprint64(col(textCol)))
      .withColumn("__ln", length(col(textCol)).cast("long"))
      .join(prior.select(fingerprint64(col(textCol)).as("__fp"),
        length(col(textCol)).cast("long").as("__ln")),
        Seq("__fp", "__ln"), "left_anti")
      .drop("__fp", "__ln")

  /** Incremental NEAR-dup ingest gate — [[incrementalNew]]'s fuzzy
    * complement: each batch doc is flagged if its verified shingle
    * Jaccard against ANY doc of the frozen prior corpus reaches
    * `threshold` (an exact re-crawl verifies at 1.0, so the exact gate
    * is subsumed). dd12 lets a one-word-changed page through; this is
    * the gate that stops it.
    *
    * Asymmetry is the design: [[Decontaminate.fuzzy]] broadcasts a
    * SMALL benchmark side and the corpus never shuffles; here the prior
    * side is the 100 TB one and the BATCH is small. The prior's band
    * rows are precisely the stored MinHash signature index a production
    * corpus maintains (computed inline from text here; an ingest
    * pipeline materializes them once at corpus build and this operator
    * reads them unchanged), so the steady-state cost per batch is:
    * band-key join of batch bands against the index (shuffle keyed on
    * (band, band_key), batch-side tiny), then ONE id-keyed text fetch
    * for the candidate prior docs only — the candidate pid set is
    * O(|batch| · bands) and broadcasts into a semi join, so prior text
    * moves only for verified-candidate rows, never corpus-wide.
    * Batch-internal near-dups are out of scope (run [[minHashLsh]]
    * within the batch for those).
    *
    * @return one row per batch doc: (idCol, keep, dup_of, jaccard) —
    *         `dup_of`/`jaccard` are the best verified prior match
    *         (max Jaccard, ties to the smallest prior id) or null when
    *         `keep` is true. Shingle-less docs (< shingleK tokens)
    *         band nowhere and keep — they cannot be certified dup.
    */
  def incrementalMinHash(batch: DataFrame, prior: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = IngestGateThreshold): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bandRows(df: DataFrame, as: String) =
      incrBandRows(df, idCol, textCol, shingleK, numHashes, bands, as)
    // localCheckpoint: the candidate table feeds BOTH the verify join
    // and the broadcast pid fetch below — without it the band join
    // (the one prior-index-sized stage) would evaluate twice
    val cands = bandRows(batch, "bid")
      .join(bandRows(prior, "pid"), Seq("band", "band_key"))
      .select(col("bid"), col("pid"))
      .distinct()
      .localCheckpoint()
    // the id-keyed verify fetch: prior text only for candidate pids
    // (broadcast semi join — the candidate set is batch-sized), one
    // shingle set per touched doc on either side
    val pids = cands.select(col("pid")).distinct()
    val priorSh = lshInput(prior, idCol, textCol)
      .select(col(idCol).as("pid"), col(textCol))
      .join(broadcast(pids), Seq("pid"), "left_semi")
      .select(col("pid"), shingleHashes(col(textCol), shingleK).as("psh"))
    val batchSh = lshInput(batch, idCol, textCol)
      .select(col(idCol).as("bid"),
        shingleHashes(col(textCol), shingleK).as("bsh"))
    val verified = cands
      .join(batchSh, Seq("bid"))
      .join(priorSh, Seq("pid"))
      .select(col("bid"), col("pid"),
        jaccardShingles(col("bsh"), col("psh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // best match per batch doc — the window runs over the verified pair
    // table (candidate-sized, nothing corpus-sized)
    val best = verified
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("bid"))
          .orderBy(col("jaccard").desc, col("pid"))))
      .filter(col("__rk") === 1)
      .select(col("bid").as(idCol), col("pid").as("dup_of"), col("jaccard"))
    batch.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNull.as("keep"),
        col("dup_of"), col("jaccard"))
  }

  /** Within-document passage self-dedup: tile each document into
    * `passageTokens`-token passages, DROP every passage whose exact
    * text already occurred earlier in the same document, and re-join
    * the survivors (plus the trailing partial passage, always kept)
    * into the cleaned text — the in-page repetition stripper (nav
    * boilerplate, templated footers, copy-pasted spans) that mutates
    * the document rather than reporting on it, run before any
    * corpus-level dedup so repeated boilerplate doesn't dominate
    * shingle sets.
    *
    * One ordered array-local `aggregate` fold per document (the
    * [[Chunker.sentencePack]] lesson: per-passage `filter`/lookup
    * passes over an indexed array re-evaluate the whole passage-build
    * expression per element; the fold's accumulator is a materialized
    * value, so the seen-list scan is O(passages²) on values with the
    * passage array built exactly once). Zero shuffles — a narrow
    * projection that composes with everything downstream.
    *
    * @return (idCol, clean_text, n_kept, n_dropped) — n_kept/n_dropped
    *         count full passages only; the tail rides along free.
    */
  def selfDedupPassages(docs: DataFrame, idCol: String, textCol: String,
      passageTokens: Int = 10): DataFrame = {
    require(passageTokens > 0, s"passageTokens must be positive")
    val p = passageTokens
    // r22: the token array is BOUND once (the tokenPassages lesson —
    // `toks`/`n` were re-split per reference), the fold result is bound
    // too (it was referenced by all three output columns, and HOF
    // results get no CSE — the O(windows²) dedup fold ran 3× per row),
    // and the bound struct is staged as ONE multi-use projected column
    // (CollapseProject does not re-inline a non-cheap multi-use alias),
    // so the whole per-row computation runs exactly once.
    import graft.functions.TextFunctions.bind
    val zero = struct(array().cast("array<string>").as("kept"),
      lit(0L).as("nd"))
    val out = bind(split(col(textCol), " "), ts => {
      val n = size(ts)
      val nP = floor(n / p).cast("int")
      val passages = tokenPassages(ts, p, stride = p)
      val folded = aggregate(passages, zero,
        (acc, s) => {
          val kept = acc.getField("kept")
          val nd = acc.getField("nd")
          when(array_position(kept, s) > 0,
            struct(kept.as("kept"), (nd + 1L).as("nd")))
            .otherwise(struct(concat(kept, array(s)).as("kept"), nd.as("nd")))
        })
      val tail = when(n > nP * p,
        array(array_join(slice(ts, nP * p + 1, n - nP * p), " ")))
        .otherwise(array().cast("array<string>"))
      bind(folded, f =>
        struct(
          array_join(concat(f.getField("kept"), tail), " ").as("clean_text"),
          size(f.getField("kept")).cast("long").as("n_kept"),
          f.getField("nd").as("n_dropped")))
    })
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), out.as("__sd"))
      .select(col(idCol),
        col("__sd.clean_text").as("clean_text"),
        col("__sd.n_kept").as("n_kept"),
        col("__sd.n_dropped").as("n_dropped"))
  }

  /** `p`-token windows of a token array every `stride` tokens, each
    * joined back to a passage string (full windows only — the trailing
    * partial is the caller's business). Last window offset =
    * floor((n − p) / stride); sequence(0, k) is invalid for k < 0, so
    * docs shorter than one passage yield an empty array. Shared by
    * [[passageExactDedup]] and [[selfDedupPassages]] — ONE tiling
    * arithmetic, so both operators always tile a document identically.
    *
    * `toks` is bound ONCE per row through a lambda variable
    * (`transform` over a one-element array): callers pass
    * `split(text, " ")`, and higher-order-function lambdas get no
    * common-subexpression elimination, so referencing `toks` directly
    * inside the window lambda re-ran the split PER WINDOW POSITION —
    * O(tokens · windows) per document (the r21 probe measured dd13's
    * exec ~2.3 s → ~1.9 s from this change alone; the asymptotic term
    * grows with document length, so the gap widens on real corpora).
    * The bound variable makes the tiling O(tokens · p/stride) windows
    * of O(p) each — evaluation-count
    * semantics guaranteed by the lambda calculus, not by an optimizer
    * rule that might inline a projected alias back into the lambda. */
  private def tokenPassages(toks: Column, p: Int, stride: Int): Column =
    element_at(
      transform(array(toks), ts =>
        when(size(ts) >= p,
          transform(sequence(lit(0), floor((size(ts) - p) / stride).cast("int")),
            i => array_join(slice(ts, i * stride + 1, lit(p)), " ")))
          .otherwise(array().cast("array<string>"))),
      1)

  /** Passage-level exact dedup: split each document into
    * `passageTokens`-token passages every `stride` tokens (trailing
    * partial passage dropped) and report every passage whose content
    * occurs more than once anywhere in the corpus, with the smallest
    * containing doc id as the keeper. This is the sub-document analog of
    * [[exact]] — the standard pass when the dedup unit is a
    * paragraph/passage rather than the whole document and no natural
    * boundaries exist. `stride = passageTokens` (default) tiles the
    * document; `stride < passageTokens` emits OVERLAPPING windows, which
    * widens alignment coverage: a repeated span of ≥ `passageTokens +
    * stride − 1` tokens is caught whenever its two occurrence offsets
    * are congruent mod `stride` (tiling only catches offsets congruent
    * mod `passageTokens`; `stride = 1` is full shingling and catches
    * EVERY alignment — the token-level analog of suffix-array substring
    * dedup, Lee et al. 2022 — at explode factor ≈ docTokens). The
    * stride is the dial between explode cost (docTokens/stride) and the
    * fraction of alignments detected (1/stride of offset pairs,
    * deterministically).
    *
    * Plan shape at 100 TB: the passage explode is a generator (pipelined,
    * factor = docTokens/stride), and the ONLY shuffle groups on
    * (xxhash64(passage), length) — 16 bytes per passage, never the
    * passage text. A 64-bit key + length makes collisions negligible, so
    * the oracle can group on the raw passage text and the hashed plan
    * must reproduce it exactly.
    *
    * @return (keeper_id, n_copies) — one row per duplicated passage.
    */
  def passageExactDedup(docs: DataFrame, idCol: String, textCol: String,
      passageTokens: Int = 10, stride: Int = -1): DataFrame = {
    val toks = split(col(textCol), " ")
    val p = passageTokens
    val st = if (stride <= 0) passageTokens else stride
    val passages = tokenPassages(toks, p, st)
    // explode_outer, not explode: InferFiltersFromGenerate would clone
    // the whole passage-building expression into a size(...) > 0 filter
    // under a non-outer generate, re-running the tokenize per row (same
    // hazard documented in Decontaminate.shingleOverlap). The null row
    // an outer explode emits for passage-less docs is filtered right out.
    docs
      .select(col(idCol).as("id"), explode_outer(passages).as("passage"))
      .filter(col("passage").isNotNull)
      .groupBy(fingerprint64(col("passage")).as("fp"),
        length(col("passage")).as("ln"))
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)
      .select(col("keeper_id"), col("n_copies"))
  }

  /** Positional k-gram anchor table shared by [[exactSubstringSpans]]
    * and [[substringAnchorVolume]] (single-sourced so the volume canary
    * measures exactly the buckets the operator's window runs over):
    * one row per k-token window start, carrying the 16-byte
    * (fingerprint64, length) content key of the window text and the
    * 1-BASED start position — never the window text itself. */
  private[operators] def kgramStarts(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val grams = tokenPassages(split(col(textCol), " "), k, stride = 1)
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), posexplode_outer(grams).as(Seq("p", "g")))
      .filter(col("g").isNotNull)
      .select(col("id"), (col("p") + 1).cast("long").as("p"),
        fingerprint64(col("g")).as("fp"), length(col("g")).as("ln"))
  }

  /** Exact CROSS-DOCUMENT substring dedup at sub-passage granularity —
    * the train-on-dedup literature's suffix-style substring removal
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", ExactSubstr): every maximal token span of length
    * ≥ `k` that occurs verbatim in at least one OTHER document is
    * reported, per document, as (span_start, span_end) in 1-based
    * token positions.
    *
    * Exactness without a suffix array: a token position p lies in a
    * cross-doc-shared span of length ≥ k IFF some k-token window
    * covering p is itself cross-doc duplicated — (⇐) the duplicated
    * window IS a shared k-span; (⇒) a shared span [a,b] ∋ p of length
    * ≥ k contains the window starting at max(a, min(p, b−k+1)), which
    * covers p and matches verbatim wherever the span does. So the
    * union of duplicated k-windows, merged into maximal runs
    * (consecutive starts s₁ < s₂ coalesce iff s₂ ≤ s₁ + k — coverage
    * stays contiguous), covers EXACTLY the token positions lying in
    * some ≥k-token shared span. The reported rows are those maximal
    * covered RUNS — the union of shared spans, which is precisely what
    * removal needs — not per-partner maximal spans: adjacent or
    * overlapping spans shared with DIFFERENT partner documents merge
    * into one row (tokens [1..k] shared with B and [k+1..2k] shared
    * with C report as a single [1..2k] run even though no single
    * document shares the merged span; threading the partner id through
    * the window would be needed to split them, and removal does not
    * care). The oracle replays the definition over raw window text;
    * matching it proves the (fingerprint64, length) keys lost nothing
    * (the [[passageExactDedup]] discipline).
    *
    * Plan at 100 TB: the stride-1 window explode is a generator
    * (factor ≈ tokens/doc, pipelined; map-side cost is the k× window
    * re-materialization before hashing); the ONE corpus-sized exchange
    * carries 32-byte (id, p, fp, ln) rows — O(corpus tokens), the
    * inherent lower bound for exact substring dedup (Lee et al.'s
    * suffix array is likewise O(corpus)) — into a (fp, ln)-partitioned
    * window computing min/max doc per key (single sort, both
    * aggregates). Survivors (duplicated starts only — for a clean
    * corpus, a tiny fraction) re-key by doc id as 16-byte rows; span
    * merging is one ordered array-local fold per doc (the ck2/x20
    * accumulator discipline). Anchor-bucket skew (a corpus-hot k-gram)
    * is bounded by the largest duplicate mass, surfaced by
    * [[substringAnchorVolume]] in the bench artifact.
    *
    * Within-doc repeats (min doc = max doc) deliberately do NOT mark —
    * that is [[selfDedupPassages]]' job; dd13 is the cross-document
    * modality. Removal is symmetric (every sharer reports the span, as
    * boilerplate semantics want); keep-one-copy is the caller exempting
    * each span's min-id owner.
    *
    * @return (idCol, span_start, span_end, n_span_tokens) — one row per
    *         maximal run of cross-doc-shared token positions, 1-based
    *         inclusive.
    */
  def exactSubstringSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("fp"), col("ln"))
    val dupStarts = kgramStarts(docs, idCol, textCol, k)
      .withColumn("mind", min(col("id")).over(byKey))
      .withColumn("maxd", max(col("id")).over(byKey))
      .filter(col("mind") =!= col("maxd"))
      .select(col("id"), col("p"))
    mergeStarts(dupStarts, idCol, k)
  }

  /** Coalesce a SORTED array of k-window start positions into maximal
    * covered runs: each start covers [p, p+k-1]; sorted starts coalesce
    * with the open span [s, e] iff p ≤ e + 1 (contiguous or overlapping
    * coverage). Pure array-local fold (ck2/x20 accumulator discipline);
    * the result is a sorted array of DISJOINT spans. */
  private def coalesceStarts(sortedStarts: Column, k: Int): Column =
    aggregate(
      sortedStarts,
      array().cast("array<struct<s:bigint,e:bigint>>"),
      (sp, p) => {
        val last = element_at(sp, -1)
        when(size(sp) > 0 && p <= last.getField("e") + 1L,
          concat(slice(sp, lit(1), size(sp) - 1),
            array(struct(last.getField("s").as("s"),
              (p + (k - 1)).as("e")))))
          .otherwise(concat(sp,
            array(struct(p.as("s"), (p + (k - 1)).as("e")))))
      })

  /** Merge a (id, p) table of duplicated k-window starts into maximal
    * covered runs per doc — one id-keyed exchange + [[coalesceStarts]].
    * Shared by [[exactSubstringSpans]] and [[removeSharedSubstrings]]. */
  private def mergeStarts(dupStarts: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val spans = coalesceStarts(sort_array(collect_list(col("p"))), k)
    dupStarts
      .groupBy(col("id"))
      .agg(spans.as("spans"))
      // explode_outer + null-filter: a bare explode lets
      // InferFiltersFromGenerate clone the whole fold into a size()>0
      // filter (the passageExactDedup hazard); spans is never empty here
      .select(col("id").as(idCol), explode_outer(col("spans")).as("sp"))
      .filter(col("sp").isNotNull)
      .select(col(idCol), col("sp.s").as("span_start"),
        col("sp.e").as("span_end"),
        (col("sp.e") - col("sp.s") + 1L).as("n_span_tokens"))
  }

  /** [[blockVolume]] over [[exactSubstringSpans]]' anchor buckets —
    * the per-(fingerprint, length) k-gram population the keyed window
    * partitions on, single-sourced via [[kgramStarts]]. No pairwise
    * join runs over these buckets (the window computes min/max doc per
    * key in one pass), so `totalPairs` here is a skew canary — the
    * hottest bucket is the largest single-key window partition, i.e.
    * the corpus's most-repeated k-gram — not a comparison count. */
  def substringAnchorVolume(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 10): BlockVolume =
    blockVolume(kgramStarts(docs, idCol, textCol, k), Seq("fp", "ln"))

  /** The REMOVE action over [[exactSubstringSpans]]: every token inside
    * a cross-doc-shared ≥k-span is dropped and the survivors re-join —
    * the Lee et al. ExactSubstr cleaning step itself. Removal is
    * symmetric (every sharer loses the span — boilerplate semantics).
    *
    * `keepFirst = true` is the train-data-conservation variant: each
    * duplicated k-window's FIRST owner (the min doc id among its
    * sharers) keeps that window's tokens — the exemption actively
    * PROTECTS them against overlapping marks from other windows, so the
    * guarantee is corpus-wide at k-gram granularity: every k-token
    * sequence that occurred anywhere in the corpus still occurs,
    * verbatim and contiguous, in its first-owner document (its k
    * protected tokens are consecutive in the original and all kept, so
    * removal elsewhere in the doc cannot break them apart). Protection
    * must override marks, not merely withhold them: with k = 3 and docs
    * 0 = "x a b z", 1 = "x a b c", 2 = "a b c d", doc 1 is the first
    * owner of "a b c" but is marked for tokens 1-3 by the overlapping
    * "x a b" window (first owner: doc 0) — without the override, "a b c"
    * would survive in NO document. Note the unit of exemption is the
    * k-window's content key, so a longer shared span whose windows have
    * different first owners survives window-by-window across those
    * owners, not necessarily whole in one doc; and within-doc repeats
    * of a protected window are ALL protected in the first-owner doc
    * (collapsing those is [[selfDedupPassages]]' job).
    *
    * Plan: [[exactSubstringSpans]]' two keyed exchanges, plus spans
    * re-keying to their doc (8-byte rows + two longs) and ONE id-keyed
    * join against the corpus — text moves once, to its own spans. The
    * token drop is an array-local indexed filter (no shuffle). Docs
    * with no shared spans pass through byte-identical (left join).
    *
    * @return (idCol, clean_text, n_dropped_tokens)
    */
  def removeSharedSubstrings(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 10, keepFirst: Boolean = false): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val ts = split(col(textCol), " ")
    def covers(spans: Column, i: Column): Column =
      exists(spans, sp =>
        (i + 1L) >= sp.getField("s") && (i + 1L) <= sp.getField("e"))
    val (spans, kept, dropped) =
      if (!keepFirst) {
        val sp = exactSubstringSpans(docs, idCol, textCol, k)
          .groupBy(col(idCol))
          .agg(collect_list(struct(col("span_start").as("s"),
            col("span_end").as("e"))).as("__spans"))
        val kp = filter(ts, (t, i) => !covers(col("__spans"), i))
        // n_dropped comes from the SPAN array (disjoint maximal runs
        // within the token count by construction), not from size(kept):
        // HOFs get no common-subexpression elimination, so a second
        // reference to `kept` would run the tokens × spans filter twice
        // per affected row
        val dr = aggregate(col("__spans"), lit(0L),
          (acc, sp) => acc + sp.getField("e") - sp.getField("s") + 1L)
        (sp, kp, dr)
      } else {
        // one anchor-keyed window pass tags each duplicated start as
        // PROTECTED (this doc is the window's first owner) or MARKED
        // (another doc is); both span sets merge in the same id-keyed
        // groupBy — the fold just runs twice over the pre-sorted,
        // pre-filtered start arrays. A token drops iff marked and not
        // protected.
        val byKey = Window.partitionBy(col("fp"), col("ln"))
        val starts = kgramStarts(docs, idCol, textCol, k)
          .withColumn("mind", min(col("id")).over(byKey))
          .withColumn("maxd", max(col("id")).over(byKey))
          .filter(col("mind") =!= col("maxd"))
          .select(col("id").as(idCol), col("p"),
            (col("id") === col("mind")).as("prot"))
        def runs(want: Boolean) = coalesceStarts(
          transform(filter(col("__ps"), x => x.getField("prot") === want),
            x => x.getField("p")), k)
        val sp = starts
          .groupBy(col(idCol))
          // ONE collected buffer per doc; the two coalesced span arrays
          // are projections over it (__ps is a materialized aggregate
          // output attribute, so referencing it twice recomputes nothing)
          .agg(sort_array(collect_list(struct(col("p"), col("prot"))))
            .as("__ps"))
          .select(col(idCol), runs(want = false).as("__spans"),
            runs(want = true).as("__prot"))
        val kp = filter(ts, (t, i) =>
          !covers(col("__spans"), i) || covers(col("__prot"), i))
        // dropped = |marks| − |marks ∩ protects|; both arrays are sorted
        // disjoint runs, so summing pairwise overlap lengths is exact
        // (spans-per-doc is small — the nested fold is array-local)
        val dr = aggregate(col("__spans"), lit(0L),
          (acc, m) => acc + m.getField("e") - m.getField("s") + 1L -
            aggregate(col("__prot"), lit(0L),
              (a2, pr) => a2 + greatest(lit(0L),
                least(m.getField("e"), pr.getField("e")) -
                  greatest(m.getField("s"), pr.getField("s")) + 1L)))
        (sp, kp, dr)
      }
    // in keepFirst mode a doc can group in with ONLY protected starts:
    // __spans is then an EMPTY array (not null) — the filter keeps every
    // token and the fold yields 0, so the doc passes through unchanged
    docs.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__spans").isNull, col(textCol))
          .otherwise(array_join(kept, " ")).as("clean_text"),
        when(col("__spans").isNull, lit(0L))
          .otherwise(dropped).as("n_dropped_tokens"))
  }

  /** MinHash-LSH near-duplicate pairs, with text-identical compaction:
    * everything pairwise runs at DISTINCT-TEXT granularity, keyed by
    * the 16-byte (fingerprint64, length) content key (collisions
    * negligible — same argument as [[exact]]), and document pairs are
    * recovered through membership at the end. A real crawl's dup mass
    * is verbatim boilerplate, so banding per document makes the band
    * join quadratic in dup-CLUSTER size — the same scale-killer
    * [[simHashDup]] compacts away at signature granularity.
    *
    * Plan shape (each stage computes its inputs exactly once per row):
    *  1. membership (id, fp, ln) shuffles ONCE on the content key and
    *     is reused by the intra-pair and inter-pair expansions (narrow
    *     16-byte rows; the same non-nullability discipline as
    *     [[simHashDup]] keeps the exchange shared);
    *  2. identical-text pairs are Jaccard-1 by definition — emitted
    *     straight from group membership (groups with ≥ 2 docs and a
    *     non-empty shingle set; shingle-less docs never band-match, so
    *     they never pair here either), never through the band join;
    *  3. text → shingle hashes → signature → band keys is ONE let-bound
    *     expression ([[graft.functions.TextFunctions.minHashBandKeys]]),
    *     so shingle hashing runs once per row — not once per hash
    *     function; the band rows carry (band, band_key, fp, ln) and are
    *     made DISTINCT before the self-join, so the map-side partial
    *     aggregate collapses identical texts per partition before
    *     anything ships, and the join is quadratic only in
    *     distinct-text bucket population;
    *  4. candidate (text, text) pairs are made distinct, verified with
    *     ONE Jaccard per distinct-text pair against the compacted
    *     per-text shingle-set table, then expanded to document pairs
    *     through two membership joins.
    *
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b and verified
    *         shingle-set Jaccard ≥ `threshold` — bit-identical to the
    *         per-document formulation (identical texts have identical
    *         shingle sets, so every expanded pair's Jaccard equals its
    *         representative pair's).
    */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.6): DataFrame = {
    // Null-id docs are excluded up front — the per-document formulation
    // dropped them implicitly (null propagates through the doc_a < doc_b
    // pair filter), and a synthetic sentinel id would collapse distinct
    // null-id dup docs onto one id (ADVICE r10). The coalesce that
    // remains is a pure non-nullability marker (it can never fire) that
    // keeps InferFiltersFromConstraints from splitting the shared
    // exchange; its fallback is cast to the id column's own type so no
    // coercion is forced on non-long ids.
    val idNull = lit(-1L).cast(docs.schema(idCol).dataType)
    val clean = lshInput(docs, idCol, textCol)
    // (1) membership: the ONE corpus-wide exchange, shared by all four
    // expansion joins below (ReusedExchange, plan-audited).
    val members = clean
      .select(contentKey(textCol, coalesce(col(idCol), idNull).as("id")): _*)
      .repartition(col("fp"), col("ln"))
    // (2) intra-text pairs from group membership. `has_sh` (≥ k tokens)
    // is a cheap narrow predicate — identical texts agree on it, and it
    // reproduces the per-document behavior that shingle-less docs have
    // null band keys and never match. The Jaccard of two identical
    // non-empty shingle sets is exactly 1.0, so the threshold filter
    // constant-folds at plan time.
    val groups = clean
      .select(contentKey(textCol,
        (size(split(col(textCol), " ")) >= shingleK).as("has_sh")): _*)
      .groupBy(col("fp"), col("ln"))
      .agg(count(lit(1)).as("n"), max(col("has_sh")).as("has_sh"))
    val dupGroups = groups
      .filter(col("n") >= 2 && col("has_sh")).select(col("fp"), col("ln"))
    val dupMembers = members.join(dupGroups, Seq("fp", "ln"))
    val intra = dupMembers.select(col("fp"), col("ln"), col("id").as("doc_a"))
      .join(dupMembers.select(col("fp"), col("ln"), col("id").as("doc_b")),
        Seq("fp", "ln"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // (3) band rows at distinct-text granularity ([[contentBands]])
    val banded = contentBands(docs, idCol, textCol, shingleK, numHashes, bands)
    val textPairs = banded
      .select(col("band"), col("band_key"), col("fp").as("fp_a"), col("ln").as("ln_a"))
      .join(banded.select(col("band"), col("band_key"),
        col("fp").as("fp_b"), col("ln").as("ln_b")), Seq("band", "band_key"))
      .filter(struct(col("fp_a"), col("ln_a")) < struct(col("fp_b"), col("ln_b")))
      .select(col("fp_a"), col("ln_a"), col("fp_b"), col("ln_b"))
      .distinct()
    // (4) one shingle set per distinct text (compacted map-side, reused
    // by both verify sides), one Jaccard per distinct-text pair, then
    // membership expansion — each document belongs to exactly one text
    // group, so every cross pair is emitted exactly once.
    val textSh = clean
      .select(contentKey(textCol, shingleHashes(col(textCol), shingleK).as("sh")): _*)
      .select(col("fp"), col("ln"), col("sh"))
      .dropDuplicates("fp", "ln")
    val verified = textPairs
      .join(textSh.select(col("fp").as("fp_a"), col("ln").as("ln_a"),
        col("sh").as("sh_a")), Seq("fp_a", "ln_a"))
      .join(textSh.select(col("fp").as("fp_b"), col("ln").as("ln_b"),
        col("sh").as("sh_b")), Seq("fp_b", "ln_b"))
      .select(col("fp_a"), col("ln_a"), col("fp_b"), col("ln_b"),
        jaccardShingles(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val inter = verified
      .join(members.select(col("fp").as("fp_a"), col("ln").as("ln_a"),
        col("id").as("ma")), Seq("fp_a", "ln_a"))
      .join(members.select(col("fp").as("fp_b"), col("ln").as("ln_b"),
        col("id").as("mb")), Seq("fp_b", "ln_b"))
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
    intra.union(inter)
  }

  /** The non-null-text, non-null-id rows every MinHash-LSH operator and
    * canary bands: [[minHashLsh]], [[incrementalMinHash]] and their
    * volumes. */
  private[graft] def lshInput(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull && col(idCol).isNotNull)

  /** `first`, then [[minHashLsh]]'s 16-byte (fingerprint64, length)
    * content key of `textCol` as (fp, ln). */
  private def contentKey(textCol: String, first: Column): Seq[Column] =
    Seq(first,
      coalesce(fingerprint64(col(textCol)), lit(0L)).as("fp"),
      coalesce(length(col(textCol)), lit(0)).as("ln"))

  /** The distinct (band, band_key, fp, ln) rows [[minHashLsh]]'s band
    * self-join reads, over [[lshInput]]: posexplode emits no rows for
    * shingle-less texts (null band-key array), and the distinct's
    * partial aggregate collapses identical texts map-side. ONE
    * definition shared with [[minHashBandVolume]], so the canary counts
    * exactly the buckets the join reads. */
  private def contentBands(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bands: Int): DataFrame =
    lshInput(docs, idCol, textCol)
      .select(contentKey(textCol, posexplode(
        minHashBandKeys(col(textCol), shingleK, numHashes, bands))
        .as(Seq("band", "band_key"))): _*)
      .select(col("band"), col("band_key"), col("fp"), col("ln"))
      .distinct()

  /** Band keys for [[simHashDup]] — the Manku-style combinatorial
    * blocking scheme (Manku, Jain & Das Sarma, WWW'07 §3): split the
    * 61-bit signature into `maxHamming + 3` blocks; with ≤ maxHamming
    * dirty bits at least 3 blocks are clean, so every true pair shares
    * ALL blocks of at least one 3-block combination. Each combination is
    * one "table": the join key packs its 3 block values (~31 bits for
    * maxHamming = 3) instead of a single 16-bit chunk, so random bucket
    * collisions fall from 4·2⁻¹⁶ to C(6,3)·2⁻³¹ per pair — the
    * difference between ~3×10¹³ and ~10⁷ junk candidates at N = 10⁹
    * docs. Explode factor C(maxHamming+3, 3) is a constant (20 for
    * hamming ≤ 3). Returns one packed key per table, table id = index. */
  private[operators] def simHashBandKeys(sig: Column, maxHamming: Int): Column = {
    val nBlocks = maxHamming + 3
    val sizes = Array.tabulate(nBlocks)(i => 61 / nBlocks + (if (i < 61 % nBlocks) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftright(sig, offsets(i)).bitwiseAND(lit((1L << sizes(i)) - 1))
    val keys = (0 until nBlocks).combinations(3).map { c =>
      block(c(0)) * lit(1L << (sizes(c(1)) + sizes(c(2)))) +
        block(c(1)) * lit(1L << sizes(c(2))) + block(c(2))
    }
    array(keys.toSeq: _*)
  }

  /** SimHash near-duplicate pairs: hamming(sig_a, sig_b) ≤ maxHamming,
    * candidates found by exact match on one of C(maxHamming+3, 3)
    * combinatorial block keys ([[simHashBandKeys]] — pigeonhole-complete
    * for any maxHamming).
    *
    * Signature-identical compaction: a real crawl's dup mass is
    * boilerplate repeated verbatim, so the hottest band buckets are
    * dominated by IDENTICAL signatures — banding per document makes the
    * candidate join quadratic in dup-CLUSTER size (a 5,500-doc cluster
    * is ~15 M candidate pairs in ONE bucket; at 100× a proportional
    * cluster is ~10¹¹). Instead:
    *
    *  1. the corpus is shuffled on the signature into two narrow
    *     exchanges — the 16-byte (id, sig) membership table and the
    *     8-byte distinct-signature path (Catalyst prunes id out of the
    *     aggregate-side subtree, so the two cannot merge declaratively)
    *     — each computed once and REUSED by every downstream consumer
    *     (six branches total read them via ReusedExchange, plan-audited);
    *  2. identical-signature pairs are hamming-0 by definition — they
    *     are emitted straight from group membership, never through the
    *     band join;
    *  3. only DISTINCT signatures are banded and verified, and the
    *     surviving (sig_a, sig_b) pairs — already deduped across tables
    *     at signature granularity — expand back to document pairs
    *     through two membership joins on the signature key.
    *
    * The band join is thus quadratic only in distinct-signature bucket
    * population (bounded by the ~31-bit key space), and the per-document
    * work is linear plus the inherent output size. */
  def simHashDup(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    signatureDup(docs, idCol, textCol, simHash(col(textCol)), maxHamming)

  /** [[simHashDup]] for the MULTIMODAL column: perceptual near-duplicate
    * MEDIA pairs — hamming(aHash(media_a), aHash(media_b)) ≤
    * `maxHamming` over the 61-bit average-hash
    * ([[graft.functions.TextFunctions.aHash61]]), the pHash/banding
    * pass every frontier multimodal pipeline runs after text dedup
    * (re-encoded, resized, or slightly-corrupted copies of one image
    * share an aHash up to a few flipped bits while exact byte dedup
    * sees distinct blobs). Identical scale machinery to the text path —
    * ONE signature exchange, hamming-0 mass emitted from membership,
    * Manku combinatorial banding over DISTINCT signatures only — via
    * [[signatureDup]]. The hash front is whatever byte grid `mediaCol`
    * holds: raw media bytes (dd15's byte-pooling mode) or a REAL
    * decoder's resized luma grid —
    * [[graft.operators.Multimodal.decodeLumaGrid]] ∘
    * [[graft.operators.Multimodal.resizeNearest]], the pl12 pipeline —
    * with nothing else changing. No reference analog (arcon has no
    * media ops); Spark-first design. */
  def perceptualHashDup(docs: DataFrame, idCol: String, mediaCol: String,
      maxHamming: Int = 3, materializeSignatures: Boolean = false): DataFrame =
    signatureDup(docs, idCol, mediaCol, aHash61(col(mediaCol)), maxHamming,
      // pass true when mediaCol is EXPENSIVE to recompute (a real
      // codec's decoded/resized grid, as in pl12): the signature table
      // is then materialized once so the engine's two consumer shapes
      // cannot re-run the decode — the perceptualFrameDup discipline.
      materializeMembers = materializeSignatures)

  /** [[perceptualHashDup]] at FRAME granularity — the per-frame leg of
    * the video/media near-dup rollup (pl9): input is one row per
    * (media id, frame_no, frame bytes) — [[graft.operators.Multimodal]]
    * frame sampling output joined back to frame content — and output is
    * one row per (frame_no, media pair) whose frame aHashes are within
    * `maxHamming`. The banding engine is [[signatureDup]] with
    * `frameNoCol` as a group key: every exchange, band bucket, and
    * membership expansion is keyed by (frame_no, …), so frame 2 of one
    * video is only ever compared to frame 2 of another — the standard
    * aligned-frame video-dedup contract — and the whole pass stays ONE
    * grouped signature exchange regardless of frames per media. */
  def perceptualFrameDup(frames: DataFrame, idCol: String,
      frameNoCol: String, mediaCol: String,
      maxHamming: Int = 3): DataFrame =
    signatureDup(frames, idCol, mediaCol, aHash61(col(mediaCol)),
      maxHamming, groupCols = Seq(frameNoCol),
      // frame inputs are EXPENSIVE to recompute (a real codec's decode
      // dominates): materialize the scalar signature table once so the
      // engine's two consumer shapes (membership + column-pruned
      // distinct) cannot re-run the decode — the pl8 stage-boundary
      // discipline. The text/media paths keep the pure-plan shape
      // (their input is a parquet scan; PlanAuditSpec pins exchange
      // reuse there instead).
      materializeMembers = true)

  /** The banded near-dup engine shared by [[simHashDup]] (61-bit text
    * SimHash), [[perceptualHashDup]] (61-bit media average-hash) and
    * [[perceptualFrameDup]] (per-frame media hash, grouped): everything
    * below is signature-generic — the signature expression and the
    * optional group key (pairs never cross a group boundary; every
    * join/exchange key is prefixed with it) are the ONLY things the
    * modalities disagree on. */
  private def signatureDup(docs: DataFrame, idCol: String, srcCol: String,
      sigExpr: Column, maxHamming: Int,
      groupCols: Seq[String] = Nil,
      materializeMembers: Boolean = false): DataFrame = {
    val gc = groupCols.map(col)
    val members0 = signatures(docs, idCol, srcCol, sigExpr, groupCols)
      // the ONE corpus-wide exchange, shared below
      .repartition(gc :+ col("sig"): _*)
    val members =
      if (materializeMembers) members0.localCheckpoint() else members0
    val sigs = members.groupBy(gc :+ col("sig"): _*).agg(count(lit(1)).as("n"))
    // (2) intra-signature pairs: docs sharing an exact signature are
    // hamming-0 near-dups — emitted from membership. The dup-sig filter
    // keeps the expansion proportional to dup mass, not corpus size, and
    // every join here runs on the shared members partitioning. An INNER
    // join against the (already distinct) dup-signature list, not a
    // semi join: PushDownLeftSemiAntiJoin would push a semi join below
    // the repartition, splitting the shared exchange into independently
    // recomputed signature scans.
    val sigKey = groupCols :+ "sig"
    val dupMembers = members.join(
      sigs.filter(col("n") >= 2).select(sigKey.map(col): _*), sigKey)
    val intra = dupMembers.select(sigKey.map(col) :+ col("id").as("doc_a"): _*)
      .join(dupMembers.select(sigKey.map(col) :+ col("id").as("doc_b"): _*),
        sigKey)
      .filter(col("doc_a") < col("doc_b"))
      .select(gc ++ Seq(col("doc_a"), col("doc_b"),
        lit(0L).as("hamming")): _*)
    // (3) inter-signature pairs: band one row per distinct signature.
    val banded = mankuBands(sigs, groupCols, maxHamming)
    val bandKey = groupCols ++ Seq("tbl", "band_key")
    val sigPairs = banded
      .select(bandKey.map(col) :+ col("sig").as("sig_a"): _*)
      .join(banded.select(bandKey.map(col) :+ col("sig").as("sig_b"): _*),
        bandKey)
      .filter(col("sig_a") < col("sig_b"))
      .select(gc ++ Seq(col("sig_a"), col("sig_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long")
          .as("hamming")): _*)
      // hamming is two ALU ops — filter BEFORE the distinct so the
      // dedup shuffle carries only surviving signature pairs, not every
      // band-collision candidate
      .filter(col("hamming") <= maxHamming)
      .distinct()
    // expand signature pairs to document pairs; each document belongs to
    // exactly one signature group (per group key), so the expansion
    // emits every cross pair exactly once — no document-level distinct
    // needed.
    val inter = sigPairs
      .join(members.select(gc ++ Seq(col("sig").as("sig_a"),
        col("id").as("ma")): _*), groupCols :+ "sig_a")
      .join(members.select(gc ++ Seq(col("sig").as("sig_b"),
        col("id").as("mb")): _*), groupCols :+ "sig_b")
      .select(gc ++ Seq(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("hamming")): _*)
    intra.union(inter)
  }

  /** (groupCols…, id, sig) of every doc with a non-null id and source —
    * [[signatureDup]]'s input, shared with [[signatureBandVolume]]. */
  private def signatures(docs: DataFrame, idCol: String, srcCol: String,
      sigExpr: Column, groupCols: Seq[String]): DataFrame =
    // NULL-source rows can never band-match (null keys don't equi-join);
    // drop them BEFORE the signature and mark the signature non-nullable
    // (coalesce with a non-null literal). Without this the optimizer
    // infers `isnotnull(simhashexpr(text))` from the join keys and the
    // full signature scan runs TWICE per row — once in the inferred
    // Filter, once in the projection (caught by PlanAuditSpec).
    // Both projected columns are marked non-nullable (coalesce): a
    // nullable id lets InferFiltersFromConstraints push branch-specific
    // isnotnull filters BELOW the shared exchange, splitting it into
    // independently recomputed signature scans (ReuseExchange matches
    // canonical subtrees exactly).
    // Null-id docs are dropped (same contract as [[minHashLsh]]); the
    // id coalesce can then never fire and survives only as the
    // non-nullability marker described above, typed to the id column.
    docs.filter(col(srcCol).isNotNull && col(idCol).isNotNull)
      .select(groupCols.map(col) ++ Seq(
        coalesce(col(idCol), lit(-1L).cast(docs.schema(idCol).dataType)).as("id"),
        coalesce(sigExpr, lit(0L)).as("sig")): _*)

  /** The Manku table rows (groupCols…, sig, tbl, band_key) of distinct
    * (groupCols…, sig) rows — the buckets [[signatureDup]]'s band
    * self-join reads; ONE definition shared with
    * [[signatureBandVolume]]. */
  private def mankuBands(sigs: DataFrame, groupCols: Seq[String],
      maxHamming: Int): DataFrame =
    sigs.select(groupCols.map(col) ++ Seq(col("sig"),
      posexplode(simHashBandKeys(col("sig"), maxHamming))): _*)
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "band_key")

  /** Pair volume of a blocking scheme: number of blocks, the largest
    * block, and Σ c·(c−1)/2 over the block-size histogram — the exact
    * number of pairwise comparisons a blocked operator would perform.
    * One column-pruned count job (the text column is never read unless a
    * blocking key derives from it); this is what [[ngramJaccardPairs]]'s
    * budget guard runs, and what the bench artifact reports so quadratic
    * creep in a blocked query is visible in the JSON, not just in review. */
  case class BlockVolume(nBlocks: Long, maxBlock: Long, totalPairs: Long)

  def blockVolume(docs: DataFrame, blockCols: Seq[String]): BlockVolume = {
    // pair math in DECIMAL(38): c·(c−1)/2 overflows Long past ~3e9 rows
    // in one block, which would silently disarm every guard that reads
    // totalPairs/maxBlock. c·(c−1) is even so /2 is exact; the output
    // clamps to Long.MaxValue (any corpus near the clamp has long since
    // tripped the budget).
    val pairs = (col("c").cast("decimal(38,0)") * (col("c") - 1)) / 2
    val r = docs.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("nb"),
        coalesce(max(col("c")), lit(0L)).as("mx"),
        sum(pairs).cast("decimal(38,0)").as("tp"))
      .collect()(0)
    BlockVolume(r.getLong(0), r.getLong(1), sumToLong(r, 2, r.getLong(0)))
  }

  /** Read a DECIMAL(38,0) sum aggregate defensively: a null sum over a
    * NON-empty input is a decimal overflow (non-ANSI mode nulls instead
    * of throwing) and must clamp to Long.MaxValue — the overflow and the
    * empty-input case would otherwise both read as 0, the
    * healthiest-looking value a guard could see — while a null over
    * zero blocks is genuinely "no pairs". Shared by [[blockVolume]] and
    * [[crossBlockVolume]], same clamp discipline as their bitLength
    * check. */
  private def sumToLong(r: org.apache.spark.sql.Row, idx: Int,
      nBlocks: Long): Long = {
    val d = r.getDecimal(idx)
    if (d == null) { if (nBlocks == 0L) 0L else Long.MaxValue }
    else {
      val i = d.toBigInteger
      if (i.bitLength >= 64) Long.MaxValue else i.longValueExact()
    }
  }

  /** Cross-table variant of [[blockVolume]]: candidate volume of a
    * probe×build bucket join — per matched key the candidate count is
    * |probe_b| · |build_b| (not c·(c−1)/2; the two sides are distinct
    * tables). `nBlocks` counts MATCHED keys, `maxBlock` is the hottest
    * key's candidate count. Same DECIMAL(38) overflow discipline and
    * Long clamp as [[blockVolume]]. */
  def crossBlockVolume(probe: DataFrame, build: DataFrame,
      blockCols: Seq[String]): BlockVolume = {
    val pc = probe.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("pc"))
    val bc = build.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("bc"))
    val cand = (col("pc").cast("decimal(38,0)") * col("bc"))
      .cast("decimal(38,0)")
    val r = pc.join(bc, blockCols)
      .select(cand.as("p"))
      .agg(count(lit(1)).as("nb"),
        coalesce(max(col("p")), lit(0)).cast("decimal(38,0)").as("mx"),
        sum(col("p")).cast("decimal(38,0)").as("tp"))
      .collect()(0)
    def clamp(i: java.math.BigInteger): Long =
      if (i.bitLength >= 64) Long.MaxValue else i.longValueExact()
    BlockVolume(r.getLong(0), clamp(r.getDecimal(1).toBigInteger),
      sumToLong(r, 2, r.getLong(0)))
  }

  /** [[crossBlockVolume]] over [[incrementalMinHash]]'s band join —
    * batch band rows probed against the prior corpus's band index,
    * exactly as the gate joins them. The scaled self-union saturates
    * `totalPairs` (every copy is a true near-dup of every other copy
    * of its source, so candidate growth IS the planted-pair contract);
    * the scheme-health signal is `maxBlock` staying bounded. */
  def incrementalBandVolume(batch: DataFrame, prior: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      numHashes: Int = 32, bands: Int = 8): BlockVolume = {
    def bandRows(df: DataFrame) =
      incrBandRows(df, idCol, textCol, shingleK, numHashes, bands, "id")
        .select(col("band"), col("band_key"))
    crossBlockVolume(bandRows(batch), bandRows(prior),
      Seq("band", "band_key"))
  }

  /** The (band, band_key, id) rows of [[incrementalMinHash]]'s band
    * join, over [[lshInput]] — ONE definition shared by the operator,
    * the [[incrementalBandVolume]] bench canary and the streaming gate's
    * prior index ([[graft.streaming.StreamingRun.ingestGate]]), so
    * neither can drift from the join it measures or replays. */
  private[graft] def incrBandRows(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bands: Int, as: String): DataFrame =
    lshInput(df, idCol, textCol)
      .select(col(idCol).as(as), posexplode(
        minHashBandKeys(col(textCol), shingleK, numHashes, bands))
        .as(Seq("band", "band_key")))
      .select(col("band"), col("band_key"), col(as))

  /** [[blockVolume]] over the LSH band buckets a [[minHashLsh]] call
    * joins on — the exact candidate-pair count the band self-join
    * generates (pre-distinct): [[blockVolume]] over [[contentBands]],
    * the very rows the join reads (distinct texts of non-null-id docs).
    * One signature pass + one count shuffle. */
  def minHashBandVolume(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bands: Int): BlockVolume =
    blockVolume(contentBands(docs, idCol, textCol, shingleK, numHashes, bands),
      Seq("band", "band_key"))

  /** [[blockVolume]] over [[simHashDup]]'s Manku combinatorial tables —
    * [[signatureBandVolume]]. */
  def simHashBandVolume(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): BlockVolume =
    signatureBandVolume(docs, idCol, textCol, simHash(col(textCol)), maxHamming)

  /** [[simHashBandVolume]] for [[perceptualHashDup]]'s media
    * average-hash banding — the dd15 bench canary. */
  def perceptualBandVolume(docs: DataFrame, idCol: String,
      mediaCol: String, maxHamming: Int): BlockVolume =
    signatureBandVolume(docs, idCol, mediaCol, aHash61(col(mediaCol)), maxHamming)

  /** [[perceptualBandVolume]] at FRAME granularity — the pl9 bench
    * canary over [[perceptualFrameDup]]'s grouped tables (the frame
    * group key multiplies the bucket space, never the per-bucket
    * population). */
  def frameBandVolume(frames: DataFrame, idCol: String,
      frameNoCol: String, mediaCol: String, maxHamming: Int): BlockVolume =
    signatureBandVolume(frames, idCol, mediaCol, aHash61(col(mediaCol)),
      maxHamming, Seq(frameNoCol))

  /** [[blockVolume]] over [[signatureDup]]'s Manku tables: [[mankuBands]]
    * over the DISTINCT (groupCols…, sig) rows of [[signatures]] — exactly
    * the rows the operator bands after signature-identical compaction. */
  private def signatureBandVolume(docs: DataFrame, idCol: String,
      srcCol: String, sigExpr: Column, maxHamming: Int,
      groupCols: Seq[String] = Nil): BlockVolume =
    blockVolume(mankuBands(
      signatures(docs, idCol, srcCol, sigExpr, groupCols)
        .select((groupCols :+ "sig").map(col): _*).distinct(),
      groupCols, maxHamming), groupCols ++ Seq("tbl", "band_key"))

  /** [[blockVolume]] over [[semanticDedup]]'s cells under `centroids` —
    * single-sourced with the dedup itself via [[assignCells]] AND
    * [[splitOvergrownCells]] (the volume canary must measure the cells
    * the pairwise pass actually joins on, split included, or the split
    * fix would be invisible to the bench's scale curve). */
  def semanticCellVolume(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, splitCellsOver: Long = 1000L,
      splitTarget: Long = 500L, splitIters: Int = 1,
      dim: Int = 64): BlockVolume =
    blockVolume(
      splitOvergrownCells(assignCells(emb, idCol, vecCol, centroids),
        splitCellsOver, splitTarget, splitIters, dim),
      Seq("cell"))

  /** Exact pairwise n-gram Jaccard, emitting the pairs with similarity
    * ≥ `threshold`.
    *
    * DEFAULT (no `blockCols`): delegates to [[prefixJaccardPairs]] —
    * prefix filtering over the global document-frequency shingle order,
    * one exact verify per surviving candidate, output identical to the
    * brute-force all-pairs join at `threshold` (lossless by the prefix
    * theorem) and linear-shaped in corpus size when duplication is
    * sparse. This is the 100 TB path; a positive `threshold` is
    * required (`maxPairsPerBlock` becomes its candidate-pair budget),
    * and the output schema is `(doc_a, doc_b, jaccard)`.
    *
    * OPT-IN (`blockCols` non-empty): exact pairwise within caller-named
    * blocking groups, output prefixed with the blocking columns. The
    * blocking columns bound the pair count; because in-block pairs grow
    * as c² while a natural blocking key's cardinality is often CONSTANT
    * in corpus size (lang × source ≈ 100 forever), the bound silently
    * decays as the corpus grows — so the contract is enforced as code:
    * a cheap column-pruned count job ([[blockVolume]]) runs first, and
    * if any single block would generate more than `maxPairsPerBlock`
    * comparisons the call fails loudly BEFORE the expensive shingle
    * computation starts. Use it only when the block structure is itself
    * the semantics (per-language/per-date reports, `threshold = 0`
    * exhaustive in-block listings); for plain "find near-duplicates at
    * a threshold", the default unblocked path is strictly better
    * shaped. For approximate near-dup at corpus scale use
    * [[minHashLsh]] / [[simHashDup]] — candidate count there is
    * governed by the S-curve, not block size. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String] = Nil, n: Int = 3, threshold: Double = 0.0,
      maxPairsPerBlock: Long = 10000000L): DataFrame = {
    if (blockCols.isEmpty) {
      // surface THIS entry point in the threshold error, not the
      // delegate's, so callers know which default to fix
      require(threshold > 0.0 && threshold <= 1.0,
        s"ngramJaccardPairs without blockCols is the prefix-filtered " +
          s"exact join and needs a threshold in (0, 1]; got $threshold. " +
          "A zero-threshold exhaustive listing only exists within " +
          "explicit blocks — pass blockCols.")
      return prefixJaccardPairs(docs, idCol, textCol, n, threshold,
        maxCandidatePairs = maxPairsPerBlock)
    }
    if (maxPairsPerBlock < Long.MaxValue) {
      val v = blockVolume(docs, blockCols)
      // BigInt: maxBlock^2/2 overflows Long past ~3e9 rows per block —
      // exactly the runaway corpus this guard exists to catch
      val worst = BigInt(v.maxBlock) * (v.maxBlock - 1) / 2
      if (worst > maxPairsPerBlock)
        throw new IllegalArgumentException(
          s"ngramJaccardPairs: hottest block on (${blockCols.mkString(", ")}) " +
            s"has ${v.maxBlock} rows = $worst pairs > budget $maxPairsPerBlock " +
            s"(${v.nBlocks} blocks, ${v.totalPairs} total pairs). The blocking " +
            "key is too coarse for this corpus — add a finer key (length " +
            "band, date bucket) or switch to minHashLsh/simHashDup.")
    }
    val withSh = docs.select(
      (blockCols.map(col) :+ col(idCol).as("id") :+
        shingleHashes(col(textCol), n).as("sh")): _*)
    val l = withSh.select(
      (blockCols.map(col) :+ col("id").as("doc_a") :+ col("sh").as("sh_a")): _*)
    val r = withSh.select(
      (blockCols.map(col) :+ col("id").as("doc_b") :+ col("sh").as("sh_b")): _*)
    l.join(r, blockCols)
      .filter(col("doc_a") < col("doc_b"))
      .select((blockCols.map(col) :+ col("doc_a") :+ col("doc_b") :+
        jaccardShingles(col("sh_a"), col("sh_b")).as("jaccard")): _*)
      .filter(col("jaccard") >= threshold)
  }

  /** Shingle table shared by [[prefixJaccardPairs]] and
    * [[prefixJaccardVolume]]: `(id, sh, sz)` for every non-null-text doc
    * with a non-empty distinct-shingle set (an empty set has Jaccard 0
    * against everything, so it can never clear a positive threshold). */
  private[operators] def prefixShingles(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))
      .filter(col("sz") > 0)

  /** Prefix-token table shared by [[prefixJaccardPairs]] and
    * [[prefixJaccardVolume]] (single-sourced so the volume canary
    * measures exactly the tokens the join runs on): for each doc, the
    * first `sz − floor(threshold·sz) + 1` distinct shingles in the
    * global (document-frequency asc, hash asc) canonical order.
    *
    * Why that prefix suffices (the prefix-filter theorem of the
    * set-similarity-join literature — SSJoin / All-Pairs / PPJoin):
    * J(A,B) ≥ t implies |A∩B| ≥ t·|A|, so B must hit A somewhere in
    * A's first |A| − ⌈t·|A|⌉ + 1 elements of ANY order shared by both
    * sides — skipping them all would leave fewer than ⌈t·|A|⌉ elements
    * to intersect. The floor form keeps the prefix ≥ the ceil form
    * (conservative, never drops a true pair) and replays bit-for-bit in
    * any IEEE-double engine. Ordering by ascending document frequency
    * puts the RAREST shingles in the prefix, which is what bounds the
    * candidate join: a shingle shared by half the corpus sits at the
    * END of every doc's order and never lands in a prefix, so no
    * stop-word-shaped token can form a quadratic bucket. */
  private[operators] def prefixTokens(sh: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = sh.select(col("id"), col("sz"), explode(col("sh")).as("t"))
    // df over the same exploded table the join side reads — the
    // aggregate's exchange on t is shared with the join's (ReusedExchange)
    val dfreq = toks.groupBy(col("t")).agg(count(lit(1)).as("df"))
    toks.join(dfreq, Seq("t"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("t"))))
      .filter(col("rn") <= col("sz") - floor(lit(threshold) * col("sz")) + 1)
      .select(col("t"), col("id"), col("sz"))
  }

  /** Exact n-gram Jaccard pairs WITHOUT blocking keys — the 100 TB path
    * for exact-threshold similarity that [[ngramJaccardPairs]]'s
    * caller-supplied blocking cannot provide (a natural key's
    * cardinality is often constant in corpus size, so its in-block
    * pairs creep quadratic; the guard fails loudly but the answer is
    * "use a different algorithm" — this one).
    *
    * Candidates come from prefix filtering (see [[prefixTokens]]):
    * docs sharing at least one of each other's rarest
    * `(1−threshold)·|shingles|+1` shingles, then a size-compatibility
    * prune (J ≥ t forces min/max sizes ≥ t; the 1e-9 slack keeps the
    * double-arithmetic prune strictly conservative at exact-boundary
    * pairs), then ONE exact Jaccard verify per distinct candidate pair.
    * Output is EXACTLY the brute-force all-pairs result at `threshold`
    * — the filter is lossless by the prefix theorem — which is how the
    * oracle checks it (DuckDB runs the unfiltered n² form).
    *
    * Scale shape: one text scan (the shingle table is materialized via
    * `localCheckpoint` and feeds the explode AND both verify sides —
    * executor-local blocks, same resilience trade as [[clusters]]'
    * default), then every shuffle is keyed (shingle df on t, prefix
    * rank on id, candidate join on t, verify on id). Candidate volume
    * is governed by rare-shingle collision counts, not corpus²; the
    * pair budget runs against the ALREADY-materialized prefix table
    * (one cheap aggregate, not a second text scan) and fails loudly
    * with the hottest token's volume before any verify work starts. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7,
      maxCandidatePairs: Long = 10000000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixJaccardPairs needs a threshold in (0, 1]; got $threshold " +
        "(a zero threshold is the global n^2 all-pairs join)")
    val sh = prefixShingles(docs, idCol, textCol, n).localCheckpoint()
    val prefix = prefixTokens(sh, threshold).localCheckpoint()
    if (maxCandidatePairs < Long.MaxValue) {
      val v = blockVolume(prefix, Seq("t"))
      if (v.totalPairs > maxCandidatePairs)
        throw new IllegalArgumentException(
          s"prefixJaccardPairs: prefix join would generate ${v.totalPairs} " +
            s"candidate pairs > budget $maxCandidatePairs (hottest shingle " +
            s"${v.maxBlock} docs of ${v.nBlocks} prefix shingles). Raise the " +
            "threshold (shorter prefixes), increase n (rarer shingles), or " +
            "raise the budget if the corpus genuinely carries this much " +
            "near-duplicate mass.")
    }
    val cand = prefix.select(col("t"), col("id").as("doc_a"), col("sz").as("sz_a"))
      .join(prefix.select(col("t"), col("id").as("doc_b"), col("sz").as("sz_b")),
        Seq("t"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double")
          - lit(1e-9))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        jaccardShingles(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[blockVolume]] over [[prefixJaccardPairs]]' prefix-shingle buckets
    * — the exact candidate-pair count its join generates (pre-size-prune,
    * pre-distinct), single-sourced with the operator via
    * [[prefixTokens]]. */
  def prefixJaccardVolume(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7): BlockVolume =
    blockVolume(
      prefixTokens(prefixShingles(docs, idCol, textCol, n), threshold),
      Seq("t"))

  /** Connected components over a near-duplicate pair list: every doc
    * gets its cluster's minimum doc id as `cluster_id` (the canonical
    * "keeper"), turning pairwise dedup output into per-cluster keep/drop
    * decisions — the step after [[minHashLsh]]/[[simHashDup]] in a real
    * pipeline. Isolated docs (no edges) are not emitted; callers
    * left-join and coalesce to self. A pair with a null id names no
    * document and is no edge.
    *
    * The pairs are staged once — one job, which also counts them — and
    * the edge count (2·|pairs|) picks one of two paths:
    *
    *  - **Driver pass** (at most [[DriverMaxEdges]] = 4M edges):
    *    collect the pairs, solve them on the driver over primitive
    *    arrays ([[solveOnDriver]]) and ship the labels back through
    *    `sparkContext.parallelize` — two jobs in all, whatever the
    *    graph's depth. Driver memory peaks near 150 bytes per pair
    *    (≈ 300 MB at the bound), the order of the label frontier the
    *    distributed loop used to build and broadcast from the driver
    *    every round at the same size.
    *  - **Distributed min-label propagation** (above the bound, which
    *    scales unbounded): labels flow along the edge list in staged
    *    rounds until a round changes no label; each round is a few
    *    shuffles keyed on doc id plus one checkpoint and one Σ-labels
    *    collect, its driver barrier.
    *
    * Both paths return the same rows and schema and report the same
    * round count ([[clustersWithIters]]), and both enforce `maxIters`
    * identically: it bounds edge-list HOPS (one hop = one propagation
    * step along every edge). Near-dup clusters are shallow (duplicates
    * of a common source — single digits), so a graph still unconverged
    * after `maxIters` hops is a pathology (an adversarial chain, or
    * pairs that aren't near-dup output) and aborts with the hop count
    * instead of shuffling for a week — on the driver path too, where
    * the depth costs nothing, so an input's fate never depends on
    * which side of the bound it falls.
    *
    * NOTE the default therefore BOUNDS COMPONENT DIAMETER AT 50: a
    * caller using this as general-purpose connected components over an
    * arbitrary graph (long paths are legal there, not a pathology) must
    * pass an explicit larger `maxIters` — the in-repo call sites (dd6,
    * pl2, sp3) all feed near-dup pair lists, where the default is the
    * intended guard (ADVICE r10).
    *
    * Staging uses `localCheckpoint` by default (executor block storage —
    * fast, but an executor loss mid-run is unrecoverable because the
    * lineage is gone). For long multi-TB runs pass `reliable = true` to
    * stage through the reliable checkpoint directory
    * (`SparkContext.setCheckpointDir` must be set to a fault-tolerant
    * FS) so the job survives executor loss — the classic
    * speed-vs-resilience trade of iterative Spark. */
  def clusters(pairs: DataFrame, aCol: String, bCol: String,
      reliable: Boolean = false, maxIters: Int = 50): DataFrame =
    clustersWithIters(pairs, aCol, bCol, reliable, maxIters)._1

  /** Edge-count bound at or under which [[clusters]] solves on the
    * driver. Near-dup output is sparse relative to the corpus at every
    * scale (a 100 TB run with percent-level duplication still yields
    * |pairs| ≪ |docs|), so this covers the common case; past it the
    * distributed loop takes over. */
  private[operators] val DriverMaxEdges = 4L << 20

  /** [[clusters]] plus the number of STAGED propagation rounds the
    * distributed loop runs — on the driver path, the number it would
    * run. With the 1-hop-seeded init, two 1-hop opening rounds and two
    * hops per round after that (r22), a graph of depth D (the largest
    * BFS distance from a component's minimum id) converges in the
    * first round r whose preceding hops H_r = 0, 1, 2, 4, 6, … reach
    * D − 1, i.e. r + 1 rounds; it aborts iff H_r ≥ `maxIters`. The
    * chain-cluster tests pin both on both paths. `driverMaxEdges` is
    * the test seam that forces the distributed path. */
  private[operators] def clustersWithIters(pairs: DataFrame, aCol: String,
      bCol: String, reliable: Boolean = false, maxIters: Int = 50,
      driverMaxEdges: Long = DriverMaxEdges): (DataFrame, Int) = {
    // min-label propagation and the Σ-labels convergence check both
    // need an integral id: min() on strings would pick lexicographic
    // canonical ids, but sum() coerces strings to DOUBLE and the
    // convergence collect throws ClassCastException mid-run — and a
    // double Σ is inexact past 2^53 anyway. Fail loudly up front
    // ([[minHashLsh]] supports string ids for PAIR GENERATION; hash
    // them to 64-bit, e.g. xxhash64, before clustering).
    Seq(aCol, bCol).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"clusters requires integral ids for min-label propagation and " +
          s"the exact Σ-labels convergence check; '$c' is $dt — hash " +
          "non-numeric ids to 64-bit (xxhash64) first")
    }
    def stage(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // The callers hand this an UNMATERIALIZED pair pipeline (dd6/pl2/
    // sp3: the entire minHashLsh DAG): staging evaluates it exactly
    // once, and the row count rides the same job as an observed metric
    // instead of costing a count job of its own.
    val counted = Observation()
    val staged = stage(pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .observe(counted, count(lit(1)).as("n")))
    // Both edge directions via one generator over the staged pairs: a
    // narrow pass over executor blocks, re-read by each hop below.
    val edges = staged.select(explode(array(
        struct(col("a"), col("b")), struct(col("b").as("a"), col("a").as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))

    // The staged-round schedule, shared by both paths so they agree on
    // round counts and on the abort. `round(hopsBefore, hops)` runs (or,
    // on the driver path, replays) one round of `hops` hops and reports
    // whether it changed no label. DEPTH-ADAPTIVE rounds (r22): each
    // staged round pays one checkpoint write + one Σ-labels collect + a
    // full driver job barrier, so chaining two hops per round halves
    // those per-depth costs — but a hop is a full edge-list join, and
    // the COMMON near-dup component is an all-pairs group of diameter
    // 1–2 (LSH emits every in-group pair) that converges within two
    // rounds, where a second chained hop is wasted join work. So the
    // first two rounds run ONE hop and later rounds TWO.
    def rounds(round: (Int, Int) => Boolean): Int = {
      var iters = 0
      var hopsDone = 0
      var converged = false
      while (!converged) {
        if (hopsDone >= maxIters)
          throw new IllegalStateException(
            s"clusters: min-label propagation has not converged after " +
              s"$maxIters edge-list hops ($iters rounds). Near-dup " +
              "components are shallow; a diameter this large means the " +
              "pair list is not near-dup output (adversarial chain / " +
              "wrong input) — raise maxIters only if that is intentional.")
        val hops = if (iters >= 2) 2 else 1
        converged = round(hopsDone, hops)
        hopsDone += hops
        iters += 1
      }
      iters
    }

    if (2 * counted.get("n").asInstanceOf[Long] <= driverMaxEdges) {
      val (ids, roots, depth) = solveOnDriver(
        staged.select(col("a").cast("long"), col("b").cast("long"))
          .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
          .collect())
      // labels after the init hop plus `before` hops span distance
      // 1 + before from each component minimum; a round changes no
      // label once that covers the depth
      val iters = rounds((before, _) => 1 + before >= depth)
      // the loop's id type: the wider of the two columns
      val idType = edges.schema("a").dataType
      val asId: Long => Any = idType match {
        case ByteType => _.toByte
        case ShortType => _.toShort
        case IntegerType => _.toInt
        case _ => identity
      }
      // primitive slices of ≤ 1M labels cross to the executors, which
      // build the rows; cluster_id is nullable like the loop's min()
      val slices = ids.grouped(1 << 20).zip(roots.grouped(1 << 20)).toSeq
      val rows = pairs.sparkSession.sparkContext
        .parallelize(slices, math.max(1, slices.size))
        .flatMap { case (is, rs) =>
          is.indices.iterator.map(j => Row(asId(is(j)), asId(rs(j))))
        }
      val labels = pairs.sparkSession.createDataFrame(rows, StructType(Seq(
        StructField("doc_id", idType, nullable = false),
        StructField("cluster_id", idType, nullable = true))))
      (labels, iters)
    } else {
      // Σ(cluster_id) as an exact DECIMAL(38,0) (the [[blockVolume]]
      // discipline): a Long Σ overflows once |ids|·N passes 2^63 — three
      // xxhash64-sized ids suffice — and ANSI mode then throws. coalesce:
      // the sum is NULL on an empty frame (no near-dup pairs at all) and
      // that must converge to an empty result, not NPE.
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).collect()(0).getDecimal(0)
      // 1-hop-seeded init (r21): each node starts at the min over its
      // CLOSED neighborhood — one groupBy over the edge list that banks
      // the first propagation round, so the loop runs max(1, d) rounds
      // instead of d + 1.
      var labels = stage(
        edges.groupBy(col("a"))
          .agg(min(col("b")).as("mb"))
          .select(col("a").as("doc_id"),
            least(col("a"), col("mb")).as("cluster_id")))
      // Labels only ever DECREASE (min propagation), so Σ(cluster_id)
      // strictly decreases on any change — a single cheap aggregate over
      // the just-materialized labels replaces a per-iteration change join,
      // and Σ equal across a round proves no change in ANY of its hops.
      var prevSum = labelSum(labels)
      // ONE min-label hop — labels flow one edge, folded with the current
      // labels (closed neighborhood). LAZY, so a staged round can chain
      // two of them. The frontier side is RENAMED before the join: the
      // second hop's input lineage already contains the edge scan, and
      // distinct key names keep the self-join unambiguous by construction.
      def hop(ls: DataFrame): DataFrame =
        edges
          .join(ls.select(col("doc_id").as("__b"), col("cluster_id")),
            col("b") === col("__b"))
          .select(col("a").as("doc_id"), col("cluster_id"))
          .union(ls)
          .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
      val iters = rounds { (_, hops) =>
        val prop = stage(if (hops == 2) hop(hop(labels)) else hop(labels))
        val s = labelSum(prop)
        val unchanged = s == prevSum
        prevSum = s
        labels = prop
        unchanged
      }
      (labels, iters)
    }
  }

  /** Connected components of an undirected edge list on the driver,
    * over primitive arrays only: the sorted distinct ids, each one's
    * component minimum, and the depth D — the largest BFS distance from
    * a component's minimum to one of its nodes. Nodes are visited in
    * ascending id order and every unvisited node starts a BFS, so each
    * BFS starts at its component's minimum: one O(V + E) pass yields
    * the min-root labels a union-find would, plus the depth the
    * `maxIters` contract needs, which a union-find cannot give. */
  private def solveOnDriver(
      pairs: Array[(Long, Long)]): (Array[Long], Array[Long], Int) = {
    // endpoints 2e and 2e + 1 are edge e's two ends, so endpoint p's
    // other end is p ^ 1
    val ends = new Array[Long](2 * pairs.length)
    for (e <- pairs.indices) {
      ends(2 * e) = pairs(e)._1
      ends(2 * e + 1) = pairs(e)._2
    }
    val ids = java.util.Arrays.stream(ends).sorted().distinct().toArray
    val node = ends.map(java.util.Arrays.binarySearch(ids, _))
    // CSR adjacency: node v's neighbours are adj(off(v) until off(v + 1))
    val off = new Array[Int](ids.length + 1)
    node.foreach(v => off(v + 1) += 1)
    for (v <- ids.indices) off(v + 1) += off(v)
    val next = off.clone()
    val adj = new Array[Int](ends.length)
    for (p <- ends.indices) {
      adj(next(node(p))) = node(p ^ 1)
      next(node(p)) += 1
    }
    val root = Array.fill(ids.length)(-1)
    val dist = new Array[Int](ids.length)
    val queue = new Array[Int](ids.length) // each node is queued once
    var head = 0
    var tail = 0
    var depth = 0
    for (s <- ids.indices if root(s) < 0) {
      root(s) = s
      queue(tail) = s
      tail += 1
      while (head < tail) {
        val v = queue(head)
        head += 1
        depth = math.max(depth, dist(v))
        for (k <- off(v) until off(v + 1)) {
          val w = adj(k)
          if (root(w) < 0) {
            root(w) = s
            dist(w) = dist(v) + 1
            queue(tail) = w
            tail += 1
          }
        }
      }
    }
    (ids, root.map(ids(_)), depth)
  }

  /** Embedding near-duplicates: pairs with cosine ≥ threshold, candidates
    * restricted to equal random-hyperplane LSH buckets (collision prob.
    * for cosine ≥ 0.95 with 8 planes ≈ (1 - 0.102)^8 ≈ 0.42 per table;
    * production would multi-probe — the bucket-join shape is the point). */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 8, dim: Int = 64, threshold: Double = 0.95): DataFrame = {
    // non-nullable bucket for the same reason as [[simHashDup]]'s sig:
    // otherwise `isnotnull(lshsignatureexpr(v))` is inferred from the
    // join key and the signature dot-products run twice per row
    val sig = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        coalesce(VectorFunctions.lshSignature(col(vecCol), nPlanes, dim), lit(0L))
          .as("bucket"))
    val l = sig.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val r = sig.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus embeddings into coarse cells,
    * then within each cell drop every vector that has a LOWER-id
    * neighbor with cosine ≥ `threshold` — pairwise comparison happens
    * only inside a cell, so the candidate count is governed by the cell
    * size, not the corpus size.
    *
    * `centroids` is a small (cell, centroid) table — a deterministic
    * stub here (same contract as [[Similarity.ivfTopK]]: production
    * swaps in k-means centroids and nothing else changes). Plan shape
    * at 100 TB: centroids BROADCAST for the assignment (one narrow
    * pass + a max_by aggregate — no window sort over the nCells×N
    * intermediate), cells that outgrew `splitCellsOver` members are
    * re-clustered by [[splitOvergrownCells]] (linear nCells bounds the
    * MEAN cell, the split bounds the MAX — the skew the 10× bench curve
    * exposed), the in-cell self-join shuffles on the (split) cell id,
    * and the same pair-budget guard as [[ngramJaccardPairs]] fails
    * loudly BEFORE the cosine pass if any post-split cell still exceeds
    * `maxPairsPerCell` — that residue means nCells itself is too small
    * for the corpus, and the guard is what tells you when.
    *
    * @return (id, keeper_id, n_better, max_cosine) — one row per DROPPED
    *         vector: its canonical keeper (smallest qualifying lower id),
    *         how many lower-id near-dups it has, and the strongest
    *         similarity among them.
    */
  /** Nearest-centroid cell assignment shared by [[semanticDedup]] and
    * [[semanticCellVolume]]: broadcast centroids, one narrow pass, argmax
    * via a max_by partial aggregate (no window sort over the nCells×N
    * intermediate), deterministic smallest-cell tie-break — identical to
    * Similarity.ivfTopK's assignment (and the oracle's row_number
    * ORDER BY sim DESC, cell). Returns (id, cell, v). */
  private[operators] def assignCells(emb: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame): DataFrame =
    emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(centroids.select(col("cell"), col("centroid"))))
      .withColumn("sim", VectorFunctions.cosine(col("v"), col("centroid")))
      .groupBy(col("id"))
      .agg(max_by(col("cell"), struct(col("sim"), -col("cell"))).as("cell"),
        max_by(col("v"), struct(col("sim"), -col("cell"))).as("v"))

  /** Composite-cell stride for [[splitOvergrownCells]]: final cell id =
    * parent·2²⁰ + sub. 2²⁰ subcells per parent is far beyond any split
    * one recursion level produces, and parent·2²⁰ stays well inside a
    * Long for any realistic nCells (2⁴³ parents). */
  private[operators] val SplitBase: Long = 1L << 20

  /** Bound the LARGEST cell of a nearest-centroid assignment by one
    * recursion level of in-cell k-means — the dd9 scale fix. The linear
    * `suggestedCells` rule keeps the MEAN cell size constant as the
    * corpus grows, but not the max: on the bench's 10× corpus the
    * hottest cell grew 300 → 2,162 (≈ 2.3 M in-cell pairs) while the
    * mean stayed put, an in-cell pair exponent of 1.62 that would trip
    * `maxPairsPerCell` long before 100×. Splitting re-clusters exactly
    * the overgrown cells, so pair volume stays O(cellTarget²·nCells) by
    * construction instead of by hope.
    *
    * The sub-clustering runs on MEAN-CENTERED residuals, not the raw
    * vectors: a cell is overgrown precisely because its members share a
    * dominant direction (the 10× curve's hot cells are blobs whose
    * vectors all point ~at the cell centroid — raw cosine ties at ~1.0
    * across the whole blob and no Voronoi split can separate it; Lloyd
    * rounds on raw vectors moved the max subcell only 747 → 624 → 476).
    * Subtracting the per-cell mean removes exactly that shared
    * component, so the residual directions carry the members'
    * INTRA-cell diversity and the same cosine Voronoi machinery
    * separates them. A member whose residual is the all-zero vector
    * (exact duplicates of the cell mean — N identical vectors fold to
    * an exact mean in double), or a pivot whose residual is all-zero,
    * gets similarity pinned to −2.0 instead of the NaN a 0-norm cosine
    * would produce (NaN ordering is an engine-semantics trap; the
    * explicit pin is portable): zero-residual members collapse into the
    * smallest-sub pivot — they are genuinely identical, in-cell
    * pairwise on them is inherent — and zero-residual pivots never
    * attract non-zero members.
    *
    * Mechanics (every step deterministic and bit-replayed by the dd9
    * DuckDB oracle): cells with more than `splitOver` members get
    * `kc = ceil(members/target)` sub-centroids; the per-cell mean is
    * folded in DOUBLE over members in id order and rounded once to
    * FLOAT, residuals are the elementwise FLOAT subtraction v − μ;
    * sub-centroids initialize to the residuals of the kc members with
    * the smallest multiplicative-hash rank `(id·2654435761) mod
    * 1000003` (ties by id — the same hash-seeded init as
    * [[kmeansCentroids]]); `iters` Lloyd rounds follow (same cosine
    * argmax + smallest-sub tie-break as [[assignCells]] but over
    * residuals, means folded in DOUBLE over members in id order,
    * rounded once to FLOAT, starved subcells keep their previous
    * centroid); the final pass re-assigns the overgrown cells' members
    * to their cell's sub-centroids. Result keeps (id, cell, v) with
    * `cell = parent·SplitBase + sub` (sub = 0 for untouched cells) so
    * downstream in-cell self-joins are unchanged.
    *
    * Scale shape: the member set is only the overgrown cells (a small
    * fraction by construction), per-round state is the tiny
    * (cell, sub, centroid) table (localCheckpoint'd like
    * [[kmeansCentroids]] — constant plan growth per round), and both
    * the Lloyd rounds and the final re-assignment are broadcast joins
    * against that table — no corpus shuffle is added. One level
    * suffices at the measured 1.62 exponent; a subcell that STILL
    * exceeds the pair budget afterwards hits [[semanticDedup]]'s
    * fail-loud guard, which is the signal to raise nCells. */
  private[operators] def splitOvergrownCells(assigned: DataFrame,
      splitOver: Long, target: Long, iters: Int,
      dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    import org.apache.spark.sql.expressions.Window
    // Materialize the corpus assignment ONCE. The assignment is the
    // expensive pass (an O(N·nCells) broadcast cross + argmax), and an
    // unbroken lineage recomputes it for every consumer below — the
    // overgrown count, the members/mean/residual chain, the untouched
    // anti-join — and then AGAIN for each of the caller's branches
    // (pair-budget guard + both self-join sides): ~9 full passes for
    // dd9. Executor block storage for one (id, cell, v) row per vector
    // is the same speed-vs-resilience trade documented on [[clusters]];
    // multi-TB runs that must survive executor loss should stage the
    // assignment through a reliable checkpoint dir instead.
    val a = assigned.localCheckpoint()
    val overgrown = a.groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > splitOver)
      .select(col("cell"),
        ceil(col("cnt") / lit(target.toDouble)).cast("long").as("kc"))
      .localCheckpoint() // tiny: one row per overgrown cell
    // common-path short-circuit: with a well-sized nCells nothing is
    // overgrown, and the split must cost zero jobs beyond the (already
    // materialized) per-cell count above — not eight empty-input
    // mean/pivot/Lloyd/assign stages. `overgrown` is localCheckpoint'd,
    // so the emptiness probe is a local scan, not a recompute. The
    // composite-id contract (cell·SplitBase, sub = 0) is kept so the
    // output is bit-identical to the general path's untouched branch.
    if (overgrown.isEmpty)
      return a.select(col("id"),
        (col("cell") * lit(SplitBase)).as("cell"), col("v"))
    val members = a.join(broadcast(overgrown), Seq("cell"))
    // per-cell mean (DOUBLE fold in id order, one FLOAT rounding) and
    // mean-centered residuals; `rz` marks all-zero residuals so the
    // similarity pin below never consults NaN ordering
    val cellMean = members
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("id"), col("v")))).as("mem"))
      .select(col("cell"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (aggregate(col("mem"), lit(0.0d),
            (acc, m) => acc + get(m.getField("v"), j).cast("double"))
            / size(col("mem")).cast("double")).cast("float"))
          .as("mu"))
    // not checkpointed: its only consumer is the rmembers checkpoint
    // below, so it is evaluated exactly once (inside that job) — a
    // separate materialization would only add a job barrier
    // residual members feed the pivot init, every Lloyd round, AND the
    // final re-assignment (which itself is re-read by each caller
    // branch) — materialize once; bounded by the overgrown fraction
    val rmembers = members.join(broadcast(cellMean), Seq("cell"))
      .select(col("cell"), col("kc"), col("id"), col("v"),
        zip_with(col("v"), col("mu"), (a, b) => (a - b).cast("float")).as("rv"))
      .withColumn("rz", !exists(col("rv"), x => x =!= lit(0.0f)))
      .localCheckpoint()
    // hash-ranked pivot init: row_number per cell over the (shuffled)
    // overgrown members — a per-cell sort, bounded by the overgrown
    // fraction, never the corpus
    var subCents = rmembers
      .withColumn("r", pmod(col("id") * lit(2654435761L), lit(1000003L)))
      .withColumn("sub",
        (row_number().over(
          Window.partitionBy(col("cell")).orderBy(col("r"), col("id"))) - 1)
          .cast("long"))
      .filter(col("sub") < col("kc"))
      .select(col("cell"), col("sub"), col("rv").as("centroid"))
    // the init table is not checkpointed: the first Lloyd round
    // references it twice (assignment + starved-subcell keep) but both
    // references sit inside that round's own checkpoint job, and the
    // window is a cheap per-cell sort over the already-materialized
    // residual scan. With iters = 0 (no Lloyd round) the final
    // re-assignment is the single consumer, and each caller branch
    // would re-run the window — materialize only then.
    if (iters == 0) subCents = subCents.localCheckpoint()
    def assignSub(cents: DataFrame): DataFrame = rmembers
      .join(broadcast(cents), Seq("cell"))
      .withColumn("sim",
        when(col("rz") || !exists(col("centroid"), x => x =!= lit(0.0f)),
          lit(-2.0d))
          .otherwise(VectorFunctions.cosine(col("rv"), col("centroid"))))
      .groupBy(col("cell"), col("id"))
      .agg(max_by(col("sub"), struct(col("sim"), -col("sub"))).as("sub"),
        max_by(col("v"), struct(col("sim"), -col("sub"))).as("v"),
        max_by(col("rv"), struct(col("sim"), -col("sub"))).as("rv"))
    for (it <- 1 to iters) {
      val recomputed = assignSub(subCents)
        .groupBy(col("cell"), col("sub"))
        .agg(sort_array(collect_list(struct(col("id"), col("rv")))).as("mem"))
        .select(col("cell"), col("sub"),
          transform(sequence(lit(0), lit(dim - 1)), j =>
            (aggregate(col("mem"), lit(0.0d),
              (acc, m) => acc + get(m.getField("rv"), j).cast("double"))
              / size(col("mem")).cast("double")).cast("float"))
            .as("new_centroid"))
      val next = subCents.join(recomputed, Seq("cell", "sub"), "left")
        .select(col("cell"), col("sub"),
          coalesce(col("new_centroid"), col("centroid")).as("centroid"))
      // non-final rounds truncate (the previous table is referenced
      // twice per round — unbroken lineage doubles per round, the
      // ADVICE-r10 exponential-growth fix); the LAST round's table has
      // exactly ONE consumer — the final re-assignment below — so its
      // checkpoint job is a pure job boundary: fuse it into the final
      // assignment instead (r22 — same work, one fewer eager job; the
      // round's two references to the PREVIOUS table land inside one
      // job, exactly the pattern the init already uses).
      subCents = if (it < iters) next.localCheckpoint() else next
    }
    // untouched cells pass through on a broadcast ANTI join (narrow —
    // the corpus is not shuffled to learn it was not split); only the
    // overgrown members pay the re-assignment aggregation
    val untouched = a
      .join(broadcast(overgrown.select(col("cell"))), Seq("cell"), "left_anti")
      .select(col("id"), (col("cell") * lit(SplitBase)).as("cell"), col("v"))
    val reassigned = assignSub(subCents)
      .select(col("id"),
        (col("cell") * lit(SplitBase) + col("sub")).as("cell"), col("v"))
    untouched.union(reassigned)
  }

  /** Cell count for [[kmeansCentroids]]: grows LINEARLY with the corpus
    * (target ~`targetCellSize` vectors per cell, floor `minCells`), so
    * the in-cell pair count stays bounded as the corpus grows — the
    * guard in [[semanticDedup]] stops tripping by construction. */
  def suggestedCells(corpusSize: Long, targetCellSize: Long = 500L,
      minCells: Int = 8): Int =
    math.max(minCells, ((corpusSize + targetCellSize - 1) / targetCellSize).toInt)

  /** Deterministic sampled k-means for [[semanticDedup]] /
    * [[Similarity.ivfTopK]] centroids — corpus-derived, yet bit-exactly
    * replayable by a SQL oracle:
    *
    *  - SAMPLE: every `sampleMod`-th vector by id (a deterministic
    *    1/sampleMod systematic sample — no RNG state to replay);
    *  - INIT: the `nCells` sample vectors with the smallest
    *    multiplicative-hash rank `(id·2654435761) mod 1000003` (ties by
    *    id) — hash-seeded, order-independent, and a bounded-heap
    *    TakeOrdered of k rows, never a global sort;
    *  - ITERATE exactly `iters` times (fixed — an oracle cannot replay
    *    a convergence loop): assign each sample vector to its
    *    nearest-cosine centroid (same argmax + smallest-cell tie-break
    *    as [[assignCells]]), then recompute each non-empty cell's
    *    centroid as the arithmetic mean folded in DOUBLE over members
    *    in id order (float addition is order-sensitive; the ordered
    *    fold is what makes the mean engine-neutral) and rounded once to
    *    FLOAT.
    *
    * Scale shape: the sample is a narrow filtered scan; each iteration
    * broadcasts the (tiny) centroid table, shuffles only the sample on
    * the cell id, and reduces to nCells rows. The full corpus is never
    * touched until the final [[assignCells]] pass inside the consumer. */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, sampleMod: Int = 20, iters: Int = 2,
      dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    import org.apache.spark.sql.expressions.Window
    // the sample is MATERIALIZED once (r22): `id % sampleMod` cannot
    // push down to a parquet scan, so every consumer of an unbroken
    // lineage — the hash-ranked init plus EACH Lloyd iteration's
    // assignment — re-read and re-filtered the ENTIRE corpus (iters+1
    // full scans for a 1/sampleMod sample; at 100 TB that is the
    // trainer's dominant cost). One corpus scan now; the iterations
    // read the 1/sampleMod rows from executor block storage — the same
    // speed-vs-resilience trade documented on [[clusters]].
    val pts = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("id") % sampleMod === 0)
      .localCheckpoint()
    // hash-ranked init: TakeOrdered keeps nCells rows; the row_number
    // window then runs over those k rows only (single tiny partition)
    var cents = pts
      .withColumn("r", pmod(col("id") * lit(2654435761L), lit(1000003L)))
      .orderBy(col("r"), col("id")).limit(nCells)
      .select(
        (row_number().over(Window.orderBy(col("r"), col("id"))) - 1)
          .cast("long").as("cell"),
        col("v").as("centroid"))
    for (_ <- 1 to iters) {
      val assigned = assignCells(pts, "id", "v", cents)
      val recomputed = assigned
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("id"), col("v")))).as("mem"))
        .select(col("cell"),
          transform(sequence(lit(0), lit(dim - 1)), j =>
            (aggregate(col("mem"), lit(0.0d),
              (acc, m) => acc + get(m.getField("v"), j).cast("double"))
              / size(col("mem")).cast("double")).cast("float"))
            .as("new_centroid"))
      // a cell whose sample membership is empty keeps its previous
      // centroid instead of vanishing: dropping starved cells shrinks k
      // and silently breaks the cells-grow-with-N contract that keeps
      // [[semanticDedup]]'s in-cell pair volume bounded.
      //
      // Materialize the nCells-row table at EVERY iteration boundary,
      // not only after the loop: the starved-cell left join references
      // the previous `cents` twice (assignment path + keep path), so an
      // unbroken lineage doubles per round — exponential plan growth in
      // `iters` (ADVICE r10). Per-iteration truncation makes plan size
      // linear in `iters`; each checkpoint is a tiny k-row job. The
      // final table is then already materialized for the caller's many
      // branches (pair-budget guard, both self-join sides, broadcast
      // assignment).
      cents = cents.join(recomputed, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("new_centroid"), col("centroid")).as("centroid"))
        .localCheckpoint()
    }
    // iters >= 1 returns the last iteration's checkpoint; the
    // (degenerate) iters = 0 path still materializes the init table so
    // every caller gets the same "small fixed artifact" contract.
    if (iters >= 1) cents else cents.localCheckpoint()
  }

  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double = 0.95,
      maxPairsPerCell: Long = 10000000L, splitCellsOver: Long = 1000L,
      splitTarget: Long = 500L, splitIters: Int = 1,
      dim: Int = 64): DataFrame = {
    // overgrown cells (skew the linear-nCells rule cannot bound) are
    // split by one level of in-cell k-means BEFORE the pairwise pass;
    // the fail-loud budget guard then checks the cells actually joined.
    // The split output is materialized once: its three consumers — the
    // guard's volume count and BOTH sides of the in-cell self-join —
    // would otherwise each re-evaluate the untouched/reassigned
    // branches. Executor block storage for one (id, cell, v) row per
    // vector, the same speed-vs-resilience trade documented on
    // [[clusters]] and [[splitOvergrownCells]].
    val assigned = splitOvergrownCells(
      assignCells(emb, idCol, vecCol, centroids),
      splitCellsOver, splitTarget, splitIters, dim)
      .localCheckpoint()
    if (maxPairsPerCell < Long.MaxValue) {
      val vol = blockVolume(assigned, Seq("cell"))
      val worst = BigInt(vol.maxBlock) * (vol.maxBlock - 1) / 2
      if (worst > maxPairsPerCell)
        throw new IllegalArgumentException(
          s"semanticDedup: hottest cell (post-split) has ${vol.maxBlock} " +
            s"vectors = $worst pairs > budget $maxPairsPerCell " +
            s"(${vol.nBlocks} cells, ${vol.totalPairs} total pairs). " +
            "Raise nCells so cell size stays bounded as the corpus grows.")
    }
    val l = assigned.select(col("cell"), col("id").as("id_a"), col("v").as("v_a"))
    val r = assigned.select(col("cell"), col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("keeper_id"),
        count(lit(1)).as("n_better"),
        max(col("cosine")).as("max_cosine"))
  }

  /** Multi-probe variant of [[embeddingNearDup]]: one side additionally
    * probes every 1-bit-flip neighbor of its bucket, so a true pair is
    * found whenever the two signatures differ in AT MOST ONE plane —
    * with 8 planes and cosine ≥ 0.95 that lifts per-pair recall from
    * (1-q)⁸ ≈ 0.42 to (1-q)⁸ + 8q(1-q)⁷ ≈ 0.80 (q ≈ 0.102 flip prob.
    * per plane) for the cost of a constant explode factor nPlanes+1 on
    * ONE side — still a bucket equi-join, never n². Candidate pairs are
    * made distinct before the single cosine verify per pair (a hamming-1
    * pair is reachable through two probes). */
  def embeddingNearDupMultiProbe(emb: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 8, dim: Int = 64, threshold: Double = 0.95): DataFrame = {
    val sig = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        coalesce(VectorFunctions.lshSignature(col(vecCol), nPlanes, dim), lit(0L))
          .as("bucket"))
    // probe 0 = the exact bucket; probe p = bucket with plane p-1 flipped
    val probeBuckets = array((lit(0L) +: (0 until nPlanes).map(p => lit(1L << p)))
      .map(flip => col("bucket").bitwiseXOR(flip)): _*)
    val l = sig.select(explode(probeBuckets).as("bucket"), col("id").as("id_a"))
    val r = sig.select(col("bucket"), col("id").as("id_b"))
    val pairs = l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(sig.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-document content NOVELTY (the SlimPajama-style "how much of
    * this doc is new content" selection signal): the fraction of a
    * doc's distinct k-shingles whose FIRST corpus occurrence (minimum
    * doc id over every doc containing the shingle) is this doc.
    * Verbatim copies of earlier documents score 0, fresh content
    * scores 1, remixes land in between — the scalar complement of the
    * pairwise dedup family (dd1-dd11 ask "which docs repeat EACH
    * OTHER"; this asks "how much does each doc repeat the CORPUS").
    *
    * Scale shape: no join between corpus-sized shingle streams. The
    * novel-count needs no shingles-to-owner join at all — a shingle is
    * novel to exactly the doc that owns its minimum id, so
    * `min-by-shingle → count-by-owner` is a two-aggregate chain
    * (shuffle 1 keyed on the 8-byte shingle hash with a map-side
    * partial min, shuffle 2 keyed on the owner id; no exchange ever
    * carries text or arrays). The per-doc shingle count comes from the
    * narrow second scan, and the only corpus×corpus join is the final
    * id-keyed attach. Null/short texts have 0 shingles and novelty 0.
    *
    * @return (idCol, n_shingles, n_novel, novelty)
    */
  def shingleNovelty(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val base = docs.select(col(idCol),
      coalesce(shingleHashes(col(textCol), k),
        array().cast("array<long>")).as("__sh"))
    val novel = base
      .select(col(idCol), explode_outer(col("__sh")).as("__h"))
      .filter(col("__h").isNotNull)
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    base.select(col(idCol), size(col("__sh")).cast("long").as("n_shingles"))
      .join(novel, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_shingles") === 0L, lit(0.0))
          .otherwise(coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_shingles").cast("double")).as("novelty"))
  }
}
