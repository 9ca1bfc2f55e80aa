package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.operators.{Dedup, Similarity}

/** Deduplication: exact, MinHash-LSH, SimHash, perceptual, n-gram
  * Jaccard, substring, incremental and embedding dedup, plus the
  * block-volume canaries the bench reports (`blockedQueryVolumes*`,
  * `dd13RealisticVolume`, `dd14RealisticVolume`).
  *
  * The dedup corpora PLANT deterministic duplicates in-flight (union the
  * documents/embeddings tables with perturbed copies of themselves) so the
  * checks prove the operators actually find near-duplicates — the raw
  * synthetic tables contain none.
  */
object DedupQueries {

  import Corpora._
  import OracleSql._

  /** embeddings ∪ 0.5-scaled copies of every 20th vector (cosine-1 dups;
    * halving a float is exact, so direction is preserved bit-for-bit). */
  private def nearDupEmb(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    e.union(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        V.scale(col("embedding"), 0.5f).as("embedding")))
  }

  /** documents with an in-document repeat planted in every 5th doc: its
    * first 20 tokens are PREPENDED, so the original's opening two
    * 10-token passages recur at tile-aligned offsets 20 and 30 — the
    * within-doc boilerplate shape [[Dedup.selfDedupPassages]] strips. */
  private def selfRepDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val ts = split(col("text"), " ")
    docs.withColumn("text",
      when(col("doc_id") % 5 === 0,
        array_join(concat(slice(ts, 1, 20), ts), " "))
        .otherwise(col("text")))
  }

  /** The "new crawl" snapshot for incremental dedup: exact re-crawls of
    * every 10th doc (must drop at the gate) plus 4/5-token-prefix
    * truncations of the same docs (changed pages — must pass). */
  private def newCrawlDocs(s: SparkSession, d: String): DataFrame =
    newCrawlOf(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[newCrawlDocs]] over an arbitrary (doc_id, text) frame — shared
    * with the STREAMING ingest-gate row, which derives the same batch
    * from the documents table read through `readStream`. */
  private def newCrawlOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      .union(prefixTruncated(docs, mod = 10, idOffset = 2000000L))

  /** [[newCrawlDocs]] ∪ token-REVERSED pages of every 13th doc — the
    * dd14/pl7 ingest batch: exact re-crawls (Jaccard 1), changed pages
    * (4/5 prefix, Jaccard ≈ 0.8), and genuinely new content. Reversal
    * keeps every length/alpha/stopword statistic of a real document
    * (so the pl7 quality stage sees the corpus's ~47% Gopher keep
    * rate, not a degenerate all-fail batch of stubs) while replacing
    * essentially the whole 3-shingle set — novel content at full
    * document shape. */
  private[queries] def incrBatchDocs(s: SparkSession, d: String): DataFrame =
    incrBatchOf(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[incrBatchDocs]] over an arbitrary (doc_id, text) frame — the
    * derivation w14's streaming gate applies to the `readStream` read
    * of the same table (one rule, both execution paths). */
  private[graft] def incrBatchOf(docs: DataFrame): DataFrame =
    incrBatchKeeping(docs, Nil)

  /** [[incrBatchOf]] KEEPING per-doc metadata columns — pl10's
    * streaming curation derivation: the same three branches (exact
    * re-crawls of every 10th doc, 4/5-prefix changed pages, token-
    * reversed novel pages of every 13th), each derived row carrying
    * `extraCols` (source, arrival_ts) through unchanged. ONE definition
    * for both execution paths and both oracles. */
  private[graft] def incrBatchKeeping(docs: DataFrame,
      extraCols: Seq[String]): DataFrame = {
    val extras = extraCols.map(col)
    val exact = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id") +: col("text") +: extras: _*)
    val changed = prefixTruncated(docs, mod = 10, idOffset = 2000000L, extras)
    val novel = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id") +:
        array_join(reverse(split(col("text"), " ")), " ").as("text") +: extras: _*)
    exact.union(changed).union(novel)
  }

  /** `copies`-fold self-union of a (doc_id, text, …) corpus with id
    * offsets and a per-copy tag token appended to the text — copies are
    * near-identical but not identical, so signatures/shingles/lengths
    * shift the way a real 10× crawl's would (a verbatim union would
    * measure only the identical-content path). */
  private def scaleDocs(df: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { c =>
      if (c == 0) df
      else df.withColumn("doc_id", col("doc_id") + c * 10000000L)
        .withColumn("text", concat(col("text"), lit(s" c$c")))
    }.reduce(_ union _)

  /** `copies`-fold self-union of an embedding corpus with id offsets and
    * a copy-dependent single-dimension bump (pure scaling would preserve
    * direction and stack every copy into the same cells). */
  private def scaleEmb(df: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { c =>
      if (c == 0) df
      else df.select((col("vec_id") + c * 10000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + when(i === c % 64, lit(0.37f * c)).otherwise(lit(0.0f)))
            .cast("float")).as("embedding"))
    }.reduce(_ union _)

  /** A realistic SPARSE-duplication corpus for the scale curve:
    * `tenth = false` is a 1/10 SUBSAMPLE of documents, `tenth = true`
    * the full table — so the 10× corpus grows with genuinely NEW
    * content, unlike [[scaleDocs]]' perturbed self-union where every
    * doc gains copies−1 true near-duplicates (the dup-SATURATED stress
    * corpus whose inherent pair floor is quadratic in copies). Both
    * sizes plant 4/5-prefix copies of 1/64 of their base docs (~1.6%
    * dup rate at BOTH scales — the plant modulus compensates for the
    * subsample so the rate stays equal), the dup rate of a
    * lightly-curated real crawl.
    *
    * Each base doc's tokens are additionally SALTED with its doc id
    * (plants inherit the base salt, so true near-dup pairs keep their
    * full shingle overlap). This is vocabulary expansion, not rigging:
    * the synthetic corpus draws from a 31-word vocabulary, so
    * UNRELATED docs share 99% of distinct 3-grams (probed at sf0.1 —
    * 27,006 of 27,213 distinct 3-grams occur in ≥ 2 docs, and even
    * 7-grams are 4.7% cross-doc) and an unsalted curve measures the
    * corpus's template-phrase sharing, not the scheme (probed
    * exponents 1.4–3.2 REGARDLESS of shingle size). A real crawl's
    * vocabulary puts unrelated-doc shingle collisions near zero —
    * which is exactly what the salt reproduces. On this corpus a
    * banding/prefix scheme that is linear under sparse duplication
    * must show a pair-growth exponent ≈ 1; the saturated entries' 2.6+
    * exponents are their corpus's inherent pairs, and this pair of
    * measurements is the receipt. */
  private def realisticDocs(s: SparkSession, d: String,
      tenth: Boolean): DataFrame = {
    val base = realisticBase(s, d, tenth)
    base.union(
      prefixTruncated(base, mod = realisticPlantMod(tenth),
        idOffset = 1000000L))
  }

  /** The salted base docs of [[realisticDocs]] (no plants): subsample at
    * 1×, full table at 10×, every token salted with `doc_id +
    * saltOffset`. A non-zero `saltOffset` yields docs with full document
    * shape but a vocabulary DISJOINT from every saltOffset-0 doc — the
    * "genuinely novel content" ingredient of [[realisticIncrBatch]]. */
  private def realisticBase(s: SparkSession, d: String, tenth: Boolean,
      saltOffset: Long = 0L, idOffset: Long = 0L): DataFrame = {
    val all = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val base0 = if (tenth) all else all.filter(col("doc_id") % 10 === 0)
    base0.select((col("doc_id") + idOffset).as("doc_id"),
      array_join(transform(split(col("text"), " "),
        t => concat(t, lit("#"), col("doc_id") + saltOffset)), " ")
        .as("text"))
  }

  /** Plant modulus of [[realisticDocs]]: compensates for the 1× tenth
    * subsample so the planted-dup RATE (~1.6% of base) is equal at both
    * scales. */
  private def realisticPlantMod(tenth: Boolean): Int =
    if (tenth) 64 else 640

  /** The realistic sparse-dup corpus at a 100× decade: TEN re-salted
    * copies of the full table (copy c's tokens salt with a
    * copy-disjoint offset, so vocabularies never overlap across copies
    * and no cross-copy near-dup exists — growth stays honest), each
    * with its own ~1.6% planted prefix-truncation re-crawls (the same
    * plant modulus as 10×; the copy id offset is ≡ 0 mod 64, so the
    * plant RATE is exactly preserved). The third point of the
    * linearity claim's scale curve: 1× (tenth subsample) → 10× (full
    * table) → 100× (this). */
  private def realisticDocs100(s: SparkSession, d: String): DataFrame =
    (0 until 10).map { c =>
      val base = realisticBase(s, d, tenth = true,
        saltOffset = c * 10000000L, idOffset = c * 10000000L)
      base.union(prefixTruncated(base,
        mod = realisticPlantMod(tenth = true), idOffset = 1000000L))
    }.reduce(_ union _)

  /** [[realisticIncrBatch]] at the 100× decade — dd14's third curve
    * point: per copy c, the prior is that copy's salted base (see
    * [[realisticDocs100]]) and the batch is its ~1.6% planted
    * re-crawls (salt-inherited, so bands collide with the copy's OWN
    * prior only) plus re-salted novel docs (salt co+5e6 — disjoint
    * from every copy's base salt, which are multiples of 1e7, so
    * novel docs collide with nothing). Cross-copy band collisions
    * cannot occur (copy-disjoint vocabularies), so batch×prior
    * candidate growth stays proportional to true duplication. */
  private def realisticIncrBatch100(s: SparkSession, d: String): DataFrame =
    (0 until 10).map { c =>
      val co = c * 10000000L
      val base = realisticBase(s, d, tenth = true, saltOffset = co,
        idOffset = co)
      val novel = realisticBase(s, d, tenth = true,
        saltOffset = co + 5000000L, idOffset = co + 4000000L)
        .filter(col("doc_id") % 13 === 0)
      prefixTruncated(base, mod = realisticPlantMod(tenth = true),
        idOffset = 1000000L).union(novel)
    }.reduce(_ union _)

  /** [[realisticDocs100]]'s prior side alone (the salted bases of all
    * ten copies, no plants) — dd14-100×'s prior corpus. */
  private def realisticBase100(s: SparkSession, d: String): DataFrame =
    (0 until 10).map { c =>
      realisticBase(s, d, tenth = true, saltOffset = c * 10000000L,
        idOffset = c * 10000000L)
    }.reduce(_ union _)

  /** The embeddings table at a 100× decade for sim9's curve: ten
    * copies, copy c transformed by a SIGNED ROTATION — dimensions
    * cyclically shifted by 6c, then sign-flipped per dimension by bit
    * j of splitmix64(c) (copy 0 keeps the original vectors, so the
    * 100× corpus CONTAINS the 10× one). A hyperoctahedral rotation is
    * the vector-space analog of realisticDocs100's salt: intra-copy
    * structure is preserved EXACTLY (members transform identically;
    * reorder + ±1 multiply are lossless in IEEE754) while cross-copy
    * vectors land in independent hyperplane buckets. This corpus is
    * the probe that caught the plane-family defect: under the old
    * LINEAR Weyl planes the decade measured exponent 1.78 with the
    * hottest bucket up 61× — NO signed rotation or permutation fixed
    * it, because the collapse was signature-entropy saturation in the
    * hash itself (planes were windows of one sequence), not a corpus
    * artifact. With the quadratic-mix family the same corpus measures
    * ≈ 1.17 (see NativeVector.lshSignature). */
  private def embeddings100(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    def splitmix64(x0: Long): Long = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until 10).map { c =>
      val shifted = e.select((col("vec_id") + c * 10000000L).as("vec_id"),
        col("embedding"))
      if (c == 0) shifted
      else {
        val bits = splitmix64(c.toLong)
        val rot = (6 * c) % 64
        val rotated = concat(
          slice(col("embedding"), rot + 1, 64 - rot),
          slice(col("embedding"), 1, rot))
        val signs = (0 until 64).map(j =>
          if (((bits >>> j) & 1L) == 1L) -1.0f else 1.0f)
        shifted.select(col("vec_id"),
          zip_with(rotated, typedLit(signs), (x, sg) => x * sg)
            .as("embedding"))
      }
    }.reduce(_ union _)
  }

  /** The 100× volumes of the realistic canaries — the bench's third
    * scale-curve point: a 2-point curve shows a decade is linear, the
    * 3-point curve shows the EXPONENT is stable decade over decade,
    * which is the actual 100 TB claim (blocking volume ∝ corpus when
    * duplication is sparse). All five realistic rows carry it: the
    * headline banding/prefix pair (dd2/dd11), the substring skew and
    * incremental-fuzzy controls (dd13/dd14), and the kNN-graph bucket
    * join (sim9 — whose 100× point exposed and then certified the
    * plane-family fix; it now holds the standard 1.3 bound). The
    * saturated-corpus canaries' shapes stay pinned by their own 1×/10×
    * rules. */
  def realisticBlockedVolumes100(s: SparkSession, d: String)
      : Map[String, graft.operators.Dedup.BlockVolume] = {
    // the 10-copy salted derivation is the section's most expensive
    // scan — do it ONCE for the three canaries that share the corpus
    // (each Volume is an action, so the Map literal would otherwise
    // re-derive it per entry); spill-to-disk cache, dropped before
    // returning (the section runs under its own Try in the bench)
    val docs100 = realisticDocs100(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Map(
    "dd2_minhash_lsh_realistic" -> Dedup.minHashBandVolume(
      docs100, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8),
    "dd11_jaccard_prefix_realistic" -> Dedup.prefixJaccardVolume(
      docs100, "doc_id", "text",
      n = 3, threshold = 0.7),
    "dd13_substring_realistic" -> Dedup.substringAnchorVolume(
      docs100, "doc_id", "text", k = 10),
    "dd14_incremental_fuzzy_realistic" -> Dedup.incrementalBandVolume(
      realisticIncrBatch100(s, d), realisticBase100(s, d),
      "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8),
    "sim9_knn_graph_realistic" -> {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // plane count through the SAME production knob as the 1×/10×
      // entries: base scale = the 1× subsample, target = 10× the table
      val subCount = e.filter(col("vec_id") % 10 === 0).count()
      val n100 = 10L * e.count()
      Similarity.knnGraphBucketVolume(embeddings100(s, d),
        "vec_id", "embedding",
        nPlanes = Similarity.suggestedPlanes(n100, basePlanes = 8,
          baseCorpus = subCount),
        dim = 64, multiProbe = true)
    })
    finally docs100.unpersist(blocking = false)
  }

  /** dd14's realistic ingest batch against the [[realisticBase]] prior:
    * the planted 4/5-prefix re-crawls (~1.6% of prior, INHERITING their
    * source's salt so their minhash bands truly collide with the prior
    * index — a real crawl's changed-page fraction) plus novel docs (the
    * every-13th base doc RE-salted with a disjoint salt: full document
    * shape, zero shingle overlap with any prior doc — the
    * [[incrBatchOf]] reversal trick, salt-form). */
  private def realisticIncrBatch(s: SparkSession, d: String,
      tenth: Boolean): DataFrame = {
    val base = realisticBase(s, d, tenth)
    val novel = realisticBase(s, d, tenth, saltOffset = 5000000L,
      idOffset = 4000000L).filter(col("doc_id") % 13 === 0)
    prefixTruncated(base, mod = realisticPlantMod(tenth),
      idOffset = 1000000L).union(novel)
  }

  /** The blocked-pairwise queries' pair volumes at a given scale factor —
    * surfaced by the bench artifact so quadratic creep in any blocked
    * operator shows up in the JSON round-over-round, not only when
    * someone re-derives it. Single-sourced with the dd4 query's blocking
    * below. */
  def blockedQueryVolumes(s: SparkSession, d: String)
      : Map[String, graft.operators.Dedup.BlockVolume] =
    blockedQueryVolumesAt(s, d, copies = 1)

  /** [[blockedQueryVolumes]] over a `copies`× perturbed self-union of
    * each query's own corpus (copies = 1 IS the query corpus) — the
    * bench's empirical scale curve: measuring the same blocking at 1×
    * and 10× yields each query's pair-growth exponent, the number that
    * says whether the scheme survives a 100× corpus. */
  def blockedQueryVolumesAt(s: SparkSession, d: String, copies: Int)
      : Map[String, graft.operators.Dedup.BlockVolume] = Map(
    "dd4_ngram_jaccard" -> Dedup.blockVolume(
      scaleDocs(Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source")), copies)
        .withColumn("len_band",
          floor(length(col("text")) / 64).cast("long")),
      Seq("lang", "source", "len_band")),
    // dd11's prefix-shingle buckets (pre-size-prune, pre-distinct) on
    // its own corpus. Like dd2, the scaled self-union gives every doc
    // ~copies-1 true near-dup partners, so the inherent-pairs floor is
    // quadratic in `copies`; the scheme-creep signal is the HOTTEST
    // bucket staying bounded (a df-ordered prefix keeps corpus-wide
    // shingles out of every prefix, so no bucket tracks corpus size).
    "dd11_jaccard_prefix" -> Dedup.prefixJaccardVolume(
      scaleDocs(nearDupDocs(s, d), copies), "doc_id", "text",
      n = 3, threshold = 0.7),
    // Banded queries: candidate-pair volume of the band-bucket self-join
    // (pre-distinct), same corpora and parameters as dd2/dd3/dd9.
    "dd2_minhash_lsh" -> Dedup.minHashBandVolume(
      scaleDocs(nearDupDocs(s, d), copies), "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8),
    "dd3_simhash" -> Dedup.simHashBandVolume(
      scaleDocs(exactDupDocs(s, d), copies), "doc_id", "text", maxHamming = 3),
    // dd15's Manku tables over DISTINCT media signatures, its own corpus
    // scaled — same compaction-then-band shape as dd3, media modality.
    "dd15_phash_neardup" -> Dedup.perceptualBandVolume(
      scaleDocs(phashDocs(s, d), copies)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("media")),
      "doc_id", "media", maxHamming = 3),
    // pl9's per-frame Manku buckets over the SAME frame table the
    // rollup bands (pl9Frames single-sources it): frame_no multiplies
    // the bucket space, distinct (frame_no, sig) rows band once each —
    // the media-pipeline analog of dd15's sublinear curve.
    "pl9_frame_phash" -> Dedup.frameBandVolume(
      pl9Frames(pl9Media(scaleDocs(phashDocs(s, d), copies))),
      "doc_id", "frame_no", "frame", maxHamming = 3),
    "dd9_semantic_dedup" -> {
      val emb = scaleEmb(nearDupEmb(s, d), copies)
      Dedup.semanticCellVolume(emb, "vec_id", "embedding",
        dd9Centroids(emb), splitCellsOver = dd9SplitOver,
        splitTarget = dd9SplitTarget)
    },
    // dd13's anchor buckets: per-(fingerprint, length) k-gram window
    // population. Skew canary, not a comparison count — no pairwise
    // join runs over these buckets (the keyed window computes min/max
    // doc per key in one pass); the hottest bucket is the corpus's
    // most-repeated k-gram, i.e. the largest single-key window
    // partition the sort must handle.
    "dd13_substring" -> Dedup.substringAnchorVolume(
      scaleDocs(nearDupDocs(s, d), copies), "doc_id", "text", k = 10),
    // dd14's batch×prior band join, both sides scaled: the self-union
    // saturates totalPairs (each batch copy's source has ~copies true
    // near-copies in the prior — candidate growth IS the planted-pair
    // contract, the dd2 adjudication); maxBlock bounded is the
    // scheme-health signal.
    "dd14_incremental_fuzzy" -> Dedup.incrementalBandVolume(
      scaleDocs(incrBatchDocs(s, d), copies),
      scaleDocs(Tables.documents(s, d).select(col("doc_id"), col("text")),
        copies),
      "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8),
    // sim9's multiprobe bucket self-join: totalPairs includes the N
    // self-matches and saturates quadratically on the perturbed
    // self-union (copies of a vector share buckets by construction);
    // maxBlock — the hottest bucket's probe×member product — is the
    // health signal.
    "sim9_knn_graph" -> Similarity.knnGraphBucketVolume(
      scaleEmb(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding")), copies),
      "vec_id", "embedding", nPlanes = 8, dim = 64, multiProbe = true),
    // dd2/dd11 over the REALISTIC ~1.6%-dup-rate corpus (see
    // realisticDocs): 1× is the subsample, 10× the full table — the
    // receipt that banding/prefix filtering are linear when duplication
    // is sparse, i.e. that the saturated-corpus entries' 2.6+ exponents
    // above are the test corpus's inherent pairs, not scheme creep.
    "dd2_minhash_lsh_realistic" -> Dedup.minHashBandVolume(
      realisticDocs(s, d, tenth = copies > 1), "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8),
    "dd11_jaccard_prefix_realistic" -> Dedup.prefixJaccardVolume(
      realisticDocs(s, d, tenth = copies > 1), "doc_id", "text",
      n = 3, threshold = 0.7),
    // dd13 over the same realistic corpus — the control the saturated
    // dd13 row above lacks: with per-doc token salting, a k-gram is
    // cross-doc-shared only through TRUE duplication (the ~1.6% planted
    // prefix copies), so the anchor-bucket histogram must grow ~linearly
    // and the hottest (fp, ln) bucket must track the most-repeated
    // k-gram of a planted pair, not corpus size. The unsuffixed dd13's
    // 2.6+ exponent is then provably the 31-word corpus's inherent
    // template-phrase sharing, the same adjudication dd2/dd11 carry.
    "dd13_substring_realistic" -> dd13RealisticVolume(s, d, copies),
    // dd14 over the realistic corpus — the control the saturated dd14
    // row above lacks (the last dedup modality without one): prior =
    // the salted sparse-dup base, batch = the ~1.6% planted re-crawls
    // (salt-inherited, so their bands collide with their prior source)
    // plus re-salted novel docs (zero prior overlap). With both sides
    // growing 10x organically, band collisions grow only through true
    // duplication, so totalPairs must scale ~linearly and the hottest
    // (band, band_key) bucket stays a single planted pair's bands —
    // proving the unsuffixed dd14's 1.9+ exponent is the self-union's
    // planted-copy contract, not batch-side scheme creep.
    "dd14_incremental_fuzzy_realistic" -> dd14RealisticVolume(s, d, copies),
    // sim9 over ORGANIC corpus growth (1× = a 1/10 vec_id subsample,
    // 10× = the full table — genuinely new vectors, no replication)
    // with the production knob applied THROUGH THE API:
    // Similarity.suggestedPlanes grows the hyperplane count by ⌈log₂ g⌉
    // per growth factor g so bucket count tracks corpus size (here
    // 8 planes at 1× → 12 at 10×, 256 → 4096 buckets; base recall
    // tuned against the sim5-style audit). Measured exponent ≈ 1.01
    // at 1×→10× and 1.17 at 10×→100× (sf0.01); the small residual
    // above 1.0 is the multiprobe fanout (probes = nPlanes+1 grows
    // with the knob). HISTORY: this row used to measure ≈ 1.47 and
    // was rationalized as cluster structure — the 100× third point
    // falsified that (second decade 1.75+, hottest bucket 61×): the
    // real cause was the LINEAR Weyl plane family collapsing
    // signature entropy, fixed in NativeVector.lshSignature, after
    // which this bound tightened to the standard 1.3. The unsuffixed
    // sim9 row (fixed knob, perturbed self-union where copies share
    // buckets by construction) saturates by the planted-copy
    // contract, like dd2/dd11's unsuffixed rows.
    "sim9_knn_graph_realistic" -> {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val sub = e.filter(col("vec_id") % 10 === 0)
      val corpus = if (copies > 1) e else sub
      // base scale = the 1× subsample; both counts are 1-row aggregate
      // actions over a tiny id projection (model selection, like
      // dd9Centroids' corpus count)
      Similarity.knnGraphBucketVolume(corpus, "vec_id", "embedding",
        nPlanes = Similarity.suggestedPlanes(corpus.count(),
          basePlanes = 8, baseCorpus = sub.count()),
        dim = 64, multiProbe = true)
    })

  /** dd13's realistic-corpus anchor volume alone — single-sourced
    * between the [[blockedQueryVolumesAt]] canary map and the DedupSpec
    * exponent guard (which would otherwise have to compute every canary
    * twice just to read this one). */
  def dd13RealisticVolume(s: SparkSession, d: String,
      copies: Int): graft.operators.Dedup.BlockVolume =
    Dedup.substringAnchorVolume(
      realisticDocs(s, d, tenth = copies > 1), "doc_id", "text", k = 10)

  /** dd14's realistic-corpus batch×prior band volume — single-sourced
    * between the [[blockedQueryVolumesAt]] canary map and the DedupSpec
    * exponent guard, like [[dd13RealisticVolume]]. */
  def dd14RealisticVolume(s: SparkSession, d: String,
      copies: Int): graft.operators.Dedup.BlockVolume =
    Dedup.incrementalBandVolume(
      realisticIncrBatch(s, d, tenth = copies > 1),
      realisticBase(s, d, tenth = copies > 1),
      "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8)

  /** dd9's cell-split constants — tight enough that the overgrown-cell
    * split ([[Dedup.splitOvergrownCells]]) actually fires on the sf0.01
    * correctness corpus (525 vectors, 8 cells, hottest 74 members —
    * probed), so the DuckDB oracle verifies the split arithmetic
    * end-to-end every round instead of replaying dead CTEs (the library
    * defaults 1000/500 would only trigger at bench scale and the
    * sub-k-means would never be cross-engine-checked). Single-sourced
    * between the query, the block-volume canary, and the oracle SQL. */
  private val dd9SplitOver = 60L
  private val dd9SplitTarget = 40L

  /** dd9's corpus-derived centroids — deterministic sampled k-means with
    * nCells growing linearly in corpus size (single-sourced between the
    * query, the block-volume canary, and the oracle SQL below). The
    * corpus count is a 1-row aggregate action; nCells must be a literal
    * for the init's bounded-heap TakeOrdered. */
  private def dd9Centroids(emb: DataFrame): DataFrame = {
    val n = emb.filter(col("embedding").isNotNull).count()
    Dedup.kmeansCentroids(emb, "vec_id", "embedding",
      Dedup.suggestedCells(n), sampleMod = 20, iters = 2)
  }

  lazy val queries: Seq[Query] = Seq(
    // Keyed on (fingerprint64, length), not the raw text: the dedup
    // shuffle carries 16 bytes/row — the formulation that holds at
    // 100 TB. The 64-bit key makes collisions negligible, so the oracle
    // groups by the text itself and the hashed plan must match it.
    Query("dd1_exact_dedup", (s, d) =>
      Dedup.exact(exactDupDocs(s, d),
        struct(T.fingerprint64(col("text")), length(col("text"))), col("doc_id"))
        .select(col("keeper_id"), col("n_copies")),
      s"""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
         |FROM ($exactDupDocsSql) GROUP BY text""".stripMargin),

    Query("dd2_minhash_lsh", (s, d) =>
      Dedup.minHashLsh(nearDupDocs(s, d), "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5),
      dd2Sql),

    // Sub-document dedup: consecutive 10-token passages, duplicated
    // content reported with its keeper doc. Same 16-byte-key shuffle
    // discipline as dd1, with the passage explode as a generator.
    Query("dd8_passage_dedup", (s, d) =>
      Dedup.passageExactDedup(exactDupDocs(s, d), "doc_id", "text",
        passageTokens = 10),
      s"""WITH cand AS ($exactDupDocsSql),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM cand),
         |pas AS (SELECT doc_id, unnest(list_transform(range(len(tk) // 10),
         |  i -> array_to_string(list_slice(tk, i*10 + 1, i*10 + 10), ' '))) AS passage
         |  FROM toks)
         |SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies
         |FROM pas GROUP BY passage HAVING count(*) >= 2""".stripMargin),

    // Overlapping-window variant (stride 5 < passage 10): catches
    // repeated spans whose offsets agree mod 5 (tiling needs mod 10;
    // stride 1 = full shingling = every alignment) — the dial between
    // explode cost and alignment coverage.
    Query("dd10_passage_overlap", (s, d) =>
      Dedup.passageExactDedup(exactDupDocs(s, d), "doc_id", "text",
        passageTokens = 10, stride = 5),
      s"""WITH cand AS ($exactDupDocsSql),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM cand),
         |pas AS (SELECT doc_id, unnest(list_transform(range(1 + (len(tk) - 10) // 5),
         |  i -> array_to_string(list_slice(tk, i*5 + 1, i*5 + 10), ' '))) AS passage
         |  FROM toks WHERE len(tk) >= 10)
         |SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies
         |FROM pas GROUP BY passage HAVING count(*) >= 2""".stripMargin),

    Query("dd3_simhash", (s, d) =>
      Dedup.simHashDup(exactDupDocs(s, d), "doc_id", "text", maxHamming = 3),
      s"""WITH cand AS ($exactDupDocsSql),
         |sig AS (SELECT doc_id AS id, ${simhash("text")} AS sig FROM cand),
         |chunked AS (
         |  SELECT id, sig, t.c AS chunk,
         |    (sig // (CAST(1 AS BIGINT) << (CAST(t.c AS INT) * 16))) & 65535 AS chunk_key
         |  FROM sig CROSS JOIN range(4) AS t(c)),
         |pairs AS (
         |  SELECT DISTINCT l.id AS doc_a, r.id AS doc_b,
         |    CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
         |  FROM chunked l JOIN chunked r
         |    ON l.chunk = r.chunk AND l.chunk_key = r.chunk_key AND l.id < r.id)
         |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin),

    // Perceptual near-dup for the MULTIMODAL column (the pHash/banding
    // pass a frontier multimodal pipeline runs after text dedup): media
    // bytes → 61-bit average-hash → Manku banding → hamming ≤ 3 pairs.
    // The planted same-length byte perturbations land at hamming 0-5
    // (probed: most ≤ 1), unrelated docs ≥ ~11, so the threshold
    // separates cleanly; the oracle replays the hash byte-for-byte over
    // hex(blob) and verifies via the UNFILTERED n² form — a hash match
    // proves the banded result IS the brute force (the dd11 discipline).
    Query("dd15_phash_neardup", (s, d) =>
      Dedup.perceptualHashDup(
        phashDocs(s, d).select(col("doc_id"),
          encode(col("text"), "utf-8").as("media")),
        "doc_id", "media", maxHamming = 3),
      // dd15: NativeText.aHash61 replayed byte-for-byte over hex(blob)
      // (pure integer pooling), then the UNFILTERED n² verify — a hash
      // match proves the banded operator result IS the brute force (the
      // dd11 oracle discipline; the banding is pigeonhole-lossless).
      s"""WITH cand AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000, upper(substr(text, 1, 1)) || substr(text, 2)
         |  FROM documents WHERE doc_id % 16 = 0),
         |hx0 AS (SELECT doc_id AS id, hex(CAST(text AS BLOB)) AS hx
         |  FROM cand WHERE text IS NOT NULL),
         |bs0 AS (
         |  SELECT id, len(hx)//2 AS n,
         |    list_transform(range(len(hx)//2), i ->
         |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
         |      + strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS bs
         |  FROM hx0),
         |cl AS (
         |  SELECT id, list_transform(range(61), j ->
         |      CASE WHEN ((j+1)*n)//61 > (j*n)//61
         |        THEN list_sum(bs[CAST((j*n)//61 AS INT)+1 : CAST(((j+1)*n)//61 AS INT)])
         |             // (((j+1)*n)//61 - (j*n)//61)
         |        ELSE 0 END) AS cells
         |  FROM bs0),
         |sig AS (
         |  SELECT id, CAST(list_sum(list_transform(range(61), j ->
         |      CASE WHEN cells[CAST(j AS INT)+1] > list_sum(cells) // 61
         |        THEN CAST(1 AS BIGINT) << CAST(j AS INT)
         |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
         |  FROM cl)
         |SELECT l.id AS doc_a, r.id AS doc_b,
         |  CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
         |FROM sig l JOIN sig r ON l.id < r.id
         |WHERE bit_count(xor(l.sig, r.sig)) <= 3""".stripMargin),

    // Near-dup pairs → connected components → canonical keeper per
    // cluster (min doc id) — the keep/drop decision step.
    Query("dd6_dedup_clusters", (s, d) =>
      Dedup.clusters(
        Dedup.minHashLsh(nearDupDocs(s, d), "doc_id", "text",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5),
        "doc_a", "doc_b"),
      s"""WITH RECURSIVE p AS (
         |$dd2Sql
         |),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(n, m) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.m FROM reach r JOIN edges e ON e.b = r.n)
         |SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY n""".stripMargin),

    // Blocking includes a 64-char length band: (lang, source) alone has
    // CONSTANT cardinality (~100), so in-block pairs grow as (N/100)² —
    // the band multiplies the block count by the length spread and keeps
    // the hottest block ~8× smaller at sf0.1. The pair-budget guard in
    // ngramJaccardPairs fails loudly if a future corpus outgrows even
    // the banded scheme.
    Query("dd4_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d).withColumn("len_band",
          floor(length(col("text")) / 64).cast("long")),
        "doc_id", "text",
        blockCols = Seq("lang", "source", "len_band"), n = 3,
        threshold = 0.01),
      s"""WITH sh AS (SELECT lang, source, length(text) // 64 AS len_band,
         |  doc_id AS id, ${sh3("text")} AS shs FROM documents)
         |SELECT l.lang, l.source, l.len_band, l.id AS doc_a, r.id AS doc_b,
         |  ${jac("l.shs", "r.shs")} AS jaccard
         |FROM sh l JOIN sh r
         |  ON l.lang = r.lang AND l.source = r.source
         |  AND l.len_band = r.len_band AND l.id < r.id
         |WHERE ${jac("l.shs", "r.shs")} >= 0.01""".stripMargin),

    // The UNBLOCKED exact-Jaccard path: prefix filtering (rarest
    // (1-t)·|shingles|+1 shingles per doc in global df order) generates
    // the candidates, one exact verify per pair. Lossless by the prefix
    // theorem, so the oracle is the brute-force n² join — the check
    // proves the filter drops nothing, not merely that DuckDB replays it.
    Query("dd11_jaccard_prefix", (s, d) =>
      Dedup.prefixJaccardPairs(nearDupDocs(s, d), "doc_id", "text",
        n = 3, threshold = 0.7),
      // Deliberately the UNFILTERED n² form: dd11's prefix filter is
      // claimed lossless, so the oracle must not replay the filter — a
      // hash match here proves the filtered result IS the brute force.
      s"""WITH cand AS ($nearDupDocsSql),
         |sh AS (SELECT doc_id AS id, ${sh3("text")} AS shs FROM cand
         |  WHERE text IS NOT NULL)
         |SELECT l.id AS doc_a, r.id AS doc_b, ${jac("l.shs", "r.shs")} AS jaccard
         |FROM sh l JOIN sh r ON l.id < r.id
         |WHERE ${jac("l.shs", "r.shs")} >= 0.7""".stripMargin),

    // Incremental crawl ingest: only genuinely-new content passes the
    // gate — exact re-crawls of prior docs drop, changed pages pass.
    // The anti-join shuffles the 16-byte content key, never the prior
    // text; the oracle anti-joins the raw text.
    Query("dd12_incremental", (s, d) =>
      Dedup.incrementalNew(newCrawlDocs(s, d),
          Tables.documents(s, d).select(col("text")), "text")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars")),
      // Raw-text anti join; the 16-byte-key plan must reproduce it.
      s"""WITH newc AS (
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, $prefixTextSql AS text
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT n.doc_id, CAST(length(n.text) AS BIGINT) AS n_chars
        |FROM newc n WHERE NOT EXISTS (
        |  SELECT 1 FROM documents p WHERE p.text = n.text)""".stripMargin),

    // Fuzzy incremental ingest — dd12's near-dup complement (dd12 lets
    // a one-word-changed page through; this gate stops it): exact
    // re-crawls verify at Jaccard 1, changed pages (4/5 prefix) at
    // ≈ 0.8, genuinely new pages keep. Banding is replayed bit-exactly
    // by the oracle, so the candidate set (including any truncation
    // LSH happens to miss — the banding recall contract) agrees
    // cross-engine by construction.
    Query("dd14_incremental_fuzzy", (s, d) =>
      Dedup.incrementalMinHash(incrBatchDocs(s, d),
        Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5),
      // The fuzzy ingest gate replayed: batch ∪ prior banded through the
      // shared MinHash CTE machinery, distinct candidate (bid, pid)
      // pairs, one exact-Jaccard verify per pair, best match by
      // (jaccard DESC, pid) — then every batch doc left-joins its match.
      dd14Sql),

    // dd14 through the ACTUAL streaming execution path: the ingest
    // batch derived (same incrBatchOf rule) from the documents table
    // read via readStream, gated against the static prior through two
    // stream-static joins + one streaming argmax aggregation
    // (StreamingRun.ingestGate has the plan story). Identical oracle
    // to dd14 — the streaming and batch gates must agree verdict for
    // verdict, bit for bit.
    Query("w14_streaming_ingest_gate", (s, d) => {
      val batch = incrBatchOf(
        graft.streaming.StreamingRun.tableStream(s, d, "documents")
          .select(col("doc_id"), col("text")))
      graft.streaming.StreamingRun.ingestGate(s, batch,
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
        threshold = 0.5)
    },
      // The streaming gate must agree with the batch gate verdict for
      // verdict — same oracle, literally.
      dd14Sql),

    // Exact cross-document substring dedup (Lee et al. 2022
    // ExactSubstr): every maximal ≥10-token span shared verbatim with
    // another doc, per doc, as 1-based token positions. On the planted
    // near-dup corpus each 80%-prefix copy's ENTIRE text and the
    // matching prefix of its original must surface as one maximal span
    // each. The oracle replays the window-coverage definition over RAW
    // window text; the hash match proves the 16-byte-key plan drops
    // nothing.
    Query("dd13_substring", (s, d) =>
      Dedup.exactSubstringSpans(nearDupDocs(s, d), "doc_id", "text",
        k = 10),
      // The window-coverage definition over RAW k-gram text (no hashing):
      // duplicated-start positions are those whose 10-token window occurs
      // in ≥ 2 distinct docs; gaps-and-islands merges starts ≤ 10 apart
      // (contiguous coverage) into maximal spans. DuckDB list slicing is
      // 1-based end-INCLUSIVE, matching the operator's 1-based positions.
      s"""WITH src AS ($nearDupDocsSql),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM src
         |  WHERE text IS NOT NULL),
         |kg0 AS (SELECT doc_id, ts,
         |    unnest(range(1, len(ts) - 10 + 2)) AS pos
         |  FROM tok WHERE len(ts) >= 10),
         |kg AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(ts[pos:pos+9], ' ') AS g FROM kg0),
         |dup AS (SELECT doc_id, pos FROM kg WHERE g IN (
         |  SELECT g FROM kg GROUP BY g HAVING min(doc_id) <> max(doc_id))),
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |      > 10 THEN 1 ELSE 0 END AS brk
         |  FROM dup),
         |num AS (SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM isl)
         |SELECT doc_id, min(pos) AS span_start,
         |  CAST(max(pos) + 9 AS BIGINT) AS span_end,
         |  CAST(max(pos) + 10 - min(pos) AS BIGINT) AS n_span_tokens
         |FROM num GROUP BY doc_id, sid""".stripMargin),

    // Within-document passage self-dedup (boilerplate stripping): the
    // planted prepended-prefix docs lose exactly their two repeated
    // opening passages; untouched docs pass through byte-identical.
    Query("x20_self_dedup", (s, d) =>
      Dedup.selfDedupPassages(selfRepDocs(s, d), "doc_id", "text",
        passageTokens = 10),
      // The self-dedup fold restated as an indexed list_filter (DuckDB
      // lambda index i is 1-BASED where Spark's is 0-based — earlier
      // passages are list_slice(passages, 1, i - 1)).
      """WITH src AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN array_to_string(
        |    list_concat(list_slice(string_split(text, ' '), 1, 20), string_split(text, ' ')), ' ')
        |  ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM src),
        |ps AS (SELECT doc_id, tk, list_transform(range(len(tk) // 10), i ->
        |    array_to_string(list_slice(tk, i*10 + 1, i*10 + 10), ' ')) AS passages FROM t),
        |kp AS (SELECT doc_id, tk, passages,
        |  list_filter(passages, (s, i) ->
        |    coalesce(list_position(list_slice(passages, 1, i - 1), s), 0) = 0) AS kept
        |  FROM ps),
        |fin AS (SELECT doc_id,
        |  CASE WHEN len(tk) > (len(tk) // 10) * 10
        |    THEN list_append(kept, array_to_string(list_slice(tk, (len(tk) // 10) * 10 + 1, len(tk)), ' '))
        |    ELSE kept END AS parts,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(len(passages) - len(kept) AS BIGINT) AS n_dropped
        |  FROM kp)
        |SELECT doc_id, array_to_string(parts, ' ') AS clean_text, n_kept, n_dropped
        |FROM fin""".stripMargin),

    Query("dd5_embedding_neardup", (s, d) =>
      Dedup.embeddingNearDup(nearDupEmb(s, d), "vec_id", "embedding",
        nPlanes = 8, dim = 64, threshold = 0.95),
      s"""WITH cand AS ($nearDupEmbSql),
         |sig AS (SELECT vec_id AS id, embedding AS v, ${bucket("embedding")} AS bucket FROM cand)
         |SELECT l.id AS id_a, r.id AS id_b, ${cos("l.v", "r.v")} AS cosine
         |FROM sig l JOIN sig r ON l.bucket = r.bucket AND l.id < r.id
         |WHERE ${cos("l.v", "r.v")} >= 0.95""".stripMargin),

    // dd5 with 1-bit-flip multi-probe: recovers the near-dup pairs whose
    // signatures differ in exactly one plane (≈ doubles per-pair recall
    // at 8 planes) — the production knob for LSH's recall/cost trade.
    Query("dd7_embedding_multiprobe", (s, d) =>
      Dedup.embeddingNearDupMultiProbe(nearDupEmb(s, d), "vec_id", "embedding",
        nPlanes = 8, dim = 64, threshold = 0.95),
      s"""WITH cand AS ($nearDupEmbSql),
         |sig AS (SELECT vec_id AS id, embedding AS v, ${bucket("embedding")} AS bucket FROM cand)
         |SELECT l.id AS id_a, r.id AS id_b, ${cos("l.v", "r.v")} AS cosine
         |FROM sig l JOIN sig r
         |  ON bit_count(xor(l.bucket, r.bucket)) <= 1 AND l.id < r.id
         |WHERE ${cos("l.v", "r.v")} >= 0.95""".stripMargin),

    // SemDeDup: corpus-derived coarse cells (deterministic sampled
    // k-means, hash-seeded init, fixed iterations — bit-replayed by the
    // DuckDB oracle), then in-cell pairwise cosine ≥ 0.95 → one row per
    // dropped vector with its keeper. nCells grows linearly with the
    // corpus (Dedup.suggestedCells) bounding the MEAN cell; cells that
    // still outgrow dd9SplitOver members are re-clustered by one level
    // of in-cell k-means (Dedup.splitOvergrownCells — also replayed by
    // the oracle) bounding the MAX, so the in-cell pair volume survives
    // skew, not just growth.
    Query("dd9_semantic_dedup", (s, d) => {
      val emb = nearDupEmb(s, d)
      Dedup.semanticDedup(emb, "vec_id", "embedding", dd9Centroids(emb),
        threshold = 0.95, splitCellsOver = dd9SplitOver,
        splitTarget = dd9SplitTarget)
        .select(col("id").as("vec_id"), col("keeper_id"),
          col("n_better"), col("max_cosine"))
    },
      s"""WITH cand AS ($nearDupEmbSql),
         |${kmeansSql(iters = 2)},
         |asg AS (SELECT id, v, cell FROM (
         |  SELECT e.vec_id AS id, e.embedding AS v, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
         |  FROM cand e CROSS JOIN cents c) WHERE rn = 1),
         |${cellSplitSql(dd9SplitOver, dd9SplitTarget)},
         |pairs AS (
         |  SELECT l.id AS id_a, r.id AS id_b, ${cos("l.v", "r.v")} AS cosine
         |  FROM splitasg l JOIN splitasg r ON l.cell = r.cell AND l.id < r.id
         |  WHERE ${cos("l.v", "r.v")} >= 0.95)
         |SELECT id_b AS vec_id, CAST(min(id_a) AS BIGINT) AS keeper_id,
         |  CAST(count(*) AS BIGINT) AS n_better, max(cosine) AS max_cosine
         |FROM pairs GROUP BY id_b""".stripMargin)
  )

  /** dd14's oracle — also w14's verbatim: the streaming gate must
    * agree with the batch gate verdict for verdict, bit for bit. */
  private lazy val dd14Sql: String =
    s"""WITH $ingestBatchCte,
       |${gateCtes("batch")}
       |SELECT b.doc_id, best.pid IS NULL AS keep,
       |  best.pid AS dup_of, best.jaccard AS jaccard
       |FROM batch b LEFT JOIN best ON best.bid = b.doc_id""".stripMargin

  private val nearDupEmbSql =
    """SELECT vec_id, embedding FROM embeddings
      |UNION ALL
      |SELECT vec_id + 100000 AS vec_id,
      |  list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT)) AS embedding
      |FROM embeddings WHERE vec_id % 20 = 0""".stripMargin

  /** CTE chain bit-replaying [[Dedup.kmeansCentroids]] over a `cand`
    * CTE (vec_id, embedding): systematic 1/20 sample, hash-ranked init
    * of greatest(8, ceil(n/500)) centroids, `iters` fixed
    * assign+mean rounds. Means fold in DOUBLE over members in id order
    * then round once to FLOAT — the exact arithmetic of the Spark side.
    * Final centroid table is the CTE named `cents`. */
  private def kmeansSql(iters: Int = 2): String = {
    val pts =
      """pts AS (SELECT vec_id AS id, embedding AS v FROM cand
        |  WHERE vec_id % 20 = 0 AND embedding IS NOT NULL),
        |kk AS (SELECT greatest(8, CAST(ceil(count(*) / 500.0) AS BIGINT)) AS k
        |  FROM cand WHERE embedding IS NOT NULL),
        |cent0 AS (
        |  SELECT cell, centroid FROM (
        |    SELECT CAST(row_number() OVER (ORDER BY (id * 2654435761) % 1000003, id) - 1 AS BIGINT) AS cell,
        |      v AS centroid
        |    FROM pts) r CROSS JOIN kk WHERE r.cell < kk.k)""".stripMargin
    // a cell with empty sample membership keeps its previous centroid
    // (LEFT JOIN + coalesce), mirroring Dedup.kmeansCentroids — starved
    // cells must not shrink k
    val rounds = (1 to iters).map { i =>
      s"""asg$i AS (SELECT id, v, cell FROM (
         |  SELECT p.id, p.v, c.cell,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY ${cos("p.v", "c.centroid")} DESC, c.cell) AS rn
         |  FROM pts p CROSS JOIN cent${i - 1} c) WHERE rn = 1),
         |new$i AS (
         |  SELECT cell, list_transform(range(64), j ->
         |    CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(vs, e -> CAST(e[j+1] AS DOUBLE))), (a, b) -> a + b)
         |      / CAST(len(vs) AS DOUBLE) AS FLOAT)) AS centroid
         |  FROM (SELECT cell, array_agg(v ORDER BY id) AS vs FROM asg$i GROUP BY cell) g),
         |cent$i AS (
         |  SELECT p.cell, coalesce(n.centroid, p.centroid) AS centroid
         |  FROM cent${i - 1} p LEFT JOIN new$i n ON p.cell = n.cell)""".stripMargin
    }.mkString(",\n")
    s"$pts,\n$rounds,\ncents AS (SELECT cell, centroid FROM cent$iters)"
  }

  /** CTE chain bit-replaying [[Dedup.splitOvergrownCells]] over an `asg`
    * CTE (id, v, cell) with one Lloyd round (= the query's splitIters):
    * cells over `splitOver` members get ceil(members/target) hash-ranked
    * member pivots; the sub-clustering runs on MEAN-CENTERED residuals
    * (per-cell DOUBLE fold in id order rounded once to FLOAT, residual
    * = elementwise FLOAT v − μ) with all-zero residuals/pivots pinned
    * to similarity −2.0 (never NaN ordering); one assign+mean round
    * (same cosine argmax / smallest-sub tie-break / ordered-double-fold
    * mean as the outer k-means, over residuals), then a final
    * re-assignment; untouched cells pass through with sub 0. Final
    * table is the CTE `splitasg` (id, v, cell) with
    * cell = parent·2²⁰ + sub. */
  private def cellSplitSql(splitOver: Long, target: Long): String = {
    val rsim = s"""CASE WHEN m.rz OR len(list_filter(c.centroid, x -> x <> 0)) = 0
       THEN -2.0 ELSE ${cos("m.rv", "c.centroid")} END"""
    s"""scnt AS (SELECT cell, count(*) AS c FROM asg GROUP BY cell),
       |sov AS (SELECT cell, CAST(ceil(c / $target.0) AS BIGINT) AS kc
       |  FROM scnt WHERE c > $splitOver),
       |som AS (SELECT a.id, a.v, a.cell, o.kc
       |  FROM asg a JOIN sov o ON a.cell = o.cell),
       |smu AS (
       |  SELECT cell, list_transform(range(64), j ->
       |    CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(vs, e -> CAST(e[j+1] AS DOUBLE))), (a, b) -> a + b)
       |      / CAST(len(vs) AS DOUBLE) AS FLOAT)) AS mu
       |  FROM (SELECT cell, array_agg(v ORDER BY id) AS vs
       |        FROM som GROUP BY cell) g),
       |smr AS (SELECT m.id, m.v, m.cell, m.kc,
       |    list_transform(range(64), j -> CAST(m.v[j+1] - u.mu[j+1] AS FLOAT)) AS rv
       |  FROM som m JOIN smu u ON m.cell = u.cell),
       |smz AS (SELECT *, len(list_filter(rv, x -> x <> 0)) = 0 AS rz FROM smr),
       |sc0 AS (SELECT cell, sub, centroid FROM (
       |  SELECT cell, kc, rv AS centroid,
       |    CAST(row_number() OVER (PARTITION BY cell
       |      ORDER BY (id * 2654435761) % 1000003, id) - 1 AS BIGINT) AS sub
       |  FROM smz) r WHERE r.sub < r.kc),
       |sasg1 AS (SELECT cell, id, v, rv, rz, sub FROM (
       |  SELECT m.cell, m.id, m.v, m.rv, m.rz, c.sub,
       |    row_number() OVER (PARTITION BY m.cell, m.id
       |      ORDER BY ($rsim) DESC, c.sub) AS rn
       |  FROM smz m JOIN sc0 c ON m.cell = c.cell) WHERE rn = 1),
       |snew1 AS (
       |  SELECT cell, sub, list_transform(range(64), j ->
       |    CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(vs, e -> CAST(e[j+1] AS DOUBLE))), (a, b) -> a + b)
       |      / CAST(len(vs) AS DOUBLE) AS FLOAT)) AS centroid
       |  FROM (SELECT cell, sub, array_agg(rv ORDER BY id) AS vs
       |        FROM sasg1 GROUP BY cell, sub) g),
       |sc1 AS (SELECT p.cell, p.sub, coalesce(n.centroid, p.centroid) AS centroid
       |  FROM sc0 p LEFT JOIN snew1 n ON p.cell = n.cell AND p.sub = n.sub),
       |sfin AS (SELECT cell, id, v, sub FROM (
       |  SELECT m.cell, m.id, m.v, c.sub,
       |    row_number() OVER (PARTITION BY m.cell, m.id
       |      ORDER BY ($rsim) DESC, c.sub) AS rn
       |  FROM smz m JOIN sc1 c ON m.cell = c.cell) WHERE rn = 1),
       |splitasg AS (
       |  SELECT id, v, cell * 1048576 AS cell FROM asg
       |  WHERE cell NOT IN (SELECT cell FROM sov)
       |  UNION ALL
       |  SELECT id, v, cell * 1048576 + sub AS cell FROM sfin)""".stripMargin
  }
}
