package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Multimodal

/** Corpus builders shared by more than one query family: the planted
  * near-dup, exact-dup and perceptual corpora, the 4/5-prefix rule,
  * pl9's media and frames, and the sentence segmentation. A builder one
  * family uses lives in that family's file.
  */
private[queries] object Corpora {

  /** documents ∪ 80%-token-prefix copies of every 10th doc (near-dups). */
  def nearDupDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.union(prefixTruncated(docs, mod = 10, idOffset = 1000000L))
  }

  /** 4/5-token-prefix copies of every `mod`-th doc with an id offset —
    * the ONE truncation rule every planted near-dup / changed-page /
    * benchmark-item derivation shares. The oracle SQL spells the same
    * arithmetic once (`prefixTextSql`); change the two in lockstep or
    * the bit-exact compares break. A 1-token doc "truncates" to
    * itself (the greatest(...,1) floor), so derived corpora only plant
    * CHANGED pages for multi-token docs. */
  def prefixTruncated(docs: DataFrame, mod: Int,
      idOffset: Long, extras: Seq[Column] = Nil): DataFrame = {
    val ts = split(col("text"), " ")
    val nKeep = greatest(floor(size(ts) * 4 / 5), lit(1)).cast("int")
    docs.filter(col("doc_id") % mod === 0)
      .select((col("doc_id") + idOffset).as("doc_id") +:
        array_join(slice(ts, lit(1), nKeep), " ").as("text") +: extras: _*)
  }

  /** documents ∪ same-LENGTH single-byte-perturbed copies of every 16th
    * doc (first character uppercased, id +2,000,000) — the multimodal
    * near-dup corpus: when the text bytes stand in for media bytes
    * (the mm1-mm3 convention), a same-length byte substitution is the
    * "same image, re-encoded" analog (the average-pool cells shift by
    * 0-1 gray levels, so the planted pair's aHash hamming is small),
    * while a length change would misalign every pooling cell the way a
    * crop does. Oracle CTEs pin the identical derivation. */
  def phashDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.union(docs.filter(col("doc_id") % 16 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(upper(substring(col("text"), 1, 1)),
          expr("substring(text, 2)")).as("text")))
  }

  /** pl9's media corpus: a doc_id%4 quarter of [[phashDocs]] (the plant
    * offset 2,000,000 is ≡ 0 mod 4 and plant bases are every 16th doc,
    * so every planted perceptual pair survives the quarter intact) as
    * opaque binary — sized so the oracle's per-frame brute-force n²
    * verify stays tractable at sf0.1 while the pipeline still carries
    * hundreds of planted pairs. */
  def pl9Media(df: DataFrame): DataFrame =
    df.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("media"))

  /** pl9's frame table: stub decode RETAINING the bytes → every-2nd-
    * frame sampling (media riding the generator projection — no
    * id-keyed re-join of the binary column, so no exchange ever
    * carries media; PlanAuditSpec pins it) → stub per-frame bytes
    * (suffix slice), one row per (doc, sampled frame). Shared by the
    * pl9 query and its bench canary so the canary measures the frames
    * the rollup actually bands. The coalesce marks the frame bytes
    * non-nullable (media is non-null by decode's contract, so the
    * empty-bytes arm never fires) — without it the banding engine's
    * isnotnull(frame) filter would evaluate the substring copy a second
    * time per row. */
  def pl9Frames(mediaDf: DataFrame): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.decodeMetaWithMedia(mediaDf, "doc_id", "media"),
      "doc_id", stride = 2, keepCols = Seq("media"))
      .select(col("doc_id"), col("frame_no"),
        coalesce(
          Multimodal.stubFrameBytes(col("media"), col("frame_no")),
          lit(Array.empty[Byte])).as("frame"))

  /** documents ∪ identical copies of every 10th doc (exact dups). */
  def exactDupDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.union(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  /** A (doc_id, text) corpus re-segmented into "sentences" for the
    * sentence-boundary chunker: the corpus is single-line unpunctuated
    * text, so sentence boundaries derive from a CLOSED-FORM cycling
    * token-length pattern (lengths 5,9,7,3,11,4 — sentence i starts at
    * token offset `39·(i div 6) + pref(i mod 6)`). Pure integer
    * arithmetic on the real corpus tokens, so DuckDB replays the
    * segmentation exactly and the varying lengths genuinely exercise
    * the packer's boundary logic (a production caller would regex-split
    * on terminal punctuation instead). */
  def sentenced(src: DataFrame): DataFrame = {
    val docs = src.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val lensArr = array(senLens.map(lit): _*)
    val prefArr = array(senPref.map(lit): _*)
    def off(i: Column) =
      (lit(39) * floor(i / 6)).cast("int") +
        element_at(prefArr, pmod(i, lit(6)) + 1)
    // the token array is BOUND once per row (r22, the dd13/tokenPassages
    // lesson): HOF lambdas get no CSE, so referencing `split(text)`
    // directly inside the per-index `sent(i)` lambda re-ran the split
    // PER SENTENCE INDEX — O(tokens · tokens/3) per document. Bound,
    // the segmentation is one split + O(sentences) slices.
    val sents = graft.functions.TextFunctions.bind(split(col("text"), " "), ts => {
      val n = size(ts)
      def sent(i: Column) =
        when(off(i) < n,
          array_join(slice(ts, off(i) + 1,
            element_at(lensArr, pmod(i, lit(6)) + 1)), " "))
      val idxs = when(n > 0, sequence(lit(0), floor(n / 3).cast("int")))
        .otherwise(array().cast("array<int>"))
      filter(transform(idxs, i => sent(i)), x => x.isNotNull)
    })
    docs.select(col("doc_id"), sents.as("sentences"))
  }

  val senLens = Seq(5, 9, 7, 3, 11, 4)
  val senPref = Seq(0, 5, 14, 21, 24, 35)
}
