package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.operators.{Bpe, Chunker, Splits}

/** Tokenization, chunking and packing: BPE vocabulary, tokenization and
  * application, overlapping and sentence-packed chunks, token shards,
  * shuffled shards and sequence cuts.
  */
object TokenQueries {

  import Corpora._
  import OracleSql._

  /** The documents table, [[Corpora.sentenced]]. */
  private def sentencedDocs(s: SparkSession, d: String): DataFrame =
    sentenced(Tables.documents(s, d).select(col("doc_id"), col("text")))

  lazy val queries: Seq[Query] = Seq(
    // Fixed 200-char windows with 50-char overlap (stride 150): the
    // pre-tokenization chunking step. Pure generator explode — no
    // shuffle; the whole query is one narrow pass over the corpus.
    Query("ck1_chunk_overlap", (s, d) =>
      Chunker.fixedWindows(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", size = 200, stride = 150)
        .select(col("id").as("doc_id"), col("chunk_id"),
          col("chunk"), col("n_chars")),
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  substring(text, CAST(i*150 + 1 AS INT), 200) AS chunk,
        |  CAST(length(substring(text, CAST(i*150 + 1 AS INT), 200)) AS BIGINT) AS n_chars
        |FROM (SELECT doc_id, text, unnest(range((length(text) + 149) // 150)) AS i
        |      FROM documents WHERE length(text) > 0)""".stripMargin),

    // Sentence-boundary token-budget packing (the RAG-style chunker):
    // chunk boundaries fall between sentences at fixed token offsets
    // (floor(tokens-before / 24) — the stateless pk1 rule, never a
    // greedy sequential fold). The corpus has no punctuation, so the
    // sentence segmentation derives from a closed-form cycling length
    // pattern both engines replay exactly; the oracle states the packing
    // as the naive explode + group-by, which the array-local zero-shuffle
    // plan must reproduce bit-for-bit.
    Query("ck2_sentence_pack", (s, d) =>
      Chunker.sentencePack(sentencedDocs(s, d), "doc_id",
        col("sentences"), budget = 24)
        .select(col("id").as("doc_id"), col("chunk_id"), col("chunk"),
          col("n_tokens"), col("n_sentences")),
      // The packing restated as the naive explode + group-by; the
      // segmentation replays the closed-form cycling length pattern
      // (off(i) = 39*(i div 6) + pref[i mod 6], lens cycling 5,9,7,3,11,4).
      s"""WITH ${sentencePackSql("documents", 24)}
         |SELECT doc_id, chunk_id, chunk, n_tokens, n_sentences
         |FROM ck2chunks""".stripMargin),

    // Token-budget shard packing: shard = floor(cumulative tokens before
    // this doc / 2048). Semantics are a GLOBAL running sum; the plan is
    // the two-phase distributed prefix sum in Splits.tokenBudgetShards —
    // the only unpartitioned window runs over the tiny bucket-totals
    // table, never over document rows. The oracle states the naive
    // global-window form and this plan must reproduce it exactly.
    Query("pk1_token_shards", (s, d) =>
      Splits.tokenBudgetShards(
        Tables.documents(s, d),
        "doc_id", T.tokenCount(col("text")), capacity = 2048L, chunkDocs = 64L),
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2048
        |    AS BIGINT) AS shard
        |FROM t""".stripMargin),

    // Fixed-length sequence cutting — the pretraining packing map:
    // documents concatenate in id order, the stream cuts every 512
    // tokens, each (doc, sequence) overlap row carries the doc-local
    // token range. Same two-phase prefix sum as pk1 (the only
    // unpartitioned window is over bucket totals) + a narrow generator.
    Query("pk3_sequence_cuts", (s, d) =>
      Splits.sequenceCuts(
        Tables.documents(s, d),
        "doc_id", T.tokenCount(col("text")), seqLen = 512L, chunkDocs = 64L),
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |o AS (SELECT doc_id, n,
        |  CAST(sum(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS off
        |  FROM t)
        |SELECT doc_id, CAST(s AS BIGINT) AS seq_id,
        |  CAST(greatest(0, s*512 - off) + 1 AS BIGINT) AS tok_start,
        |  CAST(least(n - 1, (s+1)*512 - 1 - off) + 1 AS BIGINT) AS tok_end,
        |  CAST(least(n - 1, (s+1)*512 - 1 - off)
        |    - greatest(0, s*512 - off) + 1 AS BIGINT) AS n_seq_tokens
        |FROM o, UNNEST(range(off // 512, (off + n - 1) // 512 + 1)) AS u(s)
        |WHERE n > 0""".stripMargin),

    // Deterministic global corpus shuffle into training shards: shard =
    // salted content hash mod 16 ('#shuffle' channel, independent of
    // sp1/mx1's), pos_in_shard = rank under (hash, id) within the shard.
    // One shard-keyed exchange; the only sorts are per-shard, in
    // parallel — exactly the order each shard file is written in.
    Query("pk2_shuffle_shards", (s, d) =>
      Splits.shuffleShards(Tables.documents(s, d), "doc_id",
        on = col("text"), nShards = 16),
      s"""WITH t AS (SELECT doc_id, ${ph("text || '#shuffle'")} AS h FROM documents)
         |SELECT doc_id, h % 16 AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 16
         |    ORDER BY h, doc_id) AS BIGINT) AS pos_in_shard
         |FROM t""".stripMargin),

    // ---- BPE (learned tokenizer; graft.operators.Bpe) ----
    // Vocabulary induction over the corpus word histogram: one corpus
    // scan, then bpeMerges rounds of pair-count → argmax → merge, all on
    // the distinct-word table. The oracle replays every round as a
    // chained MATERIALIZED CTE — counts, tie-breaks, and the leftmost-
    // nonoverlapping merge fold are engine-neutral, so the learned
    // merge table matches bit-for-bit.
    Query("tk1_bpe_vocab", (s, d) => {
      import s.implicits._
      Bpe.learn(Tables.documents(s, d), "text", bpeMerges).merges
        .map(m => (m.mergeRank, m.leftSym, m.rightSym, m.merged, m.pairCount))
        .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
    },
      {
        val union = (1 to bpeMerges).map(k =>
          s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS left_sym, " +
            s"r AS right_sym, l || r AS merged, c AS pair_count FROM b$k")
          .mkString(" UNION ALL ")
        s"WITH ${bpeCtes(bpeMerges)}\nSELECT * FROM ($union)"
      }),

    // Tokenization with the learned model: per-word lookup through the
    // final word → symbols mapping (position-preserving explode + join
    // + ordered re-assembly). The oracle re-learns the same merges and
    // maps each document's words through the final histogram — the
    // bpe_text hash match pins the whole pipeline end-to-end.
    Query("tk2_bpe_tokenize", (s, d) => {
      val docs = Tables.documents(s, d)
      Bpe.tokenize(docs, "doc_id", "text",
        Bpe.learn(docs, "text", bpeMerges))
    },
      {
        val n = bpeMerges
        s"""WITH ${bpeCtes(n)},
           |words AS (
           |  SELECT doc_id, ws[i] AS word, i
           |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |       UNNEST(range(1, len(ws) + 1)) AS u(i)
           |  WHERE ws[i] <> ''),
           |tok AS (
           |  SELECT w.doc_id,
           |    array_to_string(list(r.sym ORDER BY w.i), ' ') AS bpe_text
           |  FROM words w JOIN r$n r ON r.word = w.word
           |  GROUP BY w.doc_id)
           |SELECT doc_id, bpe_text,
           |  CAST(len(string_split(bpe_text, ' ')) AS BIGINT) AS n_tokens
           |FROM tok""".stripMargin
      }),

    // The apply-only tokenizer: learn the model on the curated 'src0'
    // slice, tokenize the WHOLE corpus with it — the fixed-tokenizer
    // path of every production pipeline (train once, apply to each new
    // crawl). In-vocab words resolve through the model's lookup table;
    // OOV words replay the ranked merge list per DISTINCT word. The
    // oracle replays ALL words through the merge-rank fold — the hash
    // match therefore also proves lookup ≡ replay for in-vocab words.
    Query("tk3_bpe_apply", (s, d) => {
      val docs = Tables.documents(s, d)
      Bpe.applyModel(docs, "doc_id", "text",
        Bpe.learn(docs.filter(col("source") === "src0"), "text", bpeMerges))
    },
      // The fixed-tokenizer apply replayed: the model re-learns over the
      // 'src0' slice (bpeCtes with src = the filtered corpus), the ranked
      // merge list folds over EVERY distinct corpus word (init = the
      // char-split word prepended to the 'l r'-encoded merge strings —
      // symbols never contain spaces, so the two-token encoding is
      // lossless), and documents re-assemble in word order. Spark resolves
      // in-vocab words by lookup and replays only OOV — the hash match
      // proves lookup ≡ replay.
      {
        val n = bpeMerges
        val mergeUnion = (1 to n)
          .map(k => s"SELECT $k AS rk, l || ' ' || r AS lr FROM b$k")
          .mkString(" UNION ALL ")
        s"""WITH srcd AS MATERIALIZED (
           |  SELECT doc_id, text FROM documents WHERE source = 'src0'),
           |${bpeCtes(n, src = "srcd")},
           |mrg AS MATERIALIZED (
           |  SELECT list(lr ORDER BY rk) AS ms FROM ($mergeUnion)),
           |words AS (
           |  SELECT doc_id, ws[i] AS word, i
           |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |       UNNEST(range(1, len(ws) + 1)) AS u(i)
           |  WHERE ws[i] <> ''),
           |dsym AS MATERIALIZED (
           |  SELECT word, list_reduce(
           |    list_prepend(array_to_string(string_split(word, ''), ' '), ms),
           |    (acc, m) -> list_reduce(string_split(acc, ' '), (a2, x) -> CASE
           |      WHEN x = string_split(m, ' ')[2]
           |       AND (a2 = string_split(m, ' ')[1]
           |            OR ends_with(a2, ' ' || string_split(m, ' ')[1]))
           |      THEN a2 || x ELSE a2 || ' ' || x END)) AS sym
           |  FROM (SELECT DISTINCT word FROM words), mrg),
           |tok AS (
           |  SELECT w.doc_id,
           |    array_to_string(list(d.sym ORDER BY w.i), ' ') AS bpe_text
           |  FROM words w JOIN dsym d USING (word)
           |  GROUP BY w.doc_id)
           |SELECT doc_id, bpe_text,
           |  CAST(len(string_split(bpe_text, ' ')) AS BIGINT) AS n_tokens
           |FROM tok""".stripMargin
      })
  )
}
