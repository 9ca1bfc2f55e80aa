package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.StreamingRun.Protocol.{Budget, Drops}
import graft.functions.{TextFunctions => T}
import graft.operators.{Bpe, Chunker, Decontaminate, Dedup, GopherRules,
  Relevance, Similarity, Splits}

/** End-to-end curation pipelines, batch and streaming, that compose the
  * other families' operators; each is checked against one DuckDB replay
  * of the whole chain.
  */
object PipelineQueries {

  import Corpora._
  import DedupQueries.{incrBatchDocs, incrBatchKeeping}
  import SimilarityQueries.{hybridDenseRanked, hybridSparseRanked}
  import OracleSql._

  lazy val queries: Seq[Query] = Seq(
    // The full training-data preparation flow in ONE plan: normalize →
    // quality gate → exact dedup on the canonical fingerprint (keep the
    // smallest doc id) → benchmark decontamination → deterministic
    // split, reported as per-(lang, split) counts. Every stage is one of
    // this library's operators; Catalyst fuses the narrow stages into
    // shared scans, and the wide edges are exactly: one groupBy for the
    // dedup, one broadcast-probe + count agg for decontamination, one
    // final count agg — the 100 TB shape.
    Query("pl1_pipeline", (s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), norm.as("norm_text"))
        .filter(size(split(col("norm_text"), " ")) >= 5) // quality gate
      // Exact dedup keyed on (fingerprint64, length), NOT the raw text:
      // the dedup exchange carries 16 bytes/row instead of the document
      // — the shuffle that stays affordable at 100 TB. The key is the
      // full 64-bit xxhash64 (a ~2^30 poly hash collides at birthday
      // rate within ~46k same-length docs — silent false merges); with
      // 64 bits + length the collision odds are negligible, so the
      // oracle groups by the TEXT itself (the semantic truth) and the
      // hashed plan must reproduce it exactly.
      val keepers = docs
        .groupBy(T.fingerprint64(col("norm_text")).as("fp"),
          length(col("norm_text")).as("ln"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")) // canonical keeper per content
      // deduped fans out to THREE consumers (decontamination train +
      // bench sides, final join); materialize it once instead of
      // recomputing scan→normalize→dedup per branch — the single-DAG
      // analog of the stage boundary a production pipeline would
      // checkpoint at between dedup and decontamination.
      val deduped = docs.join(keepers, Seq("doc_id")).localCheckpoint()
      val flags = Decontaminate.shingleOverlap(
        deduped.filter(col("doc_id") % 97 =!= 0),
        deduped.filter(col("doc_id") % 97 === 0),
        "doc_id", "norm_text", k = 3, threshold = 0.5)
      deduped.join(flags.filter(!col("contaminated")).select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          Splits.assign(col("norm_text"), trainPct = 80, valPct = 10).as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
    },
      s"""WITH norm AS (
         |  SELECT doc_id, lang,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
         |      ' +', ' ', 'g')) AS nt
         |  FROM documents),
         |filt AS (SELECT * FROM norm WHERE len(string_split(nt, ' ')) >= 5),
         |keep AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY nt),
         |ded AS (SELECT f.* FROM filt f JOIN keep USING (doc_id)),
         |sh AS (SELECT doc_id, lang, nt, ${sh3("nt")} AS shs FROM ded),
         |bench AS (SELECT DISTINCT unnest(shs) AS h FROM sh WHERE doc_id % 97 = 0),
         |train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
         |ex AS (SELECT doc_id, unnest(shs) AS h FROM train),
         |ov AS (SELECT ex.doc_id, count(*) AS n_overlap
         |       FROM ex JOIN bench USING (h) GROUP BY ex.doc_id),
         |clean AS (
         |  SELECT t.doc_id, t.lang, t.nt FROM train t LEFT JOIN ov o USING (doc_id)
         |  WHERE NOT (coalesce(o.n_overlap, 0) * 2 > len(t.shs))),
         |asg AS (SELECT lang,
         |  CASE WHEN ${ph("nt")} % 100 < 80 THEN 'train'
         |       WHEN ${ph("nt")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split FROM clean)
         |SELECT lang, split, count(*) AS n_docs FROM asg GROUP BY 1, 2""".stripMargin),

    // Near-dup cluster keep/drop — the stage every production pipeline
    // ends with: pairwise near-dup detection (MinHash-LSH) → connected
    // components → a per-document keep/drop decision (keep each
    // cluster's minimum doc id; docs in no cluster keep themselves).
    // Plan shape at 100 TB: the pair list and the label propagation are
    // dd2/dd6's bounded band-bucket and doc-id shuffles; the decision
    // itself is ONE left join of the corpus against the label table —
    // which is proportional to the DUPLICATED subset, not the corpus —
    // followed by a narrow projection. clusters() is called at its
    // default maxIters = 50: that caps near-dup component DIAMETER, the
    // intended fail-loudly guard for LSH pair lists (a 50-hop dup chain
    // is pipeline pathology, not data).
    Query("pl2_cluster_keep", (s, d) => {
      val corpus = nearDupDocs(s, d)
      val labels = Dedup.clusters(
        Dedup.minHashLsh(corpus, "doc_id", "text",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
      corpus.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
            .as("kept"))
    },
      s"""$ccLabSql
         |SELECT c.doc_id,
         |  CAST(coalesce(l.cluster_id, c.doc_id) AS BIGINT) AS cluster_id,
         |  coalesce(l.cluster_id, c.doc_id) = c.doc_id AS kept
         |FROM corpus c LEFT JOIN lab l ON c.doc_id = l.doc_id""".stripMargin),

    // The round-13 curation pipeline: Gopher rule gate → temperature-
    // weighted language rebalance → fuzzy benchmark decontamination.
    // The gate is the expensive narrow stage (9 compiled n-gram passes
    // per row) and fans out to the mixture's count pass, its filter
    // side, and both decontamination consumers — localCheckpoint
    // materializes it once (the pl1 stage-boundary discipline).
    Query("pl3_curation", (s, d) => {
      val gated = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(GopherRules.keep(col("text")))
        .localCheckpoint()
      val sampled = Splits.temperatureMixture(gated, col("lang"),
        concat(col("text"), lit("#temp")), alpha = 0.5)
      val bench = prefixTruncated(Tables.documents(s, d), mod = 97,
        idOffset = 2000000L)
      val flags = Decontaminate.fuzzyLshOverlap(sampled, bench,
        "doc_id", "text", k = 3, numHashes = 32, bands = 8, threshold = 0.5)
      sampled.join(flags.filter(!col("contaminated")).select("doc_id"),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("rate_ppm"))
    },
      s"""WITH gop AS (
         |$x15Sql
         |),
         |kept AS (SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN gop ON d.doc_id = gop.doc_id WHERE gop.keep),
         |c AS (SELECT lang, count(*) AS n FROM kept
         |  WHERE lang IS NOT NULL GROUP BY 1),
         |m AS (SELECT min(n) AS nmin FROM c),
         |r AS (SELECT lang,
         |    CAST(floor(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS rate_ppm
         |  FROM c CROSS JOIN m),
         |sampled AS (SELECT k.doc_id, k.lang, k.text, r.rate_ppm
         |  FROM kept k JOIN r USING (lang)
         |  WHERE ${ph("k.text || '#temp'")} % 1000000 < r.rate_ppm),
         |bench AS ($fuzzyBenchSql),
         |${bandSql("b", "bench", "bid")},
         |${bandSql("t", "sampled", "doc_id")},
         |pairs AS (SELECT DISTINCT t.doc_id, b.bid, ${jac("t.shs", "b.shs")} AS j
         |  FROM tband t JOIN bband b ON t.band = b.band AND t.band_key = b.band_key),
         |hits AS (SELECT doc_id FROM pairs WHERE j >= 0.5 GROUP BY 1)
         |SELECT s.doc_id, s.lang, s.rate_ppm
         |FROM sampled s LEFT JOIN hits h USING (doc_id)
         |WHERE h.doc_id IS NULL""".stripMargin),

    // The RAG-ingest pipeline: sentence-segment -> boundary-aligned
    // chunk (ck2) -> corpus-wide exact chunk dedup (keep the first
    // occurrence) -> content-hash shard assignment. The dedup shuffle
    // carries only 8-byte values — (fingerprint64, length) key, owner
    // ids, token count, shard — never the chunk text (the dd8
    // discipline); the oracle groups the raw text, so a hash match
    // proves the 16-byte-key plan reproduces it. The corpus is the
    // planted near-dup union: prefix copies share chunk-aligned
    // prefixes, so cross-document duplicate chunks genuinely occur and
    // collapse to the original doc as keeper.
    Query("pl4_rag_ingest", (s, d) => {
      val chunks = Chunker.sentencePack(sentenced(nearDupDocs(s, d)),
        "doc_id", col("sentences"), budget = 24)
      chunks
        .groupBy(T.fingerprint64(col("chunk")).as("fp"),
          length(col("chunk")).as("ln"))
        .agg(min(struct(col("id"), col("chunk_id"))).as("o"),
          min(col("n_tokens")).as("n_tokens"),
          min(Splits.shard(col("chunk"), 8)).as("shard"))
        .select(col("o.id").as("doc_id"), col("o.chunk_id").as("chunk_id"),
          col("n_tokens"), col("shard"))
    },
      // ck2's chunks over the near-dup corpus, first occurrence per
      // distinct chunk text, content-hash shard — the oracle dedups on
      // the RAW text; the 16-byte-key plan must reproduce it.
      s"""WITH src AS ($nearDupDocsSql),
         |${sentencePackSql("src", 24)},
         |kept AS (SELECT doc_id, chunk_id, chunk, n_tokens,
         |  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_id) AS rn
         |  FROM ck2chunks)
         |SELECT doc_id, chunk_id, n_tokens, ${ph("chunk")} % 8 AS shard
         |FROM kept WHERE rn = 1""".stripMargin),

    // The tokenizer-training pipeline end-to-end: quality-gate (Gopher
    // battery) → exact dedup keep-first (content-key groupBy + join-back
    // so text never rides the content exchange — the dd8 discipline) →
    // learn BPE on the SURVIVORS (the merges differ from tk1's, since
    // the corpus does) → tokenize the survivors. The corpus plants
    // exact copies (same lang) of every 10th doc so the dedup stage has
    // real work; the oracle replays every stage, BPE rounds included,
    // over the surviving raw text.
    Query("pl5_bpe_pipeline", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      val corpus = docs.union(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("text")))
      val kept = corpus.filter(GopherRules.keep(col("text")))
      val keepIds = kept
        .groupBy(T.fingerprint64(col("text")).as("fp"),
          length(col("text")).as("ln"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val surv = kept.join(keepIds, Seq("doc_id")).localCheckpoint()
      Bpe.tokenize(surv, "doc_id", "text", Bpe.learn(surv, "text", bpeMerges))
        .join(surv.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    },
      // every stage replayed over raw text: gopher gate (x15's SQL — the
      // copies share their original's text, so its per-doc verdict maps
      // through doc_id % 1000000), exact dedup keep-first BY TEXT (a hash
      // match proves the 16-byte content keys lost nothing), the BPE
      // chain re-learned over the surviving corpus, ordered re-assembly
      {
        val n = bpeMerges
        s"""WITH gop AS (
           |$x15Sql
           |),
           |corpus AS (
           |  SELECT doc_id, lang, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, lang, text FROM documents
           |  WHERE doc_id % 10 = 0),
           |keptc AS (
           |  SELECT c.doc_id, c.lang, c.text FROM corpus c
           |  JOIN gop ON gop.doc_id = c.doc_id % 1000000 WHERE gop.keep),
           |survids AS (SELECT min(doc_id) AS doc_id FROM keptc GROUP BY text),
           |survd AS MATERIALIZED (
           |  SELECT k.doc_id, k.lang, k.text FROM keptc k
           |  JOIN survids USING (doc_id)),
           |${bpeCtes(n, src = "survd")},
           |words AS (
           |  SELECT doc_id, ws[i] AS word, i
           |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM survd),
           |       UNNEST(range(1, len(ws) + 1)) AS u(i)
           |  WHERE ws[i] <> ''),
           |tok AS (
           |  SELECT w.doc_id,
           |    array_to_string(list(r.sym ORDER BY w.i), ' ') AS bpe_text
           |  FROM words w JOIN r$n r ON r.word = w.word
           |  GROUP BY w.doc_id)
           |SELECT t.doc_id, s.lang,
           |  CAST(len(string_split(t.bpe_text, ' ')) AS BIGINT) AS n_tokens
           |FROM tok t JOIN survd s USING (doc_id)""".stripMargin
      }),

    // The dataset card — the per-(lang, source) datasheet every corpus
    // release ships: doc and token counts, distinct-text count (the
    // exact-dup-rate numerator), and how many docs clear the Gopher
    // battery. ONE corpus scan into a grouped aggregate with map-side
    // partials; every measure is integer (count / sum / count-distinct
    // / gated count), so the reduction is exact cross-engine. At 100 TB
    // the only exchange carries (lang, source)-keyed partials — the
    // count-distinct expands the partials to per-group text sets, so a
    // skewed release would swap it for an approx_count_distinct or a
    // pre-distinct two-phase aggregate, same contract.
    Query("pl6_dataset_card", (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(T.tokenCount(col("text"))).as("n_tokens"),
          countDistinct(col("text")).as("n_distinct_texts"),
          sum(when(GopherRules.keep(col("text")), 1L).otherwise(0L))
            .as("n_gopher_keep")),
      // Every measure integer (count / token sum / distinct texts / gated
      // count), the gopher gate is x15's own SQL — exact cross-engine.
      s"""WITH gop AS (
         |$x15Sql
         |)
         |SELECT d.lang, d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT d.text) AS BIGINT) AS n_distinct_texts,
         |  CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_keep
         |FROM documents d JOIN gop g USING (doc_id)
         |GROUP BY 1, 2""".stripMargin),

    // The day-N ingest funnel, staged cheapest-first the way a
    // production crawl pipeline runs it: (1) exact content-key gate
    // (dd12 — a 16-byte anti join kills verbatim re-crawls before
    // anything fuzzy spends a shuffle), (2) MinHash near-dup gate
    // against the frozen prior index (dd14) over the exact survivors
    // only, (3) Gopher quality battery (x15 — a narrow projection) over
    // the dedup survivors. One fate per batch doc; dup_of/jaccard carry
    // the near-dup evidence. Every stage is the already-audited
    // operator — the funnel adds only batch-sized left joins.
    Query("pl7_ingest_funnel", (s, d) => {
      val batch = incrBatchDocs(s, d)
      val prior = Tables.documents(s, d)
      // localCheckpoint: the exact-gate survivors feed FOUR consumers
      // (dd14's band rows + signature fetch, the fuzzy-kept join, the
      // quality stage) — without it the corpus-sized content-key anti
      // join would evaluate once per consumer (the pl1-pl4
      // stage-boundary discipline)
      val exactKept = Dedup.incrementalNew(batch,
        prior.select(col("text")), "text").localCheckpoint()
      // localCheckpoint: the gate verdict feeds both the fuzzy-kept
      // join and the fate projection — without it the verify pipeline
      // (including a second corpus-sized prior scan for the candidate
      // text fetch) replays per consumer. The verdict is batch-sized:
      // one row per exact-gate survivor.
      val fuzzy = Dedup.incrementalMinHash(exactKept, prior,
        "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
        threshold = 0.5).localCheckpoint()
      val fuzzyKept = exactKept.join(
        fuzzy.filter(col("keep")).select(col("doc_id")), Seq("doc_id"))
      val quality = GopherRules.report(fuzzyKept, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("q_keep"))
      batch.select(col("doc_id"))
        .join(fuzzy.select(col("doc_id"), col("keep").as("fz_keep"),
          col("dup_of"), col("jaccard")), Seq("doc_id"), "left")
        .join(quality, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("fz_keep").isNull, "exact_dup")
            .when(!col("fz_keep"), "near_dup")
            .when(!col("q_keep"), "low_quality")
            .otherwise("kept").as("fate"),
          col("dup_of"), col("jaccard"))
    },
      // The funnel restated stage by stage: text-equality anti join →
      // dd14's band/verify/best CTEs over the exact survivors → the x15
      // battery over the dedup survivors → one fate per batch doc.
      s"""WITH $ingestBatchCte,
         |exact_kept AS (
         |  SELECT b.doc_id, b.text FROM batch b WHERE NOT EXISTS (
         |    SELECT 1 FROM documents p WHERE p.text = b.text)),
         |${gateCtes("exact_kept")},
         |fuzzy_kept AS (
         |  SELECT e.doc_id, e.text FROM exact_kept e
         |  LEFT JOIN best ON best.bid = e.doc_id WHERE best.bid IS NULL),
         |gop AS (
         |${x15SqlFor("fuzzy_kept")}
         |)
         |SELECT b.doc_id,
         |  CASE WHEN e.doc_id IS NULL THEN 'exact_dup'
         |       WHEN best.bid IS NOT NULL THEN 'near_dup'
         |       WHEN NOT g.keep THEN 'low_quality'
         |       ELSE 'kept' END AS fate,
         |  best.pid AS dup_of, best.jaccard AS jaccard
         |FROM batch b
         |LEFT JOIN exact_kept e ON e.doc_id = b.doc_id
         |LEFT JOIN best ON best.bid = b.doc_id
         |LEFT JOIN gop g ON g.doc_id = b.doc_id""".stripMargin),

    // The full RAG query path as ONE pipeline — the retrieval stack
    // composed end-to-end: sparse arm = per-query BM25 rank-depth lists
    // (x13's scorer), dense arm = sim7's quantized SQ8 scan + exact-
    // cosine re-rank (the memory-bound production ANN), sim10's
    // reciprocal-rank fusion, then ck2's boundary-aligned chunking over
    // ONLY the retrieved documents — chunk attribution is query-side
    // work (≤ |Q|·10 docs reach the chunker through a broadcast join;
    // the corpus is scanned exactly once per retriever arm). Stage
    // boundary at the fused list (the pl1-pl7 localCheckpoint
    // discipline): neither retrieval arm replays per chunk consumer.
    Query("pl8_rag_retrieval", (s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val fused = Relevance.rrfFuse(Seq(hybridSparseRanked(docs),
          hybridDenseRanked(emb)(Similarity.sq8TopK(_, emb, "vec_id",
            "embedding", k = hybridFetchK, rerank = 2 * hybridFetchK))),
        k = 10, kRrf = hybridKRrf).localCheckpoint()
      val hitDocs = fused.select(col("doc_id")).distinct()
      val chunks = Chunker.sentencePack(
        sentenced(docs.select(col("doc_id"), col("text"))
          .join(broadcast(hitDocs), Seq("doc_id"))),
        "doc_id", col("sentences"), budget = 24)
        .select(col("id").as("doc_id"), col("chunk_id"), col("chunk"),
          col("n_tokens"))
      fused.join(chunks, Seq("doc_id"))
        .select(col("query_id"), col("doc_id"), col("rrf"), col("rank"),
          col("chunk_id"), col("chunk"), col("n_tokens"))
    },
      // The RAG path restated stage by stage: sim10's fusion replay with
      // the dense arm swapped to sim7's quantized-scan form (top-2·fetchK
      // integer-score candidates, exact-cosine re-rank to fetchK), then
      // ck2's packing CTEs over ONLY the fused documents.
      {
        val dense =
          s"""$sq8CodesCte,
             |dcand AS (
             |  SELECT qvid, query_id, doc_id FROM (
             |    SELECT q.vec_id AS qvid,
             |      CAST(CASE q.vec_id $hybridVidCase END AS BIGINT) AS query_id,
             |      c.vec_id AS doc_id,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        CAST(list_sum(list_transform(range(64),
             |          i -> q.q8[i+1] * c.q8[i+1])) AS BIGINT) DESC,
             |        c.vec_id) AS rn
             |    FROM e8 q, e8 c WHERE q.vec_id IN ($hybridVids) AND c.vec_id <> q.vec_id)
             |  WHERE rn <= ${2 * hybridFetchK}),
             |dsc AS (
             |  SELECT query_id, doc_id, ${cos("q.embedding", "c.embedding")} AS cosine
             |  FROM dcand
             |  JOIN embeddings q ON q.vec_id = qvid
             |  JOIN embeddings c ON c.vec_id = doc_id)""".stripMargin
        s"""WITH ${hybridRrfCtes(dense, "dsc", "fz")},
           |fused AS (
           |  SELECT query_id, doc_id, rrf, "rank" FROM (
           |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS "rank" FROM fz)
           |  WHERE "rank" <= 10),
           |${sentencePackSql(
              "(SELECT d2.doc_id, d2.text FROM documents d2 " +
                "JOIN (SELECT DISTINCT doc_id FROM fused) h USING (doc_id))",
              24)}
           |SELECT f2.query_id, f2.doc_id, f2.rrf, f2."rank",
           |  c.chunk_id, c.chunk, c.n_tokens
           |FROM fused f2 JOIN ck2chunks c USING (doc_id)""".stripMargin
      }),

    // The STREAMING curation pipeline end-to-end: staged crawl drops
    // (one file per micro-batch, day-stamped) → the dd14 fuzzy ingest
    // gate against the frozen prior (two stream-static joins) → x15's
    // stateless Gopher battery → TWO chained streaming window
    // aggregations producing per-(day, source, fate) counts in append
    // mode under a real advancing watermark. The derivation is
    // incrBatchKeeping — incrBatchOf's three branches carrying
    // (source, arrival_ts) through — so the oracle's batch CTE and the
    // stream gate one ingest rule. Plan story and at-scale shape in
    // StreamingRun.curationPipeline's scaladoc.
    Query("pl10_streaming_curation", (s, d) => {
      val staged =
        graft.streaming.StreamingRun.stageDocsOrdered(s, d)
      graft.streaming.StreamingRun.curationPipeline(s, staged,
        prior = Tables.documents(s, d).select(col("doc_id"), col("text")),
        deriveBatch = docs =>
          incrBatchKeeping(docs, Seq("source", "arrival_ts")),
        gopherKeep = GopherRules.keep(col("text")))
    },
      // pl10: the streaming curation pipeline's per-(day, source, fate)
      // counts — the batch composition of the dd14 gate CTEs + x15's
      // battery over the SAME derived ingest batch, grouped by the staged
      // drop index (ntile by doc_id, the stageDocsOrdered assignment)
      // and its day window (day k of 2020-01-01 UTC). near_dup = any gate
      // candidate verified at jaccard ≥ 0.5 (EXISTS ≡ best non-null).
      s"""WITH base AS (
         |  SELECT doc_id, text, source,
         |    ntile($Drops) OVER (ORDER BY doc_id) - 1 AS b
         |  FROM documents),
         |batch AS (
         |  SELECT doc_id + 1000000 AS doc_id, text, source, b
         |  FROM base WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, $prefixTextSql AS text,
         |    source, b
         |  FROM base WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 4000000 AS doc_id,
         |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
         |      AS text,
         |    source, b
         |  FROM base WHERE doc_id % 13 = 0),
         |${gateCtes("batch")},
         |gop AS (
         |${x15SqlFor("batch")}
         |)
         |SELECT make_timestamp(
         |    (CAST(1577836800 AS BIGINT) + 86400 * b.b) * 1000000)
         |    AS window_start,
         |  b.source,
         |  CASE WHEN best.bid IS NOT NULL THEN 'near_dup'
         |       WHEN NOT g.keep THEN 'low_quality'
         |       ELSE 'kept' END AS fate,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM batch b
         |LEFT JOIN best ON best.bid = b.doc_id
         |JOIN gop g ON g.doc_id = b.doc_id
         |GROUP BY 1, 2, 3""".stripMargin),

    // pl11: STREAMING TOKEN-BUDGET ADMISSION — per-source training
    // quotas enforced on the ingest path through a cross-micro-batch
    // GroupState[Long] running total (FlatMapGroupsWithStateExec over
    // the same staged crawl drops as pl10). A source's budget typically
    // exhausts in a LATER drop than it started, so every admission
    // decision past the first drop depends on recovered state, and the
    // emitted cum_tokens pins the state trajectory itself. Order
    // contract + at-scale shape in StreamingRun.tokenBudgetAdmission's
    // scaladoc; oracle = one window cumsum per source.
    Query("pl11_streaming_token_budget", (s, d) =>
      graft.streaming.StreamingRun.tokenBudgetAdmission(s, d),
      // pl11: admitted = the rows whose INCLUSIVE running token total per
      // source (in doc_id order — the staged drops partition ascending
      // doc_id ranges, so arrival order IS doc_id order) fits the budget;
      // the first overflow closes the source, and a closed source's total
      // never re-enters the budget, so the prefix rule and the
      // cumsum-filter rule coincide. cum_tokens = the operator's
      // GroupState value as of each admission.
      pl11Sql),

    // w20: CHECKPOINT RESTORE FOR OPERATOR STATE — pl11's token-budget
    // admission killed after draining all but the last staged drop and
    // restarted from its own checkpoint (a NEW query, asserted to
    // resume: first executed batch ≥ nFiles−1). The union of the two
    // runs' emissions must equal pl11's single-run output — the oracle
    // IS pl11's cumsum replay verbatim, so a restore that loses or
    // inflates a source's recovered GroupState[Long] visibly re-admits
    // past the budget or truncates admissions, and every emitted
    // cum_tokens pins the recovered trajectory itself. w18 proves the
    // AGGREGATION layout recovers; this proves the custom OPERATOR
    // state does (the reference snapshots both through the same epoch
    // barrier — arcon/src/stream/node/mod.rs:461-507).
    Query("w20_streaming_operator_restore", (s, d) =>
      graft.streaming.StreamingRun.tokenBudgetAdmissionRestored(s, d),
      // w20: the oracle is pl11's replay VERBATIM — operator-state
      // restore must be output-invisible (FMGWS recovery is exact at any
      // epoch boundary: no watermark, no event-time stats to lose).
      pl11Sql),

    // pl13: STREAMING ANN-INDEX INGEST — the IVF coarse layer built on
    // the ingest path: staged embedding drops → nearest-centroid
    // assignment as a pure projection against the broadcast stub
    // centroids (sim3's deterministic contract) → ONE cell-keyed
    // streaming aggregation (StateStoreSaveExec, complete mode)
    // maintaining the per-cell census with an integer membership pin
    // (sum_vec_ids). The retrieval index's build job as a stream;
    // oracle = the batch argmax assignment + census.
    Query("pl13_streaming_ann_ingest", (s, d) =>
      graft.streaming.StreamingRun.ivfCellIngest(s, d),
      // pl13: batch replay of the streaming cell census — stub centroids
      // (first 8 corpus vectors, sim3's contract), argmax assignment by
      // (cosine DESC, cell) — ties keep the smallest cell, the fold's
      // strict-> rule — then the per-cell count + integer membership pin.
      s"""WITH $ivfCentsCte,
         |asg AS (
         |  SELECT cell, vec_id FROM (
         |    SELECT c.cell, e.vec_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell)
         |        AS rn
         |    FROM embeddings e CROSS JOIN cents c
         |    WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL)
         |  WHERE rn = 1)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids
         |FROM asg GROUP BY 1""".stripMargin),

    // pl15: SERVE FROM THE STREAM-BUILT ANN INDEX — pl13's assignment
    // plan drained APPEND into a materialized (cell, vec, embedding)
    // index table, then the sim3 query set served from it (broadcast
    // probe selection → one cell-keyed exchange → exact re-rank).
    // Oracle = sim3's batch IVF replay VERBATIM: build-on-stream /
    // serve-after must equal batch retrieval end to end.
    Query("pl15_streaming_ann_serve", (s, d) =>
      graft.streaming.StreamingRun.ivfServeFromStream(s, d),
      // pl15: sim3's batch replay VERBATIM — serving from the
      // stream-built index must be indistinguishable from batch IVF
      // (every vector rides exactly one ingest drop; the streaming
      // fold's tie rule IS the batch argmax rule).
      sim3Sql)
  )

  /** pl11's cumsum replay — shared VERBATIM by w20 (operator-state
    * restore must be output-invisible). */
  private val pl11Sql: String =
    s"""SELECT doc_id, source, n_tokens, cum_tokens FROM (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(sum(len(string_split(text, ' ')))
       |      OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
       |      AS cum_tokens
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL)
       |WHERE cum_tokens <= $Budget""".stripMargin
}
