package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Prototypes, Relevance, Similarity}

/** Similarity search and retrieval: brute-force, LSH, multiprobe, IVF
  * and SQ8 top-k, the IVF recall audit, hard negatives, the kNN graph,
  * hybrid BM25 + dense retrieval, and prototypicality.
  */
object SimilarityQueries {

  import OracleSql._

  lazy val queries: Seq[Query] = Seq(
    Query("sim1_topk_bruteforce", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5)
    },
      sim1Sql),

    Query("sim2_topk_lsh", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nPlanes = 8, dim = 64)
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    ${bucket("embedding")} AS bucket FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
         |    ${bucket("embedding")} AS bucket FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cos("qv", "cv")} AS cosine
         |  FROM q JOIN c USING (bucket) WHERE neighbor_id <> query_id)
         |${topKSql("scored", 5, dropNaN = false)}""".stripMargin),

    Query("sim3_topk_ivf", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2)
    },
      sim3Sql),

    Query("sim4_topk_lsh_multiprobe", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nPlanes = 8, dim = 64, multiProbe = true)
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    ${bucket("embedding")} AS bucket FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
         |    ${bucket("embedding")} AS bucket FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cos("qv", "cv")} AS cosine
         |  FROM q JOIN c ON bit_count(xor(q.bucket, c.bucket)) <= 1
         |  WHERE neighbor_id <> query_id)
         |${topKSql("scored", 5, dropNaN = false)}""".stripMargin),

    // recall@5 of the IVF path against the exact brute-force top-5 —
    // the ANN quality audit a production index build reports next to
    // its latency (nProbe is THE recall/cost dial; this is how you pick
    // it). Left join exact→approx on the query-set-sized result tables
    // (both ≤ |Q|·k rows — nothing corpus-sized moves).
    Query("sim5_ivf_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(q, e, "vec_id", "embedding",
          k = 5, nCells = 8, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("recall", col("n_hits").cast("double") / 5)
    },
      // recall@5 of the IVF path against the exact brute-force top-5 —
      // the standard ANN quality audit a production index build reports
      // next to its bench numbers (nProbe is THE recall/cost dial).
      s"""WITH ex AS ($sim1Sql), ap AS ($sim3Sql)
         |SELECT ex.query_id, CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
         |  CAST(count(ap.neighbor_id) AS DOUBLE) / 5 AS recall
         |FROM ex LEFT JOIN ap
         |  ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
         |GROUP BY ex.query_id""".stripMargin),

    // Hard-negative mining: per query, top-5 most similar vectors with
    // a DIFFERENT label (the contrastive-training negative sampler).
    Query("sim6_hard_negatives", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", "label", k = 5)
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < 20),
         |scored AS (
         |  SELECT query_id, c.vec_id AS neighbor_id, ${cos("qv", "c.embedding")} AS cosine
         |  FROM q, embeddings c WHERE c.vec_id <> query_id AND c.label <> ql)
         |${topKSql("scored", 5, dropNaN = false)}""".stripMargin),

    // SQ8 scalar-quantized ANN: the memory-bound scale path — the scan
    // ranks candidates by the INTEGER dot product of int8 codes (1 byte
    // per dim instead of 4, exact cross-engine math), full-precision
    // cosine re-ranks only the top-`rerank` survivors per query. The
    // oracle replays quantization, integer scan, and re-rank verbatim.
    Query("sim7_topk_sq8", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.sq8TopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, rerank = 16)
    },
      // SQ8 replayed exactly: float→double widening and the ·127 product
      // are IEEE-identical cross-engine, floor+clamp land on the same
      // int8 codes, the scan score is pure integer math (list_sum's
      // HUGEINT cast back to BIGINT), and the re-rank is the shared
      // ordered cosine fold over the top-16 survivors.
      s"""WITH $sq8CodesCte,
         |cands AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        CAST(list_sum(list_transform(range(64),
         |          i -> q.q8[i+1] * c.q8[i+1])) AS BIGINT) DESC,
         |        c.vec_id) AS rn
         |    FROM e8 q, e8 c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         |  WHERE rn <= 16),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cos("q.embedding", "c.embedding")} AS cosine
         |  FROM cands
         |  JOIN embeddings q ON q.vec_id = query_id
         |  JOIN embeddings c ON c.vec_id = neighbor_id)
         |${topKSql("scored", 5, dropNaN = true)}""".stripMargin),

    // IVF × SQ8 — the production ANN combination: coarse cells bound
    // the candidate set, the within-cell scan reads int8 codes, exact
    // cosine re-ranks the survivors. The oracle composes sim3's
    // cell/probe replay with sim7's quantized-scan replay.
    Query("sim8_topk_ivf_sq8", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfSq8TopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2, rerank = 16)
    },
      // sim3's cell/probe replay + sim7's quantized scan + the shared
      // ordered cosine re-rank, composed.
      s"""WITH $sq8CodesCte,
         |${ivfCtes(sq8 = true)},
         |cands AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, cl.neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id ORDER BY
         |        CAST(list_sum(list_transform(range(64),
         |          i -> p.q8[i+1] * cl.q8[i+1])) AS BIGINT) DESC,
         |        cl.neighbor_id) AS rn
         |    FROM probes p JOIN cells cl USING (cell)
         |    WHERE cl.neighbor_id <> p.query_id)
         |  WHERE rn <= 16),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cos("q.embedding", "c.embedding")} AS cosine
         |  FROM cands
         |  JOIN embeddings q ON q.vec_id = query_id
         |  JOIN embeddings c ON c.vec_id = neighbor_id)
         |${topKSql("scored", 5, dropNaN = true)}""".stripMargin),

    // Corpus-wide approximate k-NN graph (every vector both query and
    // candidate — no broadcastable query side): multiprobe LSH bucket
    // self-join, per-partition bounded-heap top-5 per src, directed
    // edges with the mutual-kNN mark. The edge list is the input to
    // graph-based curation (cluster pruning, diversity sampling).
    Query("sim9_knn_graph", (s, d) =>
      Similarity.knnGraph(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 5, nPlanes = 8, dim = 64, multiProbe = true),
      // The self-graph replay: one signature CTE used in both roles, the
      // hamming-≤1 join (≡ the query-side 1-bit-flip probes), per-src
      // rank ≤ 5, then the mutual mark by left-joining the top-k edge
      // list against its own reversal.
      s"""WITH sig AS (SELECT vec_id, embedding AS v,
         |    ${bucket("embedding")} AS bucket FROM embeddings),
         |scored AS (
         |  SELECT l.vec_id AS src_id, r.vec_id AS dst_id,
         |    ${cos("l.v", "r.v")} AS cosine
         |  FROM sig l JOIN sig r
         |    ON bit_count(xor(l.bucket, r.bucket)) <= 1
         |    AND l.vec_id <> r.vec_id),
         |top AS (
         |  SELECT src_id, dst_id, cosine, "rank" FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY src_id
         |      ORDER BY cosine DESC, dst_id) AS BIGINT) AS "rank"
         |    FROM scored) WHERE "rank" <= 5)
         |SELECT t.src_id, t.dst_id, t.cosine, t."rank",
         |  coalesce(r2.m, false) AS mutual
         |FROM top t LEFT JOIN (SELECT dst_id AS src_id, src_id AS dst_id,
         |    true AS m FROM top) r2
         |  ON t.src_id = r2.src_id AND t.dst_id = r2.dst_id""".stripMargin),

    // Hybrid retrieval: BM25 ranked lists and dense-cosine ranked lists
    // fused per query by reciprocal rank (the production RAG shape —
    // no score calibration between retrievers). The bench pairing of a
    // term set with a query vector is synthetic (the corpus has no real
    // queries); the semantics under test are the fusion: rank-depth
    // fetchK per retriever, RRF k=60 fold, fused top-10. Both ranked
    // lists are |Q|·fetchK-sized, so everything after the retrievers is
    // query-side work (rrfFuse scaladoc has the 100 TB argument).
    Query("sim10_hybrid_rrf", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      Relevance.rrfFuse(Seq(hybridSparseRanked(Tables.documents(s, d)),
          hybridDenseRanked(emb)(Similarity.bruteForceTopK(_, emb,
            "vec_id", "embedding", k = hybridFetchK))),
        k = 10, kRrf = hybridKRrf)
    },
      // The funnel restated: per-query BM25 blocks (shared dl/stats CTEs,
      // the x13 formula verbatim), dense cosine blocks (the sim1 shape,
      // self-match excluded by ORIGINAL vec_id), rank-depth fetchK each,
      // then the RRF ordered fold in list order and the fused top-10.
      {
        val dense =
          s"""dq AS (SELECT CAST(CASE vec_id $hybridVidCase END AS BIGINT) AS query_id,
             |         vec_id AS qvid, embedding AS qv
             |       FROM embeddings WHERE vec_id IN ($hybridVids)),
             |dscored AS (SELECT query_id, c.vec_id AS doc_id,
             |    ${cos("qv", "c.embedding")} AS cosine
             |  FROM dq, embeddings c WHERE c.vec_id <> qvid)""".stripMargin
        s"""WITH ${hybridRrfCtes(dense, "dscored", "f")}
           |SELECT query_id, doc_id, rrf, "rank" FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
           |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS "rank" FROM f)
           |WHERE "rank" <= 10""".stripMargin
      }),

    // Prototypicality pruning (SSL-prototypes): cosine of each vector to
    // its label's integer-quantized mean centroid; the most prototypical
    // (redundant) examples flag for pruning. The quantized centroid makes
    // the group mean commutative-integer math — no ordered fold, no
    // member collection — so the corpus never shuffles (only the
    // (label,pos) sum partials do) and DuckDB replays the mean exactly.
    Query("x19_prototypicality", (s, d) =>
      Prototypes.prototypicality(Tables.embeddings(s, d),
        "vec_id", "embedding", "label", pruneAbove = 0.25),
      // The quantized-mean centroid replayed exactly: floor(x · 2^20) per
      // coordinate (the ×2^20 is exact), commutative integer sums, two
      // IEEE divisions, one rounding to FLOAT — then the shared ordered
      // cosine fold.
      s"""WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL AND label IS NOT NULL
         |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
         |q AS (SELECT label, u.pos AS pos, u.qc AS qc FROM (
         |  SELECT label, unnest(list_transform(range(64), i ->
         |    {'pos': i, 'qc': CAST(floor(CAST(v[i + 1] AS DOUBLE) * 1048576.0) AS BIGINT)})) AS u
         |  FROM e) t),
         |s AS (SELECT label, pos, CAST(sum(qc) AS BIGINT) AS qs,
         |    CAST(count(*) AS BIGINT) AS n FROM q GROUP BY label, pos),
         |c AS (SELECT label, list(
         |    CAST((CAST(qs AS DOUBLE) / 1048576.0) / CAST(n AS DOUBLE) AS FLOAT)
         |    ORDER BY pos) AS centroid
         |  FROM s GROUP BY label)
         |SELECT e.vec_id, e.label, ${cos("e.v", "c.centroid")} AS proto_cos,
         |  (${cos("e.v", "c.centroid")} < 0.25) AS keep
         |FROM e JOIN c USING (label)""".stripMargin)
  )

  /** sim10's sparse arm: per-query BM25 over `docs` in ONE corpus pass
    * for all arms (bm25PerQuery, r21: bit-identical to one scan per
    * query, |Q|× fewer tokenize exchanges), ranked to fetchK. */
  private[queries] def hybridSparseRanked(docs: DataFrame): DataFrame = {
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    Relevance.bm25PerQuery(docs, "doc_id", "text",
        hybridQueries.map { case (qid, terms, _) => qid -> terms },
        k1 = bm25K1, b = bm25B)
      .select(col("query_id"), col("doc_id"), col("bm25"))
      .withColumn("rank", row_number().over(ws).cast("long"))
      .filter(col("rank") <= hybridFetchK)
      .select(col("query_id"), col("doc_id"), col("rank"))
  }

  /** sim10's dense arm: `topK` over the hybrid queries' vectors in
    * `emb`, its query ids mapped to the hybrid query ids. */
  private[queries] def hybridDenseRanked(emb: DataFrame)(
      topK: DataFrame => DataFrame): DataFrame = {
    val qvecMap = hybridQueries.map { case (qid, _, vid) => vid -> qid }
    topK(emb.filter(col("vec_id").isin(qvecMap.map(_._1): _*)))
      .select(qvecMap.tail.foldLeft(
          when(col("query_id") === qvecMap.head._1, qvecMap.head._2)) {
          case (c, (vid, qid)) => c.when(col("query_id") === vid, qid)
        }.as("query_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
  }

  /** sim1 as a standalone statement — also composed by sim5's recall
    * audit. */
  private lazy val sim1Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |scored AS (
         |  SELECT query_id, c.vec_id AS neighbor_id, ${cos("qv", "c.embedding")} AS cosine
         |  FROM q, embeddings c WHERE c.vec_id <> query_id)
         |${topKSql("scored", 5, dropNaN = false)}""".stripMargin
}
