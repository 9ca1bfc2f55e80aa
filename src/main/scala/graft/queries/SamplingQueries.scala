package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Importance, Splits}

/** Splits, sampling and mixtures: hash and cluster-aware splits,
  * samples, mixture sampling, DSIR weights, temperature mixtures and
  * token budgets.
  */
object SamplingQueries {

  import Corpora._
  import OracleSql._

  // mx4's recipe constants — single-sourced with the oracle SQL (the
  // bm25K1/bm25B discipline: a budget change must hit both sides).
  private val mx4Weights = Map("en" -> 500000L, "zh" -> 200000L,
    "es" -> 150000L, "de" -> 100000L, "fr" -> 50000L)
  private val mx4Budget = 200000L
  private val mx4MaxEpochs = 3

  lazy val queries: Seq[Query] = Seq(
    // Leakage-safe splitting: near-dup clusters (dd6 labels) co-assign
    // to one split via a hash of the canonical cluster id — a near-copy
    // of a training doc can never land in eval. Content-hash assign
    // (sp1) only co-assigns EXACT duplicates; this closes the near-dup
    // leakage hole.
    Query("sp3_cluster_split", (s, d) => {
      val corpus = nearDupDocs(s, d)
      val labels = Dedup.clusters(
        Dedup.minHashLsh(corpus, "doc_id", "text",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
      Splits.clusterAssign(corpus.select(col("doc_id")), "doc_id",
        labels, "cluster_id")
    },
      s"""$ccLabSql,
         |asg AS (SELECT c.doc_id,
         |    CAST(coalesce(l.cluster_id, c.doc_id) AS BIGINT) AS cluster_id
         |  FROM corpus c LEFT JOIN lab l ON c.doc_id = l.doc_id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ${ph("'c#' || CAST(cluster_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${ph("'c#' || CAST(cluster_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM asg""".stripMargin),

    Query("sp1_split", (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        Splits.assign(col("text"), trainPct = 80, valPct = 10).as("split"),
        Splits.shard(col("text"), 16).as("shard")),
      s"""WITH t AS (SELECT doc_id, ${ph("text")} % 100 AS h100,
         |  ${ph("text")} % 16 AS shard FROM documents)
         |SELECT doc_id,
         |  CASE WHEN h100 < 80 THEN 'train' WHEN h100 < 90 THEN 'val'
         |    ELSE 'test' END AS split,
         |  shard
         |FROM t""".stripMargin),

    Query("sp2_sample", (s, d) =>
      Splits.stratifiedSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")),
        strata = Seq("lang"), on = col("text"), tieBreak = col("doc_id"),
        perStratum = 25)
        .select(col("doc_id"), col("lang"), col("sample_rank")),
      s"""SELECT doc_id, lang, sample_rank FROM (
         |  SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY ${ph("text")}, doc_id) AS BIGINT) AS sample_rank
         |  FROM documents) WHERE sample_rank <= 25""".stripMargin),

    // Domain-mixture resampling: per-lang keep rates decided by a salted
    // content hash (channel independent of sp1's split hash) — the
    // deterministic "re-balance the training mixture" filter. Narrow,
    // shuffle-free.
    Query("mx1_mixture_sample", (s, d) =>
      Splits.mixtureSample(
        Tables.documents(s, d),
        domain = col("lang"), on = concat(col("text"), lit("#mix")),
        ratesPct = Map("en" -> 90, "zh" -> 30, "de" -> 60), defaultPct = 50)
        .select(col("doc_id"), col("lang")),
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ${ph("text || '#mix'")} % 100 AS h
         |  FROM documents)
         |WHERE h < CASE lang WHEN 'en' THEN 90 WHEN 'zh' THEN 30
         |  WHEN 'de' THEN 60 ELSE 50 END""".stripMargin),

    // DSIR importance weighting: target model = the curated 'src0'
    // slice, raw model = the whole corpus, both hashed-unigram tables
    // of 256 rows that broadcast back over the token stream; per-doc
    // weight = integer micro-nat sum (quantized at the model, so the
    // corpus-wide reduction is exact integer math — cross-engine ln
    // jitter cannot accumulate). The oracle replays models + sum.
    Query("mx2_dsir_weights", (s, d) =>
      Importance.dsirLogWeights(Tables.documents(s, d), "doc_id", "text",
        isTarget = col("source") === "src0", buckets = 256),
      s"""WITH tok AS (
         |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
         |  FROM documents WHERE text IS NOT NULL),
         |tb AS (SELECT doc_id, source, ${ph("token")} % 256 AS bucket FROM tok),
         |cr AS (SELECT bucket, count(*) AS cr FROM tb GROUP BY 1),
         |ct AS (SELECT bucket, count(*) AS ct FROM tb WHERE source = 'src0' GROUP BY 1),
         |tr AS (SELECT sum(cr) AS tr FROM cr),
         |tt AS (SELECT sum(ct) AS tt FROM ct),
         |model AS (SELECT bucket,
         |    CAST(floor((
         |      ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / CAST(coalesce(tt, 0) + 256 AS DOUBLE))
         |      - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 256 AS DOUBLE))) * 1e6) AS BIGINT) AS lr
         |  FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tr CROSS JOIN tt)
         |SELECT doc_id, CAST(sum(lr) AS BIGINT) AS logw_micro,
         |  CAST(count(*) AS BIGINT) AS n_tokens, sum(lr) > 0 AS target_like
         |FROM tb JOIN model USING (bucket) GROUP BY doc_id""".stripMargin),

    // Temperature-weighted (UniMax-style) domain resampling: kept
    // counts ∝ n_d^0.5, smallest domain kept whole, decided by a salted
    // content hash against a per-domain ppm rate derived from one
    // column-pruned count pass. The corpus never shuffles. Domain =
    // language (the sources are uniform by construction — a gate that
    // never fires would leave the filter arithmetic oracle-unchecked).
    Query("mx3_temperature_mixture", (s, d) =>
      Splits.temperatureMixture(Tables.documents(s, d),
        domain = col("lang"), on = concat(col("text"), lit("#temp")),
        alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("rate_ppm")),
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents
         |  WHERE lang IS NOT NULL GROUP BY 1),
         |m AS (SELECT min(n) AS nmin FROM c),
         |r AS (SELECT lang,
         |    CAST(floor(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS rate_ppm
         |  FROM c CROSS JOIN m)
         |SELECT doc_id, lang, rate_ppm
         |FROM documents JOIN r USING (lang)
         |WHERE ${ph("text || '#temp'")} % 1000000 < rate_ppm""".stripMargin),

    // Data-recipe reconciliation: weights × budget vs corpus size ×
    // epoch cap. At this budget en/zh/es/de hit the 3-epoch cap
    // (deficit > 0) while fr's target fits — both branches live.
    Query("mx4_token_budget", (s, d) =>
      Splits.tokenBudgetAllocation(Tables.documents(s, d),
        domain = col("lang"), tokens = size(split(col("text"), " ")),
        weightsPpm = mx4Weights, totalBudget = mx4Budget,
        maxEpochs = mx4MaxEpochs),
      // Integer split-form arithmetic replayed exactly (T = 200000 ⇒
      // tq = 0, tr = 200000; target = (w_ppm·tr) // 10⁶).
      s"""WITH counts AS (SELECT lang AS domain,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang HAVING sum(len(string_split(text, ' '))) > 0),
        |w(domain, w_ppm) AS (VALUES
        |  ${mx4Weights.toSeq.sorted.map { case (d, w) =>
             s"('$d', CAST($w AS BIGINT))" }.mkString(", ")}),
        |j AS (SELECT domain, n_tokens, w_ppm,
        |    CAST(w_ppm * ${mx4Budget / 1000000L}
        |      + (w_ppm * ${mx4Budget % 1000000L}) // 1000000 AS BIGINT) AS target_tokens
        |  FROM counts JOIN w USING (domain)),
        |a AS (SELECT domain, n_tokens, w_ppm, target_tokens,
        |    least(target_tokens, n_tokens * $mx4MaxEpochs) AS alloc_tokens
        |  FROM j)
        |SELECT domain, n_tokens, w_ppm, target_tokens, alloc_tokens,
        |  target_tokens - alloc_tokens AS deficit_tokens,
        |  CAST((alloc_tokens // n_tokens) * 1000
        |    + (alloc_tokens % n_tokens) * 1000 // n_tokens AS BIGINT) AS epochs_milli
        |FROM a""".stripMargin)
  )
}
