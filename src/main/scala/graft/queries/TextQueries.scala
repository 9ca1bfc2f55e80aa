package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.operators.{Decontaminate, Dedup, GopherRules, Importance,
  Relevance, Splits}

/** Text analysis and quality operators of the training-data pipeline:
  * token statistics, quality and language signals, fingerprints,
  * repetition, normalization, PII masking, decontamination (exact,
  * fuzzy, Bloom, novelty), heavy hitters, n-gram language-model scores,
  * TF-IDF, BM25, and the quantile and Gopher filters — each
  * oracle-checked bit-for-bit against DuckDB (all hashes are
  * engine-neutral integer polynomials; all float reductions are ordered
  * folds; see graft.functions.*).
  */
object TextQueries {

  import Corpora._
  import OracleSql._

  lazy val queries: Seq[Query] = Seq(
    Query("x1_tokens", (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.bpeishTokenCount(col("text")).as("n_bpeish"),
        T.meanTokenLen(col("text")).as("mean_token_len")),
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpeish,
         |  CAST(CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len
         |FROM documents""".stripMargin),

    Query("x2_quality", (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        T.qualityScore(col("text")).as("quality"),
        T.alphaRatio(col("text")).as("alpha_ratio"),
        T.stopwordRatio(col("text")).as("stopword_ratio")),
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         |    CAST(CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl,
         |    CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
         |      / CAST(length(text) AS DOUBLE) AS alpha_ratio,
         |    CAST(len(list_filter(string_split(text, ' '), w -> list_contains($enStops, w))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
         |  FROM documents)
         |SELECT doc_id,
         |  least(n_tok / 50.0, 1.0) * 0.3
         |    + (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3
         |    + least(stopword_ratio * 5.0, 1.0) * 0.2 AS quality,
         |  alpha_ratio, stopword_ratio
         |FROM t""".stripMargin),

    Query("x3_langid", (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        T.langId(col("text")).as("lang_pred")),
      {
        val hits = T.stopwords.map { case (l, ws) =>
          val arr = ws.map(w => s"'$w'").mkString("[", ",", "]")
          s"len(list_filter(string_split(text, ' '), w -> list_contains($arr, w))) AS h_$l"
        }.mkString(",\n    ")
        val langs = T.stopwords.map(_._1)
        val best = s"greatest(${langs.map("h_" + _).mkString(", ")})"
        val cases = langs.map(l => s"WHEN h_$l > 0 AND h_$l = $best THEN '$l'").mkString(" ")
        s"""WITH t AS (SELECT doc_id, lang,
           |    $hits
           |  FROM documents)
           |SELECT doc_id, lang, CASE $cases ELSE 'und' END AS lang_pred FROM t""".stripMargin
      }),

    Query("x4_fingerprint", (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        T.polyHash(col("text")).as("fp"),
        T.simHash(col("text")).as("simhash")),
      s"""SELECT doc_id, ${ph("text")} AS fp, ${simhash("text")} AS simhash
         |FROM documents""".stripMargin),

    // Gopher-style repetition signals: duplicate-token fraction +
    // top-bigram occurrence fraction (both narrow, one compiled pass).
    Query("x5_repetition", (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        T.dupTokenFrac(col("text")).as("dup_token_frac"),
        T.topBigramFrac(col("text")).as("top_bigram_frac")),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts, ${bg2("text")} AS bg
         |  FROM documents)
         |SELECT doc_id,
         |  1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / CAST(len(ts) AS DOUBLE)
         |    AS dup_token_frac,
         |  CASE WHEN len(bg) = 0 THEN 0.0
         |    ELSE CAST(list_max(list_transform(list_distinct(bg),
         |      x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
         |      / CAST(len(bg) AS DOUBLE) END AS top_bigram_frac
         |FROM t""".stripMargin),

    // Deterministic text normalization: lowercase → non-alphanumerics to
    // spaces → collapse runs → trim, plus the normalized fingerprint
    // (the canonical key for cross-corpus exact dedup).
    Query("x6_normalize", (s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      Tables.documents(s, d).select(
        col("doc_id"), norm.as("norm_text"), T.polyHash(norm).as("norm_fp"))
    },
      s"""WITH t AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
         |    ' +', ' ', 'g')) AS norm_text
         |  FROM documents)
         |SELECT doc_id, norm_text, ${ph("norm_text")} AS norm_fp FROM t""".stripMargin),

    // PII redaction: plant a deterministic email into every 5th doc,
    // redact by pattern, report the redaction count — narrow regex work
    // that stays inside codegen (the synthetic corpus has no organic
    // PII, so the planting makes the check prove redaction, not a no-op).
    Query("x8_pii", (s, d) => {
      val email = "[a-z0-9._-]+@[a-z0-9.-]+"
      val withPii = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now")))
          .otherwise(col("text")).as("text"))
      withPii.select(col("doc_id"),
        regexp_replace(col("text"), email, "<email>").as("redacted"),
        size(call_function("regexp_extract_all", col("text"),
          lit(email), lit(0))).cast("long").as("n_emails"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN text || ' contact user' || doc_id || '@example.com now'
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(text, '[a-z0-9._-]+@[a-z0-9.-]+', '<email>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._-]+@[a-z0-9.-]+')) AS BIGINT)
        |    AS n_emails
        |FROM t""".stripMargin),

    // Benchmark decontamination: docs with doc_id % 97 == 0 stand in for
    // the held-out benchmark; every other doc is scored for 3-shingle
    // overlap against the broadcast benchmark shingle set.
    Query("x7_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      Decontaminate.shingleOverlap(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", k = 3, threshold = 0.5)
    },
      s"""WITH sh AS (SELECT doc_id, ${sh3("text")} AS shs FROM documents),
         |bench AS (SELECT DISTINCT unnest(shs) AS h FROM sh WHERE doc_id % 97 = 0),
         |train AS (SELECT doc_id, shs FROM sh WHERE doc_id % 97 <> 0),
         |ex AS (SELECT doc_id, unnest(shs) AS h FROM train),
         |ov AS (SELECT ex.doc_id, count(*) AS n_overlap
         |       FROM ex JOIN bench USING (h) GROUP BY ex.doc_id)
         |SELECT t.doc_id, CAST(len(t.shs) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  coalesce(o.n_overlap, 0) * 2 > len(t.shs) AS contaminated
         |FROM train t LEFT JOIN ov o USING (doc_id)""".stripMargin),

    // Content novelty over the planted-duplicate corpus: exact copies
    // score 0 (their shingles' first occurrence is the original),
    // fresh docs ~1 — the scalar "how much of this doc is new"
    // selection signal. Two 8-byte-keyed aggregates, no text/array
    // exchange.
    Query("x18_novelty", (s, d) =>
      Dedup.shingleNovelty(exactDupDocs(s, d), "doc_id", "text", k = 3),
      s"""WITH corpus AS ($exactDupDocsSql),
         |sh AS (SELECT doc_id, ${sh3("text")} AS shs FROM corpus),
         |ex AS (SELECT doc_id, unnest(shs) AS h FROM sh),
         |own AS (SELECT h, min(doc_id) AS doc_id FROM ex GROUP BY 1),
         |nov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
         |  FROM own GROUP BY 1)
         |SELECT s.doc_id, CAST(len(s.shs) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
         |  CASE WHEN len(s.shs) = 0 THEN 0.0
         |    ELSE CAST(coalesce(n.n_novel, 0) AS DOUBLE)
         |      / CAST(len(s.shs) AS DOUBLE) END AS novelty
         |FROM sh s LEFT JOIN nov n USING (doc_id)""".stripMargin),

    // FUZZY decontamination: the benchmark stand-ins are 80%-prefix
    // TRUNCATIONS of every 97th doc (near- but not exact copies — what
    // x7's exact shingle matching is blind to when paraphrase shifts
    // most shingles). MinHash-LSH candidates verify by exact Jaccard
    // map-side inside the broadcast band join; the corpus never
    // shuffles.
    Query("x17_fuzzy_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      val bench = prefixTruncated(docs, mod = 97, idOffset = 2000000L)
      Decontaminate.fuzzyLshOverlap(docs, bench, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.5)
    },
      s"""WITH bench AS ($fuzzyBenchSql),
         |${bandSql("b", "bench", "bid")},
         |${bandSql("t", "documents", "doc_id")},
         |pairs AS (SELECT DISTINCT t.doc_id, b.bid, ${jac("t.shs", "b.shs")} AS j
         |  FROM tband t JOIN bband b ON t.band = b.band AND t.band_key = b.band_key),
         |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
         |    max(j) AS max_jaccard
         |  FROM pairs WHERE j >= 0.5 GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(h.n_bench_matches, 0) AS BIGINT) AS n_bench_matches,
         |  coalesce(h.max_jaccard, 0.0) AS max_jaccard,
         |  coalesce(h.n_bench_matches, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin),

    // Corpus-wide heavy hitters: exact top-50 tokens by occurrence count
    // with document frequency. The scale shape: explode is a pipelined
    // generator, the count aggregate combines map-side, and the top-k is
    // TakeOrderedAndProject (per-partition bounded heaps merged on the
    // driver — k rows, never a global sort). Ties broken by token text,
    // so the result is fully deterministic.
    Query("x9_heavy_hitters", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"),
          count_distinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occurrences").desc, col("token").asc)
        .limit(50),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM tok GROUP BY token
        |ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin),

    // Unigram-LM quality scoring: corpus token frequencies → per-doc
    // average log-probability (the classic LM-based quality filter,
    // with the corpus itself as the LM). Scale shape: the vocabulary
    // is Zipf-small relative to the corpus, so the frequency table
    // broadcasts back over the token stream — the only corpus-wide
    // shuffles are the vocabulary count and the per-doc aggregate.
    Query("x11_unigram_logprob", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum(col("c")).as("t")) // 1-row scalar
      tok.join(broadcast(freq), Seq("token"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(
          avg(log(col("c").cast("double") / col("t").cast("double")))
            .as("avg_logprob"),
          count(lit(1)).as("n_tokens"))
    },
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |tot AS (SELECT sum(c) AS t FROM freq)
        |SELECT doc_id,
        |  avg(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))) AS avg_logprob,
        |  CAST(count(*) AS BIGINT) AS n_tokens
        |FROM tok JOIN freq USING (token) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin),

    // Per-doc top-3 TF-IDF keywords. Vocabulary-sized df broadcast over
    // the (doc, term) partial aggregate; the per-doc top-k rank pushes
    // into WindowGroupLimit (plan-audited) so hot documents never
    // full-sort their term lists.
    Query("x12_tfidf_topterms", (s, d) =>
      Relevance.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term, tf, df,
        |         tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
        |             DESC, term) AS rn
        |       FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf FROM sc WHERE rn <= 3""".stripMargin),

    // BM25 ranked retrieval for a fixed 3-term query over every matching
    // doc; scores + match counts, selection exact (no float-boundary
    // row picks — the caller ranks). k1/b are single-sourced with the
    // oracle SQL (OracleSql.bm25K1/bm25B) so the two can't silently diverge.
    Query("x13_bm25", (s, d) =>
      Relevance.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "window"), k1 = bm25K1, b = bm25B),
      s"""WITH q AS (SELECT unnest(['spark', 'join', 'window']) AS term),
         |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |       FROM documents),
         |stats AS (SELECT count(*) AS n,
         |            CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |          FROM dl),
         |qtf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |              FROM documents) t JOIN q USING (term)
         |        GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM qtf GROUP BY 1),
         |contrib AS (SELECT doc_id, term,
         |  ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * ($bm25K1 + 1.0)) / (tf + ($bm25K1 * ((1.0 - $bm25B) + $bm25B * dl / avgdl))) AS contrib
         |  FROM qtf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
         |SELECT doc_id,
         |  list_reduce(array_agg(contrib ORDER BY term), (a, b) -> a + b) AS bm25,
         |  CAST(count(*) AS BIGINT) AS n_terms_matched
         |FROM contrib GROUP BY doc_id""".stripMargin),

    // Strict decontamination through the Bloom prefilter + exact-verify
    // path (the 100 TB variant of x7: ~10-bits-per-shingle broadcast
    // instead of a full hash set, identical exact output). Same planted
    // benchmark split as x7; output = the clean doc ids.
    Query("x10_bloom_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      Decontaminate.bloomClean(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", k = 3, fpp = 0.01)
    },
      s"""WITH sh AS (SELECT doc_id, ${sh3("text")} AS shs FROM documents),
         |bench AS (SELECT DISTINCT unnest(shs) AS h FROM sh WHERE doc_id % 97 = 0),
         |train AS (SELECT doc_id, shs FROM sh WHERE doc_id % 97 <> 0),
         |ex AS (SELECT doc_id, unnest(shs) AS h FROM train),
         |dirty AS (SELECT DISTINCT ex.doc_id FROM ex JOIN bench USING (h))
         |SELECT doc_id FROM train
         |WHERE doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin),

    // CCNet-style per-language quality terciles (head/middle/tail by
    // exact per-stratum rank). Semantics = a global per-language window;
    // the plan is the two-phase banded rank in Splits.quantileBuckets —
    // a language never sorts on one reducer. The oracle states the
    // naive global-window form and this plan must reproduce it exactly.
    Query("x14_quantile_filter", (s, d) =>
      Splits.quantileBuckets(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          T.qualityScore(col("text")).as("quality")),
        strata = Seq("lang"), score = col("quality"), tieBreak = col("doc_id"))
        .select(col("doc_id"), col("lang"), col("quality"),
          col("stratum_rank"), col("bucket")),
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         |    CAST(CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl,
         |    CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
         |      / CAST(length(text) AS DOUBLE) AS alpha_ratio,
         |    CAST(len(list_filter(string_split(text, ' '), w -> list_contains($enStops, w))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
         |  FROM documents),
         |q AS (SELECT doc_id, lang,
         |  least(n_tok / 50.0, 1.0) * 0.3
         |    + (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         |    + alpha_ratio * 0.3
         |    + least(stopword_ratio * 5.0, 1.0) * 0.2 AS quality
         |  FROM t),
         |r AS (SELECT doc_id, lang, quality,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY quality DESC, doc_id) AS BIGINT) AS stratum_rank,
         |  count(*) OVER (PARTITION BY lang) AS n
         |  FROM q)
         |SELECT doc_id, lang, quality, stratum_rank,
         |  CASE WHEN stratum_rank * 3 <= n THEN 'head'
         |       WHEN stratum_rank * 3 <= n * 2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM r""".stripMargin),

    // The full Gopher rule battery (Rae et al. 2021 Table A1): word
    // count / word shape / stopword-presence quality rules plus the
    // char-mass n-gram repetition rules (top 2..4-gram, duplicated
    // 5..10-gram). One narrow projection, every statistic a single
    // compiled pass per row.
    Query("x15_gopher_rules", (s, d) =>
      GopherRules.report(Tables.documents(s, d), "doc_id", "text"),
      x15Sql),

    // CCNet-style LM quality score: hashed-bigram model with unigram
    // backoff trained on the curated 'src0' slice, scoring every doc's
    // mean token log-likelihood in integer micro-nats (log-space
    // interpolation quantizes both factors at the model, so the
    // corpus-wide reduction is exact integer math — cross-engine ln
    // jitter cannot accumulate). One grouping-sets model pass, two
    // dense broadcast models, one id-keyed shuffle.
    Query("x16_bigram_logprob", (s, d) =>
      Importance.hashedBigramLogProb(Tables.documents(s, d), "doc_id", "text",
        isModel = col("source") === "src0",
        uniBuckets = 256, biBuckets = 4096, lambdaPct = 70),
      {
        // single-sourced with hashedBigramLogProb(lambdaPct = 70): the
        // unigram weight is the Scala-computed 1.0 - 0.7 interpolated at
        // full precision (0.30000000000000004 — writing 0.3 would be a
        // DIFFERENT double and shift micro-nat floors)
        val lam = 70 / 100.0
        val wU = 1.0 - lam
        s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts
           |  FROM documents WHERE text IS NOT NULL),
           |bg AS (SELECT doc_id, source,
           |    unnest(list_transform(range(1, greatest(len(ts) - 1, 0) + 1),
           |      i -> [${ph("ts[i] || ' ' || ts[i+1]")} % 4096,
           |            ${ph("ts[i+1]")} % 256])) AS p
           |  FROM tok),
           |s AS (SELECT doc_id, source, p[1] AS bb, p[2] AS ub FROM bg),
           |cb AS (SELECT bb, count(*) AS c FROM s WHERE source = 'src0' GROUP BY 1),
           |cu AS (SELECT ub, count(*) AS c FROM s WHERE source = 'src0' GROUP BY 1),
           |mt AS (SELECT count(*) AS t FROM s WHERE source = 'src0'),
           |bi AS (SELECT bb,
           |    CAST(floor($lam * ln(CAST(coalesce(c, 0) + 1 AS DOUBLE)
           |      / CAST(t + 4096 AS DOUBLE)) * 1e6) AS BIGINT) AS lrb
           |  FROM range(4096) AS r(bb) LEFT JOIN cb USING (bb) CROSS JOIN mt),
           |uni AS (SELECT ub,
           |    CAST(floor($wU * ln(CAST(coalesce(c, 0) + 1 AS DOUBLE)
           |      / CAST(t + 256 AS DOUBLE)) * 1e6) AS BIGINT) AS lru
           |  FROM range(256) AS r(ub) LEFT JOIN cu USING (ub) CROSS JOIN mt)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  CAST(sum(lrb + lru) AS BIGINT) AS logp_micro,
           |  CAST(CAST(sum(lrb + lru) AS BIGINT) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS avg_logp_micro
           |FROM s JOIN bi USING (bb) JOIN uni USING (ub)
           |GROUP BY doc_id""".stripMargin
      })
  )

  /** Token-bigram polynomial hashes of a text column, occurrences kept
    * (no distinct) — the top-bigram-fraction input. */
  private def bg2(text: String): String =
    s"list_transform(list_transform(" +
      s"range(1, greatest(len(string_split($text, ' ')) - 1, 0) + 1), " +
      s"i -> array_to_string(list_slice(string_split($text, ' '), i, i + 1), ' ')), " +
      s"s -> ${ph("s")})"
}
