package graft.queries

import graft.operators.GopherRules

/** DuckDB fragments shared by more than one query family's oracles:
  * the engine-neutral hashes, cosine and Jaccard, the band and prefix
  * rules, BM25 and hybrid retrieval, the Gopher rules, BPE, and the
  * oracle statements several queries replay verbatim. Every hash and
  * fold matches the Spark expression ops 1:1 (polyhash, simhash, regexp
  * token count, ordered double folds). A fragment one family uses lives
  * in that family's file.
  */
private[queries] object OracleSql {

  // tk1/tk2's merge-round count — single-sourced with the oracle CTE
  // chain (each round is one materialized CTE triple in bpeCtes).
  val bpeMerges = 12

  /** Polynomial string hash: fold (acc*31 + codepoint) mod P. */
  def ph(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a*31 + b) % 1000000007)"

  /** Distinct 3-shingle polynomial hashes of a text column. */
  def sh3(text: String): String =
    s"list_distinct(list_transform(list_transform(" +
      s"range(1, greatest(len(string_split($text, ' ')) - 2, 0) + 1), " +
      s"i -> array_to_string(list_slice(string_split($text, ' '), i, i + 2), ' ')), " +
      s"s -> ${ph("s")}))"

  /** n-gram keys for the Gopher char-mass rules over a `ts` token-list
    * column: gram strings → `((ph·31 + len) mod P)·2²⁰ + len`, the exact
    * key of [[graft.functions.GopherKernel]] (length packed
    * into the key so collisions — if any — merge identically in both
    * engines). */
  def ngramKeysSql(n: Int): String =
    s"list_transform(list_transform(" +
      s"range(1, greatest(len(ts) - ${n - 1}, 0) + 1), " +
      s"i -> array_to_string(list_slice(ts, i, i + ${n - 1}), ' ')), " +
      s"x -> ((${ph("x")} * 31 + length(x)) % 1000000007) * 1048576 + least(length(x), 1048575))"

  /** Char mass of the most frequent gram in a keys-list column `k`. */
  def topMassSql(k: String): String =
    s"CAST(list_max(list_transform(list_distinct($k), q -> " +
      s"CAST(len(list_filter($k, y -> y = q)) AS BIGINT) * (q % 1048576))) AS DOUBLE)"

  /** Total char mass of grams occurring ≥ 2 times in keys column `k`. */
  def dupMassSql(k: String): String =
    s"CAST(coalesce(list_sum(list_transform(list_distinct($k), q -> " +
      s"CASE WHEN len(list_filter($k, y -> y = q)) >= 2 " +
      s"THEN CAST(len(list_filter($k, y -> y = q)) AS BIGINT) * (q % 1048576) " +
      s"ELSE 0 END)), 0) AS DOUBLE)"

  /** Char-mass fraction with the empty-text / no-grams guard of the
    * native loop. */
  def ngramFracSql(k: String, dup: Boolean): String = {
    val mass = if (dup) dupMassSql(k) else topMassSql(k)
    s"CASE WHEN length(text) = 0 OR len($k) = 0 THEN 0.0 " +
      s"ELSE $mass / CAST(length(text) AS DOUBLE) END"
  }

  /** Jaccard of two distinct-hash lists with empty-union guard. */
  def jac(a: String, b: String): String =
    s"CASE WHEN len(list_distinct(list_concat($a, $b))) = 0 THEN 0.0 " +
      s"ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(len(list_distinct(list_concat($a, $b))) AS DOUBLE) END"

  /** Ordered-fold dot product of two FLOAT[] columns in double. */
  def dot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(64), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE))), " +
      s"(x, y) -> x + y)"

  def cos(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  /** The top-`k` rank block over `scored(query_id, neighbor_id, cosine)`:
    * per query, cosine descending, ties to the smaller neighbor id. With
    * `dropNaN`, a NaN cosine never ranks: Spark's rankTopK drops NaN
    * cosines (the zero-norm rule); DuckDB would otherwise sort NaN
    * first. */
  def topKSql(scored: String, k: Int, dropNaN: Boolean): String =
    s"""SELECT query_id, neighbor_id, cosine, "rank" FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS "rank"
       |  FROM $scored${if (dropNaN) " WHERE NOT isnan(cosine)" else ""}) WHERE "rank" <= $k""".stripMargin

  /** The IVF stub index's centroids (sim3's contract): the first 8
    * corpus vectors, cell id = vec_id. */
  def ivfCentsCte: String =
    """cents AS (
      |  SELECT vec_id AS cell, embedding AS centroid
      |  FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL)""".stripMargin

  /** The IVF replay as CTEs: [[ivfCentsCte]]; `cells`, each vector's
    * argmax cell by (cosine DESC, cell); `probes`, the top-2 cells of
    * each of the first 20 vectors as queries. Rows carry the float
    * vector (`cv`, `qv`) or, with `sq8`, the int8 codes `q8` of
    * [[sq8CodesCte]]'s `e8`. */
  def ivfCtes(sq8: Boolean): String = {
    def side(t: String, v: String) =
      if (sq8) ("q8", "e8.q8", s" JOIN e8 ON e8.vec_id = $t.vec_id")
      else (v, s"$t.embedding AS $v", "")
    val (cv, cSel, cJoin) = side("e", "cv")
    val (qv, qSel, qJoin) = side("q", "qv")
    s"""$ivfCentsCte,
       |cells AS (
       |  SELECT cell, neighbor_id, $cv FROM (
       |    SELECT c.cell, e.vec_id AS neighbor_id, $cSel,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e$cJoin CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT cell, query_id, $qv FROM (
       |    SELECT c.cell, q.vec_id AS query_id, $qSel,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cos("q.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings q$qJoin CROSS JOIN cents c WHERE q.vec_id < 20) WHERE rn <= 2)""".stripMargin
  }

  /** The SQ8 int8-code CTE shared by the sim7/sim8 oracles — quantization
    * matching [[graft.operators.Similarity]]'s `q8` expression exactly
    * (float→double widening, ·127, floor, ±127 clamp). */
  val sq8CodesCte: String =
    """e8 AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> greatest(CAST(-127 AS BIGINT),
      |      least(CAST(127 AS BIGINT),
      |        CAST(floor(CAST(x AS DOUBLE) * 127) AS BIGINT)))) AS q8
      |  FROM embeddings)""".stripMargin

  /** Random-hyperplane LSH bucket (8 planes, dim 64) of a FLOAT[]
    * column — plane component = the quadratically-mixed sequence of
    * `NativeVector.lshSignature` (idx = p·64 + j + 1; non-linear in
    * idx so planes stay decorrelated), BIGINT-exact in DuckDB. */
  def bucket(a: String): String =
    s"CAST(list_sum(list_transform(range(8), p -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(64), j -> CAST($a[j+1] AS DOUBLE) * " +
      s"(CAST((((p*64 + j + 1) * (p*64 + j + 1)) % 1000003 * 427799 " +
      s"+ (p*64 + j + 1) * 653 + 7919) % 1000003 AS DOUBLE) " +
      s"/ 1000003.0 - 0.5))), " +
      s"(x, y) -> x + y) > 0 THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  /** Low-half polynomial fold of the 61-bit simhash token hash
    * (multiplier 1000003 mod 2^31-1; bits 0..30 — the mod-1e9+7 fold
    * covers bits 31..60). */
  def ph2(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a*1000003 + b) % 2147483647)"

  /** 61-bit simhash of a text column (majority vote over packed
    * dual-fold token hashes — every signature bit carries signal). */
  def simhash(text: String): String = {
    val hashes = s"list_transform(string_split($text, ' '), " +
      s"s -> ${ph("s")} * 2147483648 + ${ph2("s")})"
    s"CAST(list_sum(list_transform(range(61), j -> " +
      s"CASE WHEN 2 * CAST(list_sum(list_transform($hashes, x -> " +
      s"(x // (CAST(1 AS BIGINT) << j)) % 2)) AS BIGINT) > len($hashes) " +
      s"THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
  }

  val enStops = "['the','a','of','and','to','in','is']"

  /** BM25 parameters, shared by the x13 query registration AND its oracle
    * SQL (the SQL interpolates these same values) — one source of truth. */
  val bm25K1 = 1.2
  val bm25B = 0.75

  /** [[prefixTruncated]]'s 4/5-token prefix of column `text` — the
    * oracle SQL's one spelling of the planted-near-dup rule. */
  lazy val prefixTextSql: String =
    "array_to_string(list_slice(string_split(text, ' '), 1, " +
      "greatest((len(string_split(text, ' ')) * 4) // 5, 1)), ' ')"

  /** The ingest-batch derivation as a CTE — the SQL twin of
    * [[incrBatchOf]], shared by the dd14 and pl7 oracles (one
    * definition; a batch-derivation change hits every consumer). */
  lazy val ingestBatchCte: String =
    s"""batch AS (
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, $prefixTextSql AS text
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 4000000 AS doc_id,
      |    array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
      |  FROM documents WHERE doc_id % 13 = 0)""".stripMargin

  /** The dd14 gate's band/candidate/verify/best CTE chain over batch
    * source `src` vs the `documents` prior — shared by the dd14 oracle
    * (src = the full batch) and pl7's (src = the exact-gate
    * survivors). Emits `best` (bid, pid, jaccard). */
  def gateCtes(src: String): String =
    s"""${bandSql("b", src, "doc_id")},
       |${bandSql("p", "documents", "doc_id")},
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS bid, p.doc_id AS pid
       |  FROM bband b JOIN pband p
       |    ON b.band = p.band AND b.band_key = p.band_key),
       |ver AS (
       |  SELECT bid, pid, jaccard FROM (
       |    SELECT c.bid, c.pid, ${jac("bs.shs", "ps.shs")} AS jaccard
       |    FROM cand c
       |    JOIN bsig bs ON bs.doc_id = c.bid
       |    JOIN psig ps ON ps.doc_id = c.pid)
       |  WHERE jaccard >= 0.5),
       |best AS (
       |  SELECT bid, pid, jaccard FROM (
       |    SELECT *, row_number() OVER (PARTITION BY bid
       |      ORDER BY jaccard DESC, pid) AS rk FROM ver)
       |  WHERE rk = 1)""".stripMargin

  /** sim10's query set: (query_id, BM25 term set, dense query vec_id).
    * The Spark wiring and the oracle CTEs both derive from this one
    * value (the bm25K1/bm25B discipline — a query change must hit both
    * sides). */
  val hybridQueries: Seq[(Long, Seq[String], Long)] = Seq(
    (0L, Seq("spark", "join", "window"), 5L),
    (1L, Seq("hash", "scan", "filter"), 17L),
    (2L, Seq("stream", "batch", "vector"), 29L))
  val hybridFetchK = 20
  val hybridKRrf = 60

  /** BM25-scored (doc_id, bm25) block for one term set — the x13
    * formula verbatim as a derived table; expects `dl` (doc_id, dl) and
    * `stats` (n, avgdl) CTEs in the enclosing query (outer CTEs are in
    * scope inside a nested WITH per the SQL standard; DuckDB honors
    * it). */
  def bm25ScoredSqlFor(terms: Seq[String]): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""(WITH qtf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |              FROM documents) t WHERE term IN ($termList)
       |        GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |       FROM qtf GROUP BY 1),
       |contrib AS (SELECT doc_id, term,
       |  ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |    * (tf * ($bm25K1 + 1.0)) / (tf + ($bm25K1 * ((1.0 - $bm25B) + $bm25B * dl / avgdl))) AS contrib
       |  FROM qtf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
       |SELECT doc_id,
       |  list_reduce(array_agg(contrib ORDER BY term), (a, b) -> a + b) AS bm25
       |FROM contrib GROUP BY doc_id)""".stripMargin
  }

  /** CASE arms mapping a hybrid query's dense vec_id to its query_id,
    * and the list of those vec_ids. */
  def hybridVidCase: String =
    hybridQueries.map { case (qid, _, vid) => s"WHEN $vid THEN $qid" }.mkString(" ")
  def hybridVids: String = hybridQueries.map(_._3).mkString(", ")

  /** sim10's rank fusion as CTEs around a dense arm: the sparse arm
    * (per-query BM25 blocks over the shared `dl`/`stats` CTEs) ranked to
    * fetchK as `sranked`; then `dense`, CTEs ending in
    * `denseScored(query_id, doc_id, cosine)`, ranked to fetchK as
    * `dranked` (a NaN cosine never ranks); then the RRF ordered fold in
    * list order as `rrf(query_id, doc_id, rrf)`. */
  def hybridRrfCtes(dense: String, denseScored: String, rrf: String): String = {
    val sparseArms = hybridQueries.map { case (qid, terms, _) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id, bm25
         |  FROM ${bm25ScoredSqlFor(terms)}""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |       FROM documents),
       |stats AS (SELECT count(*) AS n,
       |            CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |          FROM dl),
       |sp AS (
       |  $sparseArms),
       |sranked AS (
       |  SELECT query_id, doc_id, r FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r
       |    FROM sp) WHERE r <= $hybridFetchK),
       |$dense,
       |dranked AS (
       |  SELECT query_id, doc_id, r FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, doc_id) AS BIGINT) AS r
       |    FROM $denseScored WHERE NOT isnan(cosine)) WHERE r <= $hybridFetchK),
       |u AS (SELECT query_id, doc_id, 0 AS src, r FROM sranked
       |      UNION ALL
       |      SELECT query_id, doc_id, 1 AS src, r FROM dranked),
       |$rrf AS (SELECT query_id, doc_id,
       |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |          list_transform(array_agg({'src': src, 'r': r} ORDER BY src, r),
       |            s -> 1.0 / ($hybridKRrf + s.r))), (a, b) -> a + b) AS rrf
       |      FROM u GROUP BY 1, 2)""".stripMargin
  }

  lazy val nearDupDocsSql =
    s"""SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, $prefixTextSql AS text
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  val exactDupDocsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |WHERE doc_id % 10 = 0""".stripMargin

  /** The IVF top-5 replay: probe each query's 2 cells, rank the cells'
    * members. Also composed by sim5's recall audit and replayed
    * verbatim by pl15. */
  lazy val sim3Sql: String =
    s"""WITH ${ivfCtes(sq8 = false)},
         |scored AS (
         |  SELECT query_id, neighbor_id, ${cos("qv", "cv")} AS cosine
         |  FROM probes JOIN cells USING (cell) WHERE neighbor_id <> query_id)
         |${topKSql("scored", 5, dropNaN = false)}""".stripMargin

  /** The ck2 sentence segmentation + boundary-aligned packing as a CTE
    * chain over `src` (any relation with doc_id, text), ending in table
    * `ck2chunks(doc_id, chunk_id, chunk, n_tokens, n_sentences)`.
    * Note list_slice is END-INCLUSIVE where Spark's slice is
    * length-based: list_slice(tk, a, a + len - 1 + 1) == slice(ts, a, len). */
  def sentencePackSql(src: String, budget: Int): String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS tk
       |  FROM $src WHERE text IS NOT NULL),
       |sen AS (SELECT doc_id, list_filter(list_transform(range(len(tk) // 3 + 1), i ->
       |    CASE WHEN 39*(i // 6) + ([0,5,14,21,24,35])[(i % 6) + 1] < len(tk)
       |    THEN array_to_string(list_slice(tk,
       |      39*(i // 6) + ([0,5,14,21,24,35])[(i % 6) + 1] + 1,
       |      39*(i // 6) + ([0,5,14,21,24,35])[(i % 6) + 1] + ([5,9,7,3,11,4])[(i % 6) + 1]), ' ')
       |    ELSE NULL END), s -> s IS NOT NULL AND len(s) > 0) AS sents FROM d),
       |tkx AS (SELECT doc_id, sents,
       |  list_transform(sents, s -> CAST(len(list_filter(string_split(s, ' '),
       |    w -> len(w) > 0)) AS BIGINT)) AS tkc FROM sen),
       |ex AS (SELECT doc_id, sents, tkc, unnest(range(len(sents))) AS i FROM tkx),
       |rows0 AS (SELECT doc_id, i, sents[i + 1] AS s, tkc[i + 1] AS tk,
       |  CAST(coalesce(list_sum(list_slice(tkc, 1, i)), 0) AS BIGINT) AS cumb FROM ex),
       |ck2chunks AS (SELECT doc_id, CAST(cumb // $budget AS BIGINT) AS chunk_id,
       |  array_to_string(list(s ORDER BY i), ' ') AS chunk,
       |  CAST(sum(tk) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_sentences
       |  FROM rows0 GROUP BY doc_id, cumb // $budget)""".stripMargin

  /** Full x15 oracle query (the Gopher rule battery) — also embedded as
    * a CTE by pl3's curation-pipeline oracle. */
  lazy val x15Sql: String = x15SqlFor("documents")

  /** The same battery over any (doc_id, text) CTE/table `src` —
    * pl7's quality stage runs it over the dedup survivors. */
  def x15SqlFor(src: String): String = {
    val keyCols = (GopherRules.topNgramMax ++ GopherRules.dupNgramMax)
      .map { case (n, _) => s"    ${ngramKeysSql(n)} AS k$n" }
      .mkString(",\n")
    val fracCols = (GopherRules.topNgramMax.map { case (n, _) =>
      s"    ${ngramFracSql(s"k$n", dup = false)} AS top${n}gram_frac" } ++
      GopherRules.dupNgramMax.map { case (n, _) =>
        s"    ${ngramFracSql(s"k$n", dup = true)} AS dup${n}gram_frac" })
      .mkString(",\n")
    val passQ = "n_tokens BETWEEN 50 AND 100000 " +
      "AND mean_tok_len BETWEEN 3.0 AND 10.0 " +
      "AND alpha_word_frac >= 0.8 AND stop_hits >= 2"
    val passR = (GopherRules.topNgramMax.map { case (n, thr) =>
      s"top${n}gram_frac <= $thr" } ++
      GopherRules.dupNgramMax.map { case (n, thr) =>
        s"dup${n}gram_frac <= $thr" }).mkString(" AND ")
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM $src),
       |g AS (SELECT doc_id, text, ts,
       |$keyCols
       |  FROM t),
       |s AS (SELECT doc_id, text,
       |    CAST(len(ts) AS BIGINT) AS n_tokens,
       |    CAST(CAST(list_sum(list_transform(ts, w -> length(w))) AS BIGINT) AS DOUBLE)
       |      / CAST(len(ts) AS DOUBLE) AS mean_tok_len,
       |    CAST(len(list_filter(ts, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
       |      / CAST(len(ts) AS DOUBLE) AS alpha_word_frac,
       |    CAST(len(list_filter($enStops, sw -> list_contains(ts, sw))) AS BIGINT) AS stop_hits,
       |$fracCols
       |  FROM g)
       |SELECT * EXCLUDE (text),
       |  coalesce($passQ, false) AS pass_quality,
       |  coalesce($passR, false) AS pass_repetition,
       |  coalesce(($passQ) AND ($passR), false) AS keep
       |FROM s""".stripMargin
  }

  /** sig + band CTE pair replaying `minHashBandKeys` (k = 3, 32 hashes,
    * 8 bands) over CTE/table `src` carrying (`idCol`, text) — emits
    * `<pfx>band(idCol, shs, band, band_key)`. The oracle SQL's one home
    * of the MinHash family (the Scala one is `MinHashBandKeysExpr`),
    * shared by dd2 (and the dd6/pl2/sp3 clusters built on it), the
    * dd14/pl7/pl10 gate CTEs, x17 and pl3. */
  def bandSql(pfx: String, src: String, idCol: String): String =
    s"""${pfx}sig AS (SELECT $idCol, ${sh3("text")} AS shs,
       |    list_transform(range(32), i -> CAST(list_min(list_transform(${sh3("text")},
       |      h -> (h * (2*i + 1) + (7919*i + 13)) % 1000000007)) AS BIGINT)) AS mh
       |  FROM $src),
       |${pfx}band AS (SELECT $idCol, shs, t.b AS band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(mh, t.b*4 + 1, t.b*4 + 4)),
       |      (a, v) -> (a*31 + v) % 1000000007) AS band_key
       |  FROM ${pfx}sig CROSS JOIN range(8) AS t(b))""".stripMargin

  /** The x17/pl3 benchmark stand-ins: 80%-prefix truncations of every
    * 97th document. */
  lazy val fuzzyBenchSql: String =
    s"""SELECT doc_id + 2000000 AS bid, $prefixTextSql AS text
      |  FROM documents WHERE doc_id % 97 = 0""".stripMargin

  /** Shared connected-components prelude (dd2 pairs → recursive
    * reachability → min-id labels `lab` + `corpus`) — the cluster
    * machinery pl2 and sp3 both replay. */
  lazy val ccLabSql: String =
    s"""WITH RECURSIVE p AS (
       |$dd2Sql
       |),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach(n, m) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, r.m FROM reach r JOIN edges e ON e.b = r.n),
       |lab AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n),
       |corpus AS ($nearDupDocsSql)""".stripMargin

  /** Full dd2 oracle query — also embedded as a CTE by dd6's recursive
    * connected-components oracle. */
  lazy val dd2Sql: String =
    s"""WITH cand AS ($nearDupDocsSql),
       |${bandSql("d", "cand", "doc_id")},
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |    ${jac("l.shs", "r.shs")} AS jaccard
       |  FROM dband l JOIN dband r
       |    ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin

  /** The BPE learn loop replayed round-for-round in DuckDB: r0 is the
    * corpus word histogram with characters as symbols; each round k
    * counts adjacent (overlapping) symbol pairs weighted by word
    * frequency (pK), picks the (count DESC, left, right) argmax (bK),
    * and applies the merge as the same leftmost-nonoverlapping string
    * fold as [[Bpe]] — the accumulator ends with the merged token after
    * a merge, so it can never re-match as the pair's left. An EXHAUSTED
    * round (no adjacent pairs left, b$k empty) passes the histogram
    * through unchanged via the NOT EXISTS branch — the same contract as
    * [[graft.operators.Bpe.learn]] stopping early, instead of the bare
    * cross join wiping the chain on a degenerate corpus. MATERIALIZED
    * is load-bearing: each CTE is referenced by the two following ones,
    * and inlining would re-derive the whole chain exponentially. */
  def bpeCtes(n: Int, src: String = "documents"): String = {
    val r0 =
      s"""r0 AS MATERIALIZED (
         |  SELECT w AS word, array_to_string(string_split(w, ''), ' ') AS sym,
         |         CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $src)
         |  WHERE w <> '' GROUP BY w)""".stripMargin
    val rounds = (1 to n).map { k =>
      val p = k - 1
      s"""p$k AS MATERIALIZED (
         |  SELECT s[i] AS l, s[i+1] AS r, CAST(sum(freq) AS BIGINT) AS c
         |  FROM (SELECT string_split(sym, ' ') AS s, freq FROM r$p),
         |       UNNEST(range(1, len(s))) AS u(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |r$k AS MATERIALIZED (
         |  SELECT word,
         |    list_reduce(string_split(sym, ' '), (acc, x) -> CASE
         |      WHEN x = b$k.r AND (acc = b$k.l OR ends_with(acc, ' ' || b$k.l))
         |      THEN acc || x ELSE acc || ' ' || x END) AS sym,
         |    freq
         |  FROM r$p, b$k
         |  UNION ALL
         |  SELECT word, sym, freq FROM r$p
         |  WHERE NOT EXISTS (SELECT 1 FROM b$k))""".stripMargin
    }
    (r0 +: rounds).mkString(",\n")
  }
}
