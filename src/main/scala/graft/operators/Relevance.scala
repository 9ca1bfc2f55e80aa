package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-relative term relevance: TF-IDF keyword extraction and BM25
  * ranked retrieval — the scoring half of a retrieval / data-curation
  * pipeline (query-aware filtering, topic labeling, boilerplate term
  * discovery complement the frequency-only signals in
  * [[graft.functions.TextFunctions]] and the unigram-LM score in
  * `TextQueries`' x11).
  *
  * Scale shape (both operators): the token stream is the only
  * corpus-sized intermediate and it is reduced IMMEDIATELY by a
  * composite-key partial aggregate (map-side combine on (doc, term)).
  * Every corpus-global statistic — document frequency, doc count,
  * average document length — is Zipf-small relative to the corpus and
  * broadcasts back over the reduced table, so no corpus-wide join ever
  * shuffles on text. Tokenization is the library-wide single-space
  * convention (cf. TextFunctions.tokenCount).
  */
object Relevance {

  /** Per-document top-`k` TF-IDF terms: tfidf = tf · ln(N / df), ties
    * broken by term so the result is deterministic. Output one row per
    * kept (doc, term): (doc_id, term, tf, df, tfidf).
    *
    * Plan at 100 TB: explode → partial-agg on (doc, term) is the only
    * full-width shuffle; df is a per-term aggregate of the reduced
    * table (vocabulary-sized → broadcast back, same argument as the
    * x11 unigram LM); the per-doc top-k is a rank window whose
    * `rn ≤ k` predicate pushes into WindowGroupLimit, so each map task
    * keeps k rows per doc instead of sorting whole documents'
    * term lists (pinned in PlanAuditSpec alongside sp2's).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df from the REDUCED tf table (one row per (doc, term) already), not
    // a second pass over the corpus-sized token stream: a plain count per
    // term here IS count_distinct(doc_id) over tok, without re-running the
    // explode or shuffling raw (term, doc_id) pairs pre-reduction.
    // count(when(tf >= 1, 1)) — not count(1) — on purpose: tf ≥ 1 always,
    // so the value is identical, but depending on tf's VALUE (not just its
    // presence) stops column pruning from rewriting the lower (doc, term)
    // aggregate into a bare distinct — which would de-canonicalize it
    // against the main branch's and kill exchange reuse. With the two
    // subtrees canonically equal, ReuseExchange serves BOTH branches from
    // one explode + one shuffle (pinned in PlanAuditSpec).
    val df = tf.groupBy(col("term"))
      .agg(count(when(col("tf") >= 1, 1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs")) // 1-row scalar
    val scored = tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Okapi BM25 score of every document that matches at least one query
    * term: Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) with
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1). Output (doc_id, bm25,
    * n_terms_matched); rank/limit is the caller's (a top-k on the score
    * compiles to TakeOrderedAndProject — bounded per-partition heaps).
    *
    * Plan at 100 TB: document length comes from a NARROW projection
    * (`size(split(text))` — no explode, no shuffle); the token stream
    * is filtered to the query vocabulary directly on the explode output
    * (plan-audited), so every wide edge carries |matches| rows, not the
    * corpus; df and (N, avgdl) are constant-size broadcasts. The tf and
    * df branches each re-tokenize (two NARROW passes over the scan —
    * their aggregate shapes differ post-optimizer, so the exchange is
    * not reusable; a hot stopword query term stays safe because df is a
    * partial aggregate, never a per-term window). Wide edges: the tf
    * partial-agg and the dl equi-join on doc id.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    bm25Scored(docs, idCol, textCol, queryTerms.distinct, k1, b)
      // per-doc score = ordered fold over the term-sorted contributions
      // (the library-wide float-reduction convention): the sum is
      // bit-identical run-to-run and engine-to-engine, so two docs with
      // the same term profile score EXACTLY equal — a partial float sum
      // would order-jitter them apart
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("term"), col("contrib")))).as("cs"))
      .select(col("doc_id"),
        aggregate(col("cs"), lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("bm25"),
        size(col("cs")).cast("long").as("n_terms_matched"))
  }

  /** BM25 for a BATCH of queries in ONE corpus pass — bit-identical
    * per-query scores to calling [[bm25]] once per query (the r21
    * optimization receipt: sim10/pl8's sparse arms ran |Q| separate
    * corpus scans — |Q| tokenize-explode exchanges, |Q| doc-length
    * joins — for scores that differ only in which (query, term) rows
    * survive; guide §2.4 "do fewer shuffles", §2.3 "aggregate before
    * you shuffle"). Equivalence is term-local: tf(doc, term), df(term),
    * N and avgdl do not depend on the query, the per-(query, doc)
    * contribution is the same expression, and the per-(query, doc)
    * fold runs over the same term-sorted contribution list a
    * single-query fold sees — so every double is the same double.
    * Terms may repeat across queries (each (query_id, term) pair scores
    * independently); duplicate terms within one query are collapsed,
    * matching [[bm25]]'s set semantics.
    *
    * @return (query_id, doc_id, bm25, n_terms_matched), one row per
    *         query × doc matching ≥ 1 of that query's terms. */
  def bm25PerQuery(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, Seq[String])], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25PerQuery: empty query set or empty query")
    // duplicate query ids would silently MERGE their term sets (the
    // flatMap below builds one combined (qid, term) map), scoring a
    // query nobody asked for — fail loudly instead (ADVICE r21)
    require(queries.map(_._1).distinct.size == queries.size,
      s"bm25PerQuery: duplicate query ids in ${queries.map(_._1)}")
    val vocab = queries.flatMap(_._2).distinct
    val qmap = docs.sparkSession.createDataFrame(
      queries.flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) })
      .toDF("query_id", "term")
    bm25Scored(docs, idCol, textCol, vocab, k1, b)
      .join(broadcast(qmap), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("term"), col("contrib")))).as("cs"))
      .select(col("query_id"), col("doc_id"),
        aggregate(col("cs"), lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("bm25"),
        size(col("cs")).cast("long").as("n_terms_matched"))
  }

  /** Shared scorer for [[bm25]] / [[bm25PerQuery]]: one row per
    * (doc_id, term ∈ vocab) with the BM25 term contribution — the
    * corpus tokenize/tf/df/dl/stats pipeline, computed once per call
    * regardless of how many queries consume it. */
  private def bm25Scored(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String], k1: Double, b: Double): DataFrame = {
    val dl = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("dl"))
    // avgdl as an exact integer sum ÷ count (one correctly-rounded
    // division) — bit-reproducible across engines and partitionings,
    // unlike a float avg whose partial-merge order varies
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val qtf = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = qtf.groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"))
    qtf.join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sdl").cast("double") / col("n").cast("double"))
      .withColumn("idf",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + (lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the standard
    * hybrid-retrieval combinator: given N ranked lists per query
    * (sparse BM25, dense cosine, …), score every retrieved document
    * `Σ_i 1/(kRrf + rank_i)` over the lists it appears in and emit the
    * fused top-`k` per query. Rank-based fusion needs no score
    * calibration between retrievers — the reason production RAG stacks
    * fuse this way rather than mixing raw BM25 and cosine values.
    *
    * Each input: (query_id, doc_id, rank), rank 1-based, one row per
    * (query, doc) per list. The RRF sum is an ordered fold in
    * list-index order (the library-wide float-reduction convention),
    * so the result is bit-identical run-to-run and engine-to-engine
    * even though double addition does not commute exactly. Final ties
    * break by doc_id ascending.
    *
    * Plan at 100 TB: fusion never touches the corpus — the inputs are
    * already top-`fetchK` lists, |queries|·fetchK rows each, so the
    * union + (query, doc)-keyed aggregate and the per-query rank
    * window (WindowGroupLimit, ≤ k survivors per partition) are
    * query-side-sized. The corpus-scan cost lives entirely in the
    * upstream retrievers ([[bm25]]; `Similarity.bruteForceTopK` /
    * `lshTopK` / `ivfSq8TopK`). No reference analog (arcon has no
    * retrieval ops); Spark-first design.
    *
    * @return (query_id, doc_id, rrf, rank) with rank ≤ k per query.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no ranked lists")
    require(k > 0, "k must be positive")
    require(kRrf > 0, "kRrf must be positive")
    val tagged = lists.zipWithIndex.map { case (df, i) =>
      df.select(col("query_id"), col("doc_id"), lit(i).as("src"),
        col("rank").cast("long").as("r"))
    }
    val fused = tagged.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("src"), col("r")))).as("cs"))
      .select(col("query_id"), col("doc_id"),
        aggregate(col("cs"), lit(0.0),
          (acc, x) => acc + lit(1.0) / (lit(kRrf) + x.getField("r")))
          .as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
