package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Plan-shape audits: the properties that make these queries survive a
  * 100× scale-up, asserted against the actual physical plans so a
  * regression (a filter that stops pushing, a broadcast that becomes a
  * shuffle join, an aggregation that loses its map-side partial) fails
  * the build — not just a slower benchmark.
  */
class PlanAuditSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Physical plan under the 100 TB planner regime: AQE off (its runtime
    * broadcast-conversion of tiny sf0.001 stages is timing-dependent —
    * the same query can finalize as SMJ-with-reused-exchanges or as
    * all-broadcast depending on stage completion order) and implicit
    * size-based broadcasts off (at scale no corpus-derived table fits
    * under the threshold; explicit `broadcast()` hints still apply).
    * This is the deterministic shape exchange-sharing audits pin. */
  private def staticScalePlan(name: String): String = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("t1_filter: predicates push into the parquet scan (row-group pruning at scale)") {
    val p = plan("t1_filter")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("LessThan(l_quantity"))
  }

  test("j2_join_broadcast: dimension join is a broadcast, not a shuffle of the fact table") {
    val p = plan("j2_join_broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("q1_agg: aggregation runs partial (map-side combine) before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("Partial"))
  }

  test("t2_map: computed projection stays inside whole-stage codegen") {
    val df = SparkEntry.queries("t2_map")(spark, sf)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("[codegen id"), formatted) // WSCG stage markers
  }

  test("dd2_minhash_lsh: the band self-join exchange carries no shingle arrays") {
    // the only array column is `sh`; it must not appear in any Exchange's
    // output — the band join ships (band, band_key, id) scalars only.
    val p = plan("dd2_minhash_lsh")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning(band"))
    assert(exchanges.forall(l => !l.contains("sh#")), p)
  }

  test("dd2_minhash_lsh: band rows dedup to DISTINCT texts before the self-join; content-key exchanges are shared") {
    // Text-identical compaction (the dd2 analog of dd3's
    // signature-identical compaction): every band-key posexplode must
    // feed the (band, band_key, fp, ln) distinct aggregate — its
    // map-side partial collapses verbatim-identical texts per partition
    // before anything ships, so the band join is quadratic in
    // distinct-text bucket population, never in dup-cluster size.
    val opt = SparkEntry.queries("dd2_minhash_lsh")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val lines = opt.linesIterator.toSeq
    val genIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("posexplode") => i
    }
    assert(genIdx.nonEmpty, opt)
    genIdx.foreach { i =>
      val above = lines.slice(math.max(0, i - 4), i)
      assert(above.exists(_.contains("Aggregate [band")),
        s"band rows not deduped before the self-join:\n" +
          lines.slice(math.max(0, i - 4), i + 1).mkString("\n"))
    }
    // the corpus shuffles on the 16-byte (fp, ln) content key into AT
    // MOST three narrow exchanges — the (id, fp, ln) membership table,
    // the column-pruned group-count path, and the compacted
    // per-distinct-text shingle-set table — and the other consumer
    // branches read them as ReusedExchange. Pinned on the deterministic
    // static-scale plan (see staticScalePlan): a regression that splits a
    // shared branch into its own corpus scan shows up as a FOURTH
    // distinct content-key exchange and fewer reuse sites.
    val fin = staticScalePlan("dd2_minhash_lsh")
    // "fp#" (not "fp") so the 4-column candidate-pair distinct exchange
    // on (fp_a, ln_a, fp_b, ln_b) is not miscounted as a content-key one
    val fpEx = fin.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(fp#") && !l.contains("ReusedExchange"))
    assert(fpEx <= 3,
      s"expected <=3 content-key exchanges (members + group counts + sh table), found $fpEx:\n$fin")
    val reused = fin.linesIterator.count(_.contains("ReusedExchange"))
    assert(reused >= 4,
      s"expected >=4 ReusedExchange consumer branches, found $reused:\n$fin")
  }

  test("dd3_simhash: band join keys carry the Manku-extended bits, not a bare 16-bit chunk") {
    // the packed 3-block key multiplies the leading block by 2^20
    // (1048576) — the literal can only appear if the join key spans
    // ~31 signature bits; a regression to 16-bit chunks (bucket count
    // capped at 2^16 — the round-4 scale-killer) loses it.
    val p = plan("dd3_simhash")
    assert(p.contains("1048576"), p)
    // the self-join equi-keys are (tbl, band_key) — at sf0.001 AQE
    // broadcasts one side, at scale the same keys hash-partition both
    assert(p.linesIterator.exists(l =>
      l.contains("Join [tbl#") && l.contains("band_key#")), p)
  }

  test("dd3_simhash: only DISTINCT signatures are banded; the corpus exchange is shared") {
    // Signature-identical compaction (the 100× fix for identical-content
    // dup clusters): every posexplode of the band keys must consume the
    // distinct-signature AGGREGATE output, never per-document rows — in
    // the optimized plan each Generate sits above an Aggregate keyed on
    // the signature.
    val opt = SparkEntry.queries("dd3_simhash")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val lines = opt.linesIterator.toSeq
    val genIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("posexplode") => i
    }
    assert(genIdx.nonEmpty, opt)
    genIdx.foreach { i =>
      val below = lines.drop(i + 1).take(3)
      assert(below.exists(l => l.contains("Aggregate [sig#")),
        s"band-key Generate not fed by the distinct-signature aggregate:\n" +
          lines.slice(i, i + 4).mkString("\n"))
    }
    // the corpus shuffles on the signature into a BOUNDED set of narrow
    // exchanges — the (id, sig) membership table, the column-pruned
    // (sig)-only distinct path, plus the SMJ requirement exchanges the
    // no-broadcast regime inserts (all 8-byte sig scalars) — and the
    // remaining consumer branches (intra pairs doc_a/doc_b, membership
    // expansion ×2, dup-sig filter, banding ×2) read them as
    // ReusedExchange. Pinned on the deterministic static-scale plan (see
    // staticScalePlan): a regression that splits a shared branch into its
    // own signature scan raises the distinct-exchange count past the
    // bound and drops reuse sites.
    val fin = staticScalePlan("dd3_simhash")
    val sigExchanges = fin.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(sig") && !l.contains("ReusedExchange"))
    assert(sigExchanges <= 5,
      s"expected <=5 signature exchanges (members + distinct-sig + SMJ requirements), found $sigExchanges:\n$fin")
    val reused = fin.linesIterator.count(_.contains("ReusedExchange"))
    assert(reused >= 4,
      s"expected >=4 ReusedExchange consumer branches, found $reused:\n$fin")
  }

  test("signature-keyed queries evaluate their signatures once per row — never inside a Filter") {
    // Two regressions this pins:
    //  1. a nullable signature join key makes InferFiltersFromConstraints
    //     add `isnotnull(<signature expr>(...))` below the projection —
    //     the full signature scan then runs TWICE per row (Filter +
    //     Project; WSCG does not CSE across operators);
    //  2. CollapseProject inlining the signature into each of the 20
    //     band-key expressions would scan each document 20×.
    // The fix (Dedup/Similarity): pre-filter null inputs, mark the key
    // non-nullable via coalesce. Here: no expensive expr in any Filter
    // line, and band keys reference a projected sig attribute.
    val expensive = Seq("simhashexpr", "minhashbandkeysexpr",
      "shinglehashesexpr", "lshsignatureexpr", "ahash61expr")
    // (x7/pl1: InferFiltersFromGenerate + predicate pushdown used to
    // clone the shingle scan into size>0 / isnotnull filters — fixed by
    // explode_outer + non-nullable signature keys; swept over EVERY
    // query so a new operator can't silently reintroduce the pattern)
    for ((q, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val opt = fn(spark, sf).queryExecution.optimizedPlan.toString.toLowerCase
      val bad = opt.linesIterator
        .filter(l => l.contains("filter "))
        .filter(l => expensive.exists(l.contains)).toSeq
      assert(bad.isEmpty,
        s"$q evaluates a signature expression inside a Filter:\n${bad.mkString("\n")}")
    }
    // the 20 dd3 band keys must consume a single projected sig attribute
    val dd3 = SparkEntry.queries("dd3_simhash")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val generateLines = dd3.linesIterator.filter(_.contains("posexplode")).toSeq
    assert(generateLines.nonEmpty)
    assert(generateLines.forall(l => !l.toLowerCase.contains("simhashexpr")),
      s"band keys recompute the signature:\n${generateLines.mkString("\n")}")
  }

  test("pl9_multimodal_dedup: decode runs once behind the members stage boundary; no exchange ships frame or media bytes") {
    val p = staticScalePlan("pl9_multimodal_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the decode + per-frame hash materialize ONCE into the scalar
    // (frame_no, id, sig) members table (perceptualFrameDup's
    // localCheckpoint): the final plan reads ExistingRDD scans and the
    // expensive MapPartitions decode appears in NO consumer branch —
    // without the boundary the engine's membership and column-pruned
    // distinct shapes each re-ran the decode (observed: 2 full decode
    // subtrees)
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("MapPartitions graft.operators.Multimodal"), p)
    // every shuffle carries (frame_no, id, sig) scalars — the binary
    // frame/media columns are consumed scan-side by the hash and must
    // never ride an exchange
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l =>
      !l.contains("frame#") && !l.contains("media#")), p)
    // the band-key Generates (the shiftright bit-arithmetic of
    // simHashBandKeys over a Long sig — the frame-sampling sequence
    // explode legitimately sits pre-boundary) consume the
    // distinct-signature aggregate, never per-frame member rows
    val opt = SparkEntry.queries("pl9_multimodal_dedup")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val lines = opt.linesIterator.toSeq
    val genIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("posexplode") &&
        l.contains("shiftright(sig#") => i
    }
    assert(genIdx.nonEmpty, opt)
    genIdx.foreach { i =>
      val below = lines.drop(i + 1).take(3)
      assert(below.exists(l => l.contains("Aggregate [frame_no#") ||
        l.contains("Aggregate [sig#")),
        s"band-key Generate not fed by the distinct (frame_no, sig) " +
          s"aggregate:\n${lines.slice(i, i + 4).mkString("\n")}")
    }
  }

  test("pl12_perceptual_pipeline: decode/resize run once behind the signature boundary; no exchange ships pixels; plants surface") {
    // The FLAGSHIP real-codec path (pl9's discipline on images): the
    // materialized run's final plan reads the (id, sig) scalars from
    // ExistingRDD — the javax.imageio decode + resize MapPartitions
    // appear in no consumer branch, and every exchange carries
    // signature scalars, never the grid/media byte columns.
    val p = staticScalePlan("pl12_perceptual_pipeline")
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("MapPartitions graft.operators.Multimodal"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l =>
      !l.contains("grid#") && !l.contains("media#")), p)
    // the un-materialized twin exposes the WHOLE pipeline as one
    // auditable plan: the one corpus-wide exchange the signatures ride
    // is shared by the engine's consumer shapes (ReusedExchange), and
    // still no exchange output carries a pixel column
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (planNodes, rows) =
      try {
        val df = graft.operators.Dedup.perceptualHashDup(
          graft.operators.Multimodal.resizeNearest(
            graft.operators.Multimodal.decodeLumaGrid(
              TrainingDataQueries.imagePngPairDocs(spark, sf),
              "doc_id", "media"),
            "doc_id", targetW = 8, targetH = 8),
          "doc_id", "grid", maxHamming = 3)
        (df.queryExecution.executedPlan, df.collect())
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val shuffles = planNodes.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty)
    val pixelCarrying = shuffles.filter(_.output.exists(a =>
      a.name.contains("grid") || a.name.contains("media")))
    assert(pixelCarrying.isEmpty,
      s"exchanges ship pixel columns: ${pixelCarrying.map(_.output.map(_.name))}")
    assert(planNodes.toString.linesIterator.count(_.contains("ReusedExchange")) >= 1,
      planNodes.toString)
    // planted re-encode artifacts surface as small-hamming pairs of
    // (base, base + 2,000,000) — the pipeline finds real dups, not
    // hash-diverse noise
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = pairs.filter { case (a, b) => b == a + 2000000L && a % 16 == 0 }
    assert(planted.nonEmpty, s"no planted near-dup recovered: ${pairs.take(5)}")
  }

  test("sim3_topk_ivf: centroid assignment is a partial-agg max_by, not a corpus-wide window sort") {
    val p = plan("sim3_topk_ivf")
    // no row_number window partitioned by the corpus id — that plan
    // shuffled AND sorted the nCells×corpus intermediate
    assert(!p.contains("windowspecdefinition(neighbor_id"), p)
    assert(p.contains("max_by"), p)
  }

  test("dd9_semantic_dedup: assignment is a broadcast partial-agg argmax; final plan reads the materialized split once") {
    // The split output is localCheckpoint'd (it feeds the guard and both
    // self-join sides), so the final plan must be the in-cell self-join
    // over materialized scans — the O(N·nCells) assignment cannot be
    // silently re-evaluated per consumer. The assignment/untouched-cell
    // shapes (broadcast argmax, broadcast anti-join, single member
    // exchange) are pinned on their fragments in DedupSpec's
    // splitOvergrownCells plan tests; here we pin the fragment that
    // builds dd9's assignment input.
    val p = plan("dd9_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    // the in-cell self-join still runs lazily over the scans (it is the
    // one genuinely quadratic-in-cell-size stage, kept in the plan)
    assert(p.contains("Join"), p)
  }

  test("sim1_topk_bruteforce: queries broadcast; no global per-query sort of the corpus") {
    val p = plan("sim1_topk_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("x7_decontaminate: benchmark shingle set broadcasts; corpus is never shuffled on text") {
    val p = plan("x7_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus-side probe must not exchange raw text or shingle arrays
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("text#") && !l.contains("__sh#")), p)
  }

  test("sp1_split: hash split assignment is a narrow projection — zero exchanges") {
    val p = plan("sp1_split")
    assert(!p.contains("Exchange"), p)
  }

  test("x15_gopher_rules: the full rule battery is a narrow projection — zero exchanges") {
    val p = plan("x15_gopher_rules")
    assert(!p.contains("Exchange"), p)
  }

  test("x15_gopher_rules: one compiled Gopher kernel per row, no HOF lambda") {
    val p = plan("x15_gopher_rules")
    assert("gopher\\(".r.findAllIn(p).size == 1, p)
    assert(!p.contains("lambdafunction"), p)
    // the kernel's projection is fused into whole-stage codegen
    assert(p.linesIterator.exists(l => l.contains("gopher(") && l.contains("*(")), p)
  }

  test("sp2_sample: rank<=k pushes below the sort as a WindowGroupLimit (hot-stratum safety)") {
    // without the group limit a hot stratum is fully sorted on one
    // reducer; with it every map task keeps only perStratum rows per
    // stratum and the reducer merges numMapTasks×k rows
    val p = plan("sp2_sample")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("dd4_ngram_jaccard: blocked self-join exchanges carry shingle ids, never raw text") {
    val p = plan("dd4_ngram_jaccard")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("text#")), p)
  }

  test("pl1_pipeline: composed pipeline keeps the decontamination probe a broadcast") {
    val p = plan("pl1_pipeline")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("x9_heavy_hitters: top-k is a bounded per-partition TakeOrdered, never a global sort") {
    val p = plan("x9_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"), p)
    // both aggregates (count and distinct-doc count) combine map-side
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("x10_bloom_decontaminate: bloom prefilter guards the exact-verify broadcast join") {
    val p = plan("x10_bloom_decontaminate")
    // the corpus-side shingle stream passes the ~10-bits-per-item bloom
    // probe BEFORE any join — the survivors-only exact verify
    assert(p.contains("bloomMightContain"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus is never exchanged on text or shingle arrays
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("text#")), p)
  }

  test("x11_unigram_logprob: vocabulary rejoins the token stream as a broadcast") {
    val p = plan("x11_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus token stream is never hash-exchanged on the token text
    // for the probe — only the vocabulary count and per-doc agg shuffle
    assert(p.contains("partial_avg") || p.contains("Partial"), p)
  }

  test("dd8_passage_dedup: dedup exchange groups on the 16-byte (hash, len) key") {
    val p = plan("dd8_passage_dedup")
    // the group-by exprs collapse to _groupingexpression attributes; the
    // exchange must partition on those (hash+len scalars), and the
    // xxhash64 of the passage is projected BEFORE the exchange — the
    // passage string itself never rides it
    assert(p.linesIterator.exists(
      _.matches(".*Exchange hashpartitioning\\(_groupingexpression#.*")), p)
    assert(p.contains("xxhash64(passage#"), p)
    assert(p.contains("partial_min") || p.contains("Partial"), p)
    // the passage-building expression must not be cloned into a Filter
    // (the InferFiltersFromGenerate hazard — explode_outer avoids it)
    val opt = SparkEntry.queries("dd8_passage_dedup")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val bad = opt.linesIterator
      .filter(l => l.contains("Filter ") && l.contains("sequence(")).toSeq
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("x12_tfidf_topterms: per-doc top-k pushes into WindowGroupLimit; df rejoins broadcast") {
    // without the group limit a hot document full-sorts its term list on
    // one reducer; with it each map task keeps k terms per doc
    val p = plan("x12_tfidf_topterms")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // df comes from the REDUCED (doc, term) tf table, not a second pass
    // over the corpus token stream: the df branch reads the main branch's
    // (doc, term) exchange via ReusedExchange and exactly ONE explode
    // appears. Pinned on the deterministic static-scale plan (see
    // staticScalePlan) — the explicit broadcast() hint on the df rejoin
    // survives the disabled size-based threshold there, so the
    // BroadcastHashJoin assertion above still holds in that regime too.
    val fin = staticScalePlan("x12_tfidf_topterms")
    val generates = fin.linesIterator.count(_.contains("Generate explode"))
    assert(generates == 1, s"expected 1 Generate, found $generates:\n$fin")
    assert(fin.contains("ReusedExchange"), fin)
    assert(fin.contains("BroadcastHashJoin"), fin)
  }

  test("x13_bm25: every token explode is query-filtered before any agg or exchange") {
    // dl comes from size(split(text)) — a narrow projection, no explode.
    // The tf and df branches each tokenize (narrow re-scan; their agg
    // shapes differ post-optimizer so the exchange is not reusable), but
    // NO unfiltered token stream may ever reach an aggregate or an
    // exchange: the IN filter must sit directly on each Generate's
    // output, so the wide edges carry only query-term matches.
    val p = plan("x13_bm25")
    val lines = p.linesIterator.toSeq
    val genIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Generate explode") => i
    }
    assert(genIdx.nonEmpty, p)
    genIdx.foreach { i =>
      // the operator consuming the Generate (a line above in tree order,
      // within a few lines — the exact IN-list rendering is plan-string
      // formatting, not the property) must be a Filter on the query
      // vocabulary, and NOTHING wide may sit between them: an Exchange
      // or Aggregate consuming the Generate before the vocab Filter
      // means the full token stream crossed a wide edge — the exact
      // regression this audit exists to catch.
      val window = lines.slice(math.max(0, i - 4), i)
      val fiOpt = window.lastIndexWhere(l => l.contains("Filter") &&
        Seq("spark", "join", "window").forall(l.contains))
      assert(fiOpt >= 0,
        lines.slice(math.max(0, i - 4), i + 1).mkString("\n"))
      val between = window.drop(fiOpt + 1)
      assert(!between.exists(l =>
          l.contains("Exchange") || l.contains("Aggregate")),
        s"wide operator between the vocab Filter and its Generate:\n" +
          lines.slice(math.max(0, i - 4), i + 1).mkString("\n"))
    }
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("x14_quantile_filter: the per-stratum rank runs banded — no whole-language sort on one reducer") {
    val p = plan("x14_quantile_filter")
    // every corpus-row window (the row_number rank) partitions by
    // (lang, __band), never lang alone — the partition key that spreads
    // a language across bands·reducers. The lang-alone windows in this
    // plan run over the aggregated band-counts table only.
    val rankLines = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(rankLines.nonEmpty, p)
    assert(rankLines.forall(_.contains("__band")),
      s"rank window lost its band partition key:\n$p")
    // the band-offsets table joins back as a broadcast, not a shuffle
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("mx2_dsir_weights: one model-building pass, broadcast model join, map-side partial sum") {
    val p = plan("mx2_dsir_weights")
    // probe scan + model-build scan only: raw and target counts come
    // from ONE aggregate (conditional count), totals from a window over
    // the 256-row model — a regression to per-model aggregation trees
    // shows up as extra corpus scans.
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("x16_bigram_logprob: ONE materialized model pass, dense broadcast models, id-keyed partial sum") {
    val p = plan("x16_bigram_logprob")
    // probe scan only: the grouping-sets model pass localCheckpoints,
    // and BOTH dense model tables read that one materialized RDD (a
    // regression re-runs the model-subset explode per model — a second
    // FileScan or an in-plan Expand)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    assert(!p.contains("Expand"), p)
    assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) == 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning(__id")) == 1, p)
  }

  test("timestamp filters push into the scan through the NTZ normalization cast") {
    // Tables.load casts TIMESTAMP_NTZ columns to session-tz TimestampType
    // (UTC sessions — value-preserving). Catalyst must unwrap that cast in
    // comparisons so the predicate still reaches the parquet reader as a
    // PushedFilter on the raw column — the property that keeps row-group
    // pruning alive at 100 TB. Asserted on the actual testdata flavor,
    // whichever timestamp encoding this generation shipped.
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, sf)
    val p = li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .select("l_orderkey").queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("pl4_rag_ingest: chunk dedup combines map-side on the 16-byte content key; no exchange ships chunk text") {
    val p = staticScalePlan("pl4_rag_ingest")
    assert(p.contains("partial_min"), p)
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.nonEmpty, p)
    assert(shuffles.forall(l => !l.contains("chunk#") && !l.contains("text#")), p)
  }

  test("dd12_incremental: anti join on the content key; the prior corpus scan prunes to the text column") {
    val p = staticScalePlan("dd12_incremental")
    assert(p.contains("LeftAnti"), p)
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(_.contains("struct<text:string>")), p)
  }

  test("sim7_topk_sq8: quantized scan and re-rank both stream the corpus past explicit broadcasts — no corpus exchange, no cartesian") {
    // staticScalePlan disables size-based broadcasts: only the explicit
    // broadcast() hints (query side; candidate set) may survive
    val p = staticScalePlan("sim7_topk_sq8")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // the full-precision embedding array never rides a hash exchange —
    // the corpus is only ever the streamed side of a broadcast join
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("embedding#") && !l.contains("cv#")), p)
  }

  test("tk3_bpe_apply: OOV merge replay folds over the DISTINCT word table; no exchange ships document text") {
    val p = staticScalePlan("tk3_bpe_apply")
    assert(!p.contains("CartesianProduct"), p)
    // the distinct-word compaction exists: an aggregate keyed on word
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("keys=[word#")), p)
    // exchanges carry words / ids / symbol strings — never document text
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("text#")), p)
  }

  test("h4_approx_quantile: sketch aggregates with a map-side partial; certify join broadcasts; contract holds") {
    val p = plan("h4_approx_quantile")
    // the sketch is a partial+final aggregate (ObjectHashAggregate for
    // percentile_approx) — the one-pass mergeable-sketch shape
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_percentile_approx") || p.contains("Partial"), p)
    // the 12-row sketch table broadcasts back for certification — the
    // fact scan never shuffles for the join
    assert(p.contains("BroadcastHashJoin"), p)
    // and the certification booleans actually hold (GK at accuracy 10⁴
    // is orders of magnitude inside the 1% rank band)
    val rows = SparkEntry.queries("h4_approx_quantile")(spark, sf).collect()
    assert(rows.length == 12, rows.length)
    assert(rows.forall(r => r.getBoolean(3)), rows.mkString("\n"))
  }

  test("dd14_incremental_fuzzy: prior text never rides a corpus-wide exchange; candidate fetch is a broadcast semi join") {
    val p = staticScalePlan("dd14_incremental_fuzzy")
    assert(!p.contains("CartesianProduct"), p)
    // the verify fetch: prior side reduced by a broadcast LeftSemi
    assert(p.contains("LeftSemi, BuildRight") ||
      (p.contains("LeftSemi") && p.contains("BroadcastExchange")), p)
    // band-key exchanges carry (band, band_key, id) — never text
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("text#")), p)
  }

  test("sim9_knn_graph: corpus self-join shuffles on the bucket key; rank is a bounded heap + WindowGroupLimit, never a global sort") {
    // Audit the PRE-checkpoint edge pipeline (knnGraph materializes it
    // behind a localCheckpoint, so the final plan only shows
    // ExistingRDD scans): both roles of the corpus must meet in a
    // SHUFFLE join on the bucket key — with no small side there is
    // nothing to broadcast at scale — and the per-query top-k must be
    // the two-phase bounded-heap + WindowGroupLimit shape, never a
    // corpus-wide unbounded window sort.
    import graft.operators.Similarity
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try {
      val corpus = graft.Tables.embeddings(spark, sf)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding"))
      Similarity.lshTopK(corpus, corpus, "vec_id", "embedding", k = 5,
        nPlanes = 8, dim = 64, multiProbe = true)
        .queryExecution.executedPlan.toString
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the bucket self-join is a shuffle join keyed on bucket
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(bucket#")), p)
    // phase 1: the per-partition bounded heap (typed mapPartitions)
    assert(p.contains("MapPartitions"), p)
    // phase 2: rank<=k pushes into a WindowGroupLimit on both sides of
    // the final exchange — survivors per partition are <= k per query
    assert(p.contains("WindowGroupLimit"), p)
    // the one post-heap exchange carries (query_id, neighbor_id,
    // cosine) scalars — the embedding arrays never ride a shuffle
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("embedding#")), p)
  }

  test("sim10_hybrid_rrf: every rank<=k pushes into WindowGroupLimit; fusion never touches an embedding or text column") {
    val p = plan("sim10_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), p)
    // three rank stages (sparse fetchK, dense fetchK via rankTopK, fused
    // top-10), each with partial+final WindowGroupLimit — no stage ever
    // sorts more than k rows per key per partition
    val wgl = p.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(wgl >= 6, s"expected >=6 WindowGroupLimit (3 ranks x partial+final), got $wgl\n$p")
    // post-retrieval exchanges carry (query_id, doc_id, rank/score)
    // scalars only — fusion is query-side work by construction
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("embedding#") && !l.contains("text#")), p)
  }

  test("pl8_rag_retrieval: retrieval materializes once at the fused boundary; chunk attribution is a broadcast over fused hits") {
    val p = plan("pl8_rag_retrieval")
    assert(!p.contains("CartesianProduct"), p)
    // the fused list is the pipeline's localCheckpoint stage boundary:
    // the executed plan reads it as an ExistingRDD and contains NO
    // residual retrieval work (no BM25 term explode, no quantized-scan
    // rank — those ran exactly once inside the checkpoint)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("WindowGroupLimit"), p) // all three ranks: inside the checkpoint
    // chunk attribution: the fused doc ids BROADCAST into the corpus
    // scan — the documents table never rides an exchange to learn which
    // ~|Q|*10 docs were retrieved
    assert(p.contains("BroadcastHashJoin"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(l => !l.contains("embedding#")), p)
  }

  test("pl7_ingest_funnel: every funnel stage materializes once; only batch-sized rows recompute") {
    // The funnel checkpoints its two stage boundaries (exact-gate
    // survivors, fuzzy verdict), so the executed plan must contain NO
    // residual heavy operator: no anti join, no band join, no window
    // rank, no shingle verify — those all ran exactly once inside the
    // checkpoints. What remains: the three batch doc_id parquet scans
    // for the fate spine and ExistingRDD scans of the checkpoints.
    val p = plan("pl7_ingest_funnel")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("LeftAnti"), p)       // exact gate: inside checkpoint
    assert(!p.contains("band_key"), p)       // band join: inside checkpoint
    assert(!p.contains("WindowGroupLimit"), p) // best-match: inside checkpoint
    assert(!p.contains("jaccardshingles"), p)  // verify: inside checkpoint
    // residual parquet scans read doc_id only (the fate spine) — the
    // batch text column never re-reads in the final plan
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("struct<doc_id:bigint>")), p)
  }
}
