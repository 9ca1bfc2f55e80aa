package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Benchmark decontamination: flag training documents whose n-gram
  * content overlaps a (small) evaluation/benchmark set — the standard
  * guard against test-set leakage in a training-data pipeline.
  *
  * Plan shape, designed for the 100 TB asymmetry (training corpus huge,
  * benchmark tiny):
  *
  *  1. the benchmark side collapses to its DISTINCT shingle hashes —
  *     thousands of longs, broadcast to every executor;
  *  2. the training side explodes its shingles and joins the broadcast
  *     set — a narrow map-side hash probe, NO shuffle of the corpus;
  *  3. overlap counts aggregate per doc (partial map-side combine), and
  *     a final left join restores zero-overlap docs.
  *
  * The only shuffle is the per-doc count aggregation of MATCHED shingles
  * — for a clean corpus that is a near-empty exchange. Compare the naive
  * corpus×benchmark join-on-text, which ships the whole corpus.
  */
object Decontaminate {

  /** Shingle-overlap report: one row per training doc with its shingle
    * count, the number of shingles also present anywhere in `bench`, and
    * a contamination flag (strictly more than `threshold` of the doc's
    * shingles overlap). Shingle-less docs are never contaminated.
    *
    * @return (idCol, n_shingles, n_overlap, contaminated)
    */
  def shingleOverlap(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // non-nullable shingle array (null text -> empty array -> 0 shingles,
    // never contaminated — same contract): otherwise every downstream
    // reference to n_shingles lets the optimizer infer an
    // isnotnull(size(shinglehashesexpr(...))) filter that re-runs the
    // text scan a second time per row
    val trainSh = train.select(col(idCol),
      coalesce(shingleHashes(col(textCol), k),
        array().cast("array<long>")).as("__sh"))
    // explode_outer everywhere a shingle array feeds a generator:
    // InferFiltersFromGenerate only fires for non-outer explodes, and on
    // these it clones the FULL shingle scan into a `size(...)>0 AND
    // isnotnull(...)` filter under the generate (via predicate pushdown
    // through the staging projection) — tripling the per-row text-scan
    // cost. The extra null row an outer explode emits for empty docs is
    // dropped by the inner equi-join on `h` (null never matches), so the
    // result is identical. PlanAuditSpec pins the single-eval plan.
    val benchSh = bench
      .select(explode_outer(shingleHashes(col(textCol), k)).as("h"))
      .filter(col("h").isNotNull)
      .distinct()
    val overlaps = trainSh
      .select(col(idCol), explode_outer(col("__sh")).as("h"))
      .join(broadcast(benchSh), Seq("h"))
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
    // threshold compare in exact integer math when possible (0.5 -> 2x)
    val contaminated =
      if (threshold == 0.5) col("n_overlap") * 2 > col("n_shingles")
      else col("n_overlap").cast("double") > col("n_shingles").cast("double") * threshold
    trainSh
      .select(col(idCol), size(col("__sh")).cast("long").as("n_shingles"))
      .join(overlaps, Seq(idCol), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("contaminated", contaminated)
  }

  /** Strict decontamination via a Bloom-filter prefilter: return the ids
    * of training docs sharing NO k-shingle with the benchmark set. The
    * result is EXACT — identical to a plain anti-join — because a Bloom
    * filter has no false negatives (a doc with zero bloom hits is
    * definitively clean) and its false positives are eliminated by an
    * exact verification join over only the bloom-surviving shingles.
    *
    * Why this shape at 100 TB: [[shingleOverlap]] broadcasts the full
    * distinct benchmark shingle-hash set — fine at thousands of longs,
    * but a benchmark suite of 10⁸ shingles is a multi-GB broadcast hash
    * set. The bloom at 1% fpp needs ~10 bits per item (~120 MB for 10⁸),
    * an order of magnitude smaller, and it is what EVERY corpus shingle
    * probes — map-side, no corpus shuffle. The exact verify join of the
    * ~fpp fraction of corpus shingles that survive the bloom carries NO
    * broadcast hint: the build side is still O(benchmark shingles), so
    * forcing a broadcast there would re-create the very multi-GB
    * broadcast the bloom exists to avoid — at bench-suite sizes AQE
    * broadcasts it on its own, and past the broadcast threshold a
    * shuffle hash join over the near-empty survivor side is the right
    * plan. The bloom itself is built with a distributed aggregate
    * (partial filters merged), not a driver-side collect; the distinct
    * benchmark shingle set is persisted once and reused by the
    * cardinality count, the bloom build, and the verify join (it is
    * three full bench-text scans otherwise).
    *
    * @return single column (idCol) — the clean doc ids.
    */
  def bloomClean(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val benchSh = bench
      .select(explode_outer(shingleHashes(col(textCol), k)).as("h"))
      .filter(col("h").isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBench = math.max(benchSh.count(), 1L)
    val bloom = benchSh.stat.bloomFilter("h", nBench, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: java.lang.Long) =>
      h != null && bloomB.value.mightContain(h.longValue()))
      .withName("bloomMightContain")
    val trainSh = train
      .select(col(idCol), explode_outer(shingleHashes(col(textCol), k)).as("h"))
      .filter(col("h").isNotNull)
    // bloom prefilter (no false negatives) → exact verify of survivors.
    // No broadcast() hint here — see the scaladoc.
    val confirmed = trainSh
      .filter(mightContain(col("h")))
      .join(benchSh, Seq("h"))
      .select(col(idCol))
      .distinct()
    train.select(col(idCol))
      .join(confirmed, Seq(idCol), "left_anti")
  }

  /** FUZZY decontamination: flag training documents NEAR-duplicating a
    * benchmark document (MinHash-LSH candidates, verified by exact
    * shingle Jaccard ≥ `threshold`) — the guard [[shingleOverlap]]'s
    * exact n-gram matching cannot give: a benchmark item that was
    * lightly paraphrased, truncated, or reformatted before leaking into
    * the crawl still bands with its source (the GPT-3/PaLM-style
    * "fuzzy dedup against the eval set" step).
    *
    * The 100 TB shape exploits the corpus/benchmark asymmetry harder
    * than any dedup query can: the BENCHMARK side's exploded band keys
    * (bands × bench rows, with their shingle arrays riding along)
    * broadcast, so candidate generation AND Jaccard verification both
    * happen MAP-SIDE inside the broadcast hash join — the corpus is
    * never shuffled, not even its band keys. The only exchanges carry
    * verified-contaminated (doc, bench) pairs — for a clean corpus,
    * near-empty. The price of verifying inside the band join is that a
    * pair agreeing in j bands verifies j times (≤ `bands`, exact
    * duplicates the pair-dedup aggregate then collapses); the
    * alternative — dedup candidates first — would shuffle every
    * candidate's shingle array. Per row the corpus runs two single-pass
    * native expressions (band keys, shingle hashes) and drops nothing
    * else.
    *
    * The broadcast payload is NOT just "the benchmark": each bench
    * row's full shingle-hash array rides along on EVERY one of its
    * `bands` exploded band rows, so the broadcast weighs roughly
    * rows × shingles × 8 B × bands (×8 by default) — a 1 GB benchmark
    * suite broadcasts ~8 GB and hits the driver/broadcast ceiling long
    * before the corpus side is the problem. A cheap bench-only count
    * job estimates that payload up front and fails loudly over
    * `maxBenchBroadcastBytes` (the [[Dedup.ngramJaccardPairs]]
    * pair-budget discipline): callers with an oversized suite should
    * shard `bench` and union the per-shard results, or reduce
    * `numHashes`.
    *
    * @return (idCol, n_bench_matches, max_jaccard, contaminated) — one
    *         row per training doc; unmatched docs carry (0, 0.0, false).
    */
  def fuzzyLshOverlap(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5,
      maxBenchBroadcastBytes: Long = 2L * 1024 * 1024 * 1024): DataFrame = {
    // both sides first: the band-key expression checks its parameters
    // before the budget job below runs
    val benchSide = bench
      .select(col(idCol).as("__bid"),
        minHashBandKeys(col(textCol), k, numHashes, bands).as("__bkeys"),
        coalesce(shingleHashes(col(textCol), k),
          array().cast("array<long>")).as("__bsh"))
      .select(col("__bid"), col("__bsh"),
        posexplode_outer(col("__bkeys")).as(Seq("__band", "__key")))
      .filter(col("__key").isNotNull)
    val trainSide = train
      .select(col(idCol),
        minHashBandKeys(col(textCol), k, numHashes, bands).as("__tkeys"),
        coalesce(shingleHashes(col(textCol), k),
          array().cast("array<long>")).as("__tsh"))
      .select(col(idCol), col("__tsh"),
        posexplode_outer(col("__tkeys")).as(Seq("__band", "__key")))
      .filter(col("__key").isNotNull)
    if (maxBenchBroadcastBytes < Long.MaxValue) {
      // one column-pruned pass over the SMALL side only; 8 B per shingle
      // hash, duplicated once per band, + ~64 B per exploded row overhead
      val r = bench.agg(
        count(lit(1)).as("n"),
        coalesce(sum(size(shingleHashes(col(textCol), k))
          .cast("decimal(38,0)")), lit(0)).as("sh")).collect()(0)
      val est = r.getDecimal(1).toBigInteger
        .multiply(java.math.BigInteger.valueOf(8L * bands))
        .add(java.math.BigInteger.valueOf(r.getLong(0) * 64L * bands))
      if (est.compareTo(java.math.BigInteger.valueOf(maxBenchBroadcastBytes)) > 0)
        throw new IllegalArgumentException(
          s"fuzzyLshOverlap: bench side would broadcast ~$est bytes " +
            s"(${r.getLong(0)} rows × shingles × 8 B × $bands bands) > " +
            s"budget $maxBenchBroadcastBytes. Shard the benchmark suite " +
            "and union the per-shard results, or reduce numHashes.")
    }
    val pairs = trainSide
      .join(broadcast(benchSide), Seq("__band", "__key"))
      .select(col(idCol), col("__bid"),
        jaccardShingles(col("__tsh"), col("__bsh")).as("__j"))
      .filter(col("__j") >= threshold)
      .groupBy(col(idCol), col("__bid"))
      .agg(max(col("__j")).as("__j"))
    val perDoc = pairs
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("__j")).as("max_jaccard"))
    train.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bench_matches"), lit(0L)).as("n_bench_matches"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        (coalesce(col("n_bench_matches"), lit(0L)) > 0L).as("contaminated"))
  }
}
