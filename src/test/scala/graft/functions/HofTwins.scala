package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.NativeText.P
import graft.functions.TextFunctions.{bind, shingles, tokens}

/** Declarative (HOF) twins of the native text and vector expressions —
  * the executable specification `NativeExprParitySpec` holds each
  * native expression to, bit for bit, and the form the DuckDB oracles
  * were derived from. Test support only: nothing in the library calls
  * them. */
object HofTwins {

  /** Declarative (HOF) formulation of [[TextFunctions.polyHash]]. */
  def polyHashHof(s: Column): Column =
    aggregate(split(s, ""), lit(0L), (acc, c) => (acc * 31L + ascii(c)) % P)

  /** Low-half fold of the simhash token hash ([[NativeText.M2]]/
    * [[NativeText.P2]]), declarative form. */
  def polyHash2Hof(s: Column): Column =
    aggregate(split(s, ""), lit(0L),
      (acc, c) => (acc * NativeText.M2 + ascii(c)) % NativeText.P2)

  /** Declarative twin of [[TextFunctions.simHash]]: each token hashed
    * once ([[TextFunctions.bind]] materializes the hash array), then 61
    * bit-count passes over the materialized longs. */
  def simHashHof(text: Column): Column =
    bind(transform(tokens(text),
      t => polyHashHof(t) * lit(NativeText.P2 + 1L) + polyHash2Hof(t)), { hs =>
      val n = size(hs)
      (0 until 61).map { j =>
        val onesJ = size(filter(hs, h => shiftright(h, j).bitwiseAND(lit(1L)) === 1L))
        when(onesJ * 2 > n, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    })

  /** Declarative twin of [[TextFunctions.shingleHashes]]. */
  def shingleHashesHof(text: Column, k: Int): Column =
    array_distinct(transform(shingles(text, k), s => polyHashHof(s)))

  /** Declarative twin of [[TextFunctions.minHashBandKeys]] (takes the
    * shingle-hash array): [[TextFunctions.bind]] materializes the hashes,
    * a single `aggregate` folds the `numHashes` running minima (array
    * accumulator), and the aggregate's `finish` lambda derives the
    * per-band poly-fold keys from the materialized signature — each
    * stage evaluates exactly once per row regardless of
    * CollapseProject. */
  def minHashBandKeysHof(shExpr: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    bind(shExpr, sh =>
      when(size(sh) > 0,
        aggregate(
          sh,
          array_repeat(lit(Long.MaxValue), numHashes),
          (acc, h) => array((0 until numHashes).map(i =>
            least(element_at(acc, i + 1),
              (h * (2L * i + 1L) + (7919L * i + 13L)) % P)): _*),
          sig => transform(sequence(lit(0), lit(bands - 1)), b =>
            aggregate(slice(sig, b * rows + lit(1), lit(rows)), lit(0L),
              (acc, v) => (acc * 31L + v) % P))))
        .otherwise(lit(null).cast("array<bigint>")))
  }

  /** Declarative twin of [[TextFunctions.topBigramFrac]] — O(n²) per
    * row. */
  def topBigramFracHof(text: Column): Column =
    bind(transform(shingles(text, 2), s => polyHashHof(s)), { bg =>
      when(size(bg) === 0, lit(0.0)).otherwise(
        aggregate(array_distinct(bg), lit(0),
          (m, x) => greatest(m, size(filter(bg, y => y === x))))
          .cast("double") / size(bg).cast("double"))
    })

  /** Declarative twin of [[TextFunctions.topNgramCharFrac]]/
    * [[TextFunctions.dupNgramCharFrac]] — O(n²) per row. Grams key on
    * `(polyHash·31 + len) mod P` exactly like [[GopherKernel]] (and the
    * DuckDB oracle), so hash collisions — if one ever fired — would
    * merge identically everywhere. */
  def ngramCharFracHof(text: Column, n: Int, dup: Boolean): Column =
    bind(transform(shingles(text, n),
      s => (polyHashHof(s) * 31L + length(s)) % P * lit(1L << 20) +
        least(length(s).cast("long"), lit((1L << 20) - 1))), { ks =>
      // key packs (hashKey << 20 | min(len, 2^20-1)) so the lambda can
      // recover the gram length without a second shingle pass; the
      // clamp keeps >1M-char grams from wrapping into the hash bits,
      // identically to the kernel and the DuckDB oracle
      val masses = transform(array_distinct(ks), k =>
        struct(size(filter(ks, y => y === k)).cast("long").as("cnt"),
          pmod(k, lit(1L << 20)).as("len")))
      val sel =
        if (dup)
          aggregate(masses, lit(0L),
            (acc, m) => acc + when(m.getField("cnt") >= 2L,
              m.getField("cnt") * m.getField("len")).otherwise(0L))
        else
          aggregate(masses, lit(0L),
            (acc, m) => greatest(acc, m.getField("cnt") * m.getField("len")))
      when(length(text) === 0 || size(ks) === 0, lit(0.0))
        .otherwise(sel.cast("double") / length(text).cast("double"))
    })

  /** Declarative twin of [[TextFunctions.jaccardShingles]]. */
  def jaccardShinglesHof(aHashes: Column, bHashes: Column): Column = {
    val inter = size(array_intersect(aHashes, bHashes)).cast("double")
    val uni = size(array_distinct(concat(aHashes, bHashes))).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  /** Ordered-fold dot product in double precision, in index order. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm (IEEE sqrt of the ordered self-dot — bit-deterministic). */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Sign-of-dot-product bit for one deterministic pseudo-random
    * hyperplane — the random-hyperplane LSH primitive. Hyperplane
    * component j of plane p derives from a QUADRATICALLY-mixed integer
    * sequence so any engine can reproduce it, with idx = p·dim + j + 1:
    *   c(p, j) = ((idx² mod 1000003)·427799 + idx·653 + 7919) mod 1000003
    *             / 1000003 − 0.5
    * (non-linear in idx on purpose — a linear form makes the planes
    * windows of one sequence and collapses signature entropy; see
    * [[graft.functions.NativeVector.lshSignature]]). */
  def hyperplaneBit(a: Column, plane: Int, dim: Int): Column = {
    val prods = (0 until dim).map { j =>
      val idx = plane.toLong * dim + j + 1
      val c = ((idx * idx % 1000003L * 427799L + idx * 653L + 7919L)
        % 1000003L).toDouble / 1000003.0 - 0.5
      element_at(a, j + 1).cast("double") * lit(c)
    }
    val d = prods.reduce(_ + _)
    when(d > 0, lit(1L)).otherwise(lit(0L))
  }

  /** Declarative twin of [[VectorFunctions.cosine]]. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Declarative twin of [[VectorFunctions.lshSignature]]. */
  def lshSignatureHof(a: Column, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map { p =>
      hyperplaneBit(a, p, dim) * lit(1L << p)
    }.reduce(_ + _)
}
