package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Multimodal}

/** Multimodal operators: media metadata, decode, frame sampling, ImageIO
  * round trips, resize, pixel statistics, PNG and TIFF frame decode, and
  * the perceptual and video dedup pipelines. The media bytes are
  * synthesized deterministically, so DuckDB replays the pixel
  * arithmetic.
  */
object MultimodalQueries {

  import Corpora._

  /** pl14/mm7's multi-frame "video" corpus: per document one
    * length-prefixed frame container ([[graft.operators.Multimodal
    * .decodeFrames]]'s format — 4-byte big-endian length + one REAL
    * PNG per frame, encoded through javax.imageio on the executors).
    * Frame f's pixel i = `(c1·(i+3) + c2·(i²+1) + 17·f) mod 256` with
    * c1/c2 the pl12 mixing residues (base mod 251 / mod 241) — the
    * same clique-proofing as [[imagePngPairDocs]], with the frame
    * index folded in as a per-frame shift (frames of ONE doc never
    * compare — the banding is frame-aligned — so the shift only has to
    * separate frames in the oracle's replay, not in hash space).
    * nFrames = base mod 4 + 2. With `planted`, every 16th doc gains a
    * copy (id + 2,000,000) whose FRAME 0 pixel 0 is one gray level
    * up: an aligned-frame near-dup whose remaining frames match at
    * hamming 0 — the "same clip, one re-encoded frame" analog. */
  private def videoPngDocs(s: SparkSession, d: String,
      planted: Boolean): DataFrame = {
    import org.apache.spark.sql.Encoders
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("doc_id").as("base"), lit(false).as("perturb"))
    val rows =
      if (!planted) base
      else base.union(Tables.documents(s, d)
        .filter(col("doc_id") % 16 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("doc_id").as("base"), lit(true).as("perturb")))
    rows.as[(Long, Long, Boolean)](Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaBoolean))
      .mapPartitions { it =>
        it.map { case (id, b, perturb) =>
          val w = (b % 5 + 4).toInt
          val h = (b % 3 + 4).toInt
          val nf = (b % 4 + 2).toInt
          val c1 = b % 251
          val c2 = b % 241
          val bos = new java.io.ByteArrayOutputStream()
          var f = 0
          while (f < nf) {
            val ff = f
            val png = encodeGrayPng(w, h, (x, y) => {
              val i = y * w + x
              val bump = if (perturb && ff == 0 && i == 0) 1L else 0L
              ((c1 * (i + 3) + c2 * (i.toLong * i + 1) + 17L * ff + bump)
                % 256L).toInt
            })
            val len = png.length
            bos.write((len >>> 24) & 0xff); bos.write((len >>> 16) & 0xff)
            bos.write((len >>> 8) & 0xff); bos.write(len & 0xff)
            bos.write(png, 0, len)
            f += 1
          }
          (id, bos.toByteArray)
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("doc_id", "media")
  }

  lazy val queries: Seq[Query] = Seq(
    // ---- Multimodal plumbing: opaque binary + derived metadata ----
    Query("mm1_media_meta", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          encode(col("text"), "utf-8").as("media"))
        .select(col("doc_id"), col("source"),
          expr("octet_length(media)").cast("long").as("n_bytes"),
          (expr("octet_length(media)").cast("long") % 64).as("fake_width"),
          (expr("octet_length(media)").cast("long") / 64).cast("long").as("fake_height")),
      """SELECT doc_id, source,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 64 AS fake_width,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) // 64 AS fake_height
        |FROM documents""".stripMargin),

    // Batched partition-local decode through the pluggable MediaDecoder
    // (stub codec — deterministic header math, real batch plumbing).
    Query("mm2_decode_meta", (s, d) =>
      Multimodal.decodeMeta(
        Tables.documents(s, d)
          .select(col("doc_id"), encode(col("text"), "utf-8").as("media")),
        "doc_id", "media"),
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(CAST(text AS BLOB)) % 64 AS INTEGER) AS width,
        |  CAST(octet_length(CAST(text AS BLOB)) // 64 AS INTEGER) AS height,
        |  CAST(octet_length(CAST(text AS BLOB)) % 7 + 1 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin),

    // Frame sampling: generator explode of every 2nd frame index.
    Query("mm3_frame_sample", (s, d) =>
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(
          Tables.documents(s, d)
            .select(col("doc_id"), encode(col("text"), "utf-8").as("media")),
          "doc_id", "media"),
        "doc_id", stride = 2),
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(octet_length(CAST(text AS BLOB)) % 7 + 1 AS INTEGER) AS n_frames
        |  FROM documents)
        |SELECT doc_id, n_frames,
        |  CAST(f // 2 AS INTEGER) AS sample_no, CAST(f AS INTEGER) AS frame_no
        |FROM (SELECT doc_id, n_frames, unnest(range(0, n_frames, 2)) AS f FROM m)""".stripMargin),

    // REAL codec round-trip: per document a tiny grayscale PNG (pixel
    // pattern a pure function of doc_id — see imagePngDocs) is ENCODED
    // through javax.imageio on the executors, then DECODED back by
    // Multimodal.decodeLumaGrid (the real-decoder front of the aHash
    // contract) and average-hashed over the decoded pixels. PNG gray is
    // lossless, so the oracle replays the hash from the pattern
    // arithmetic with no codec of its own — a pixel lost or shifted
    // anywhere in the encode→decode→grid path breaks the hash.
    Query("mm4_imageio_roundtrip", (s, d) =>
      Multimodal.decodeLumaGrid(imagePngDocs(s, d), "doc_id", "media")
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          graft.functions.TextFunctions.aHash61(col("grid")).as("ahash")),
      // mm4: the known pixel pattern recomputed arithmetically (PNG gray
      // is lossless: decode∘encode = identity), then the aHash61 cell
      // chain — the pl9/dd15 replay over an int list instead of hex. The
      // 16-48-pixel grids sit BELOW the 61-cell count, so the empty-cell
      // (ELSE 0) branch is exercised on every row.
      s"""WITH m AS (
         |  SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 4 AS h
         |  FROM documents),
         |px AS (
         |  SELECT doc_id, w * h AS n,
         |    list_transform(range(w * h), i ->
         |      (doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256) AS bs
         |  FROM m),
         |$aHash61ChainSql
         |SELECT m.doc_id, CAST(m.w AS BIGINT) AS width,
         |  CAST(m.h AS BIGINT) AS height, sig.ahash
         |FROM m JOIN sig USING (doc_id)""".stripMargin),

    // RESIZE — the missing multimodal verb: mm4's real-codec decode
    // fed through nearest-neighbor resize to the canonical 8x8
    // perceptual-hash grid, then average-hashed. Resize is pure pixel
    // indexing (resized(y',x') = source(⌊y'h/8⌋, ⌊x'w/8⌋)), so the
    // oracle replays decode∘resize∘hash entirely as arithmetic on the
    // known pattern — a pixel mis-indexed by the resampler anywhere
    // (row-major mixup, off-by-one in the floor map, up- vs
    // down-sampling) lands in a different hash cell and breaks the row.
    Query("mm5_resize_nearest", (s, d) =>
      Multimodal.resizeNearest(
        Multimodal.decodeLumaGrid(imagePngDocs(s, d), "doc_id", "media"),
        "doc_id", targetW = 8, targetH = 8)
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          graft.functions.TextFunctions.aHash61(col("grid")).as("ahash")),
      // mm5: decode∘resize∘hash replayed as pattern arithmetic — the
      // resized pixel at flat index i reads source (x, y) =
      // ((i%8)·w // 8, (i//8)·h // 8), then the same aHash61 cell chain
      // as mm4 over the fixed 64-pixel list.
      s"""WITH m AS (
         |  SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 4 AS h
         |  FROM documents),
         |px AS (
         |  SELECT doc_id, 64 AS n,
         |    list_transform(range(64), i ->
         |      (doc_id * 31 + (((i % 8) * w) // 8) * 7
         |        + (((i // 8) * h) // 8) * 13) % 256) AS bs
         |  FROM m),
         |$aHash61ChainSql
         |SELECT m.doc_id, CAST(8 AS BIGINT) AS width,
         |  CAST(8 AS BIGINT) AS height, sig.ahash
         |FROM m JOIN sig USING (doc_id)""".stripMargin),

    // The multimodal dedup pipeline end-to-end — the frontier
    // crawl-dedup shape for video/media: mm2's batched stub decode →
    // mm3's frame sampling → dd15's aHash PER FRAME (banded by the
    // signature-generic Manku engine, grouped on frame_no so only
    // aligned frames compare) → media-level rollup: two media are
    // near-dups when ≥ 2 of their sampled frames band-match within
    // hamming 3. The planted same-length perturbation differs only in
    // byte 0, so its frame-0 hash lands within a few bits and every
    // later sampled frame (a suffix past the changed byte) at hamming
    // 0 — exactly how a re-encoded video survives a frame-level match.
    // The oracle replays decode arithmetic, frame grid, per-frame hash,
    // and the UNFILTERED per-frame n² (dd15's lossless-banding
    // discipline), then the same rollup.
    Query("pl9_multimodal_dedup", (s, d) =>
      Dedup.perceptualFrameDup(
        pl9Frames(pl9Media(phashDocs(s, d))),
        "doc_id", "frame_no", "frame", maxHamming = 3)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_frames_matched"),
          min(col("hamming")).as("min_hamming"))
        .filter(col("n_frames_matched") >= 2),
      // pl9: the multimodal dedup pipeline replayed end-to-end — mm2's
      // decode arithmetic, mm3's frame grid, dd15's aHash byte-for-byte
      // over the hex suffix (frame k = media bytes minus the first k,
      // i.e. the hex string minus the first 2k chars), the UNFILTERED
      // per-frame n² verify (a hash match proves the grouped banding IS
      // the brute force), then the same >= 2-frames rollup.
      """WITH cand AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, upper(substr(text, 1, 1)) || substr(text, 2)
        |  FROM documents WHERE doc_id % 16 = 0),
        |m AS (
        |  SELECT doc_id, text,
        |    octet_length(CAST(text AS BLOB)) % 7 + 1 AS n_frames
        |  FROM cand WHERE text IS NOT NULL),
        |fr AS (
        |  SELECT doc_id, text,
        |    CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_no
        |  FROM m),
        |hx0 AS (
        |  SELECT doc_id AS id, frame_no,
        |    substr(hex(CAST(text AS BLOB)), 2 * frame_no + 1) AS hx
        |  FROM fr),
        |bs0 AS (
        |  SELECT id, frame_no, len(hx)//2 AS n,
        |    list_transform(range(len(hx)//2), i ->
        |      (strpos('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
        |      + strpos('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS bs
        |  FROM hx0),
        |cl AS (
        |  SELECT id, frame_no, list_transform(range(61), j ->
        |      CASE WHEN ((j+1)*n)//61 > (j*n)//61
        |        THEN list_sum(bs[CAST((j*n)//61 AS INT)+1 : CAST(((j+1)*n)//61 AS INT)])
        |             // (((j+1)*n)//61 - (j*n)//61)
        |        ELSE 0 END) AS cells
        |  FROM bs0),
        |sig AS (
        |  SELECT id, frame_no, CAST(list_sum(list_transform(range(61), j ->
        |      CASE WHEN cells[CAST(j AS INT)+1] > list_sum(cells) // 61
        |        THEN CAST(1 AS BIGINT) << CAST(j AS INT)
        |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
        |  FROM cl),
        |fp AS (
        |  SELECT l.id AS doc_a, r.id AS doc_b,
        |    CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
        |  FROM sig l JOIN sig r
        |    ON l.frame_no = r.frame_no AND l.id < r.id
        |  WHERE bit_count(xor(l.sig, r.sig)) <= 3)
        |SELECT doc_a, doc_b, count(*) AS n_frames_matched,
        |  min(hamming) AS min_hamming
        |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // pl12: the perceptual dedup pipeline on the REAL codec — the
    // flagship image near-dup path with no stub anywhere: javax.imageio
    // PNG decode (mm4) → nearest-neighbor resize to the canonical 8×8
    // hash grid (mm5) → aHash61 over decoded-and-resized pixels →
    // dd15's Manku banding engine, signatures materialized ONCE so the
    // engine's two consumer shapes cannot re-run the decode (the
    // perceptualFrameDup discipline). Planted re-encode artifacts
    // (one gray level on one pixel of every 16th doc's image) must
    // surface as small-hamming pairs. The oracle replays
    // decode∘resize∘hash as pattern arithmetic (PNG gray is lossless
    // — mm4/mm5 pin both directions bit-exact) and then the UNFILTERED
    // n² verify, so a hash match proves the banded pipeline result IS
    // the brute force over real decoded pixels. At 100 TB: decode and
    // resize are narrow (no exchange ever carries pixels — the
    // signature exchange ships 16 bytes/row), banding is the dd15
    // engine, pair volume tracks dup mass (hash-diverse corpus by
    // construction, see imagePngPairDocs).
    Query("pl12_perceptual_pipeline", (s, d) =>
      Dedup.perceptualHashDup(
        Multimodal.resizeNearest(
          Multimodal.decodeLumaGrid(imagePngPairDocs(s, d), "doc_id", "media"),
          "doc_id", targetW = 8, targetH = 8),
        "doc_id", "grid", maxHamming = 3, materializeSignatures = true),
      // pl12: decode∘resize∘hash replayed as pattern arithmetic (the
      // mm5 resize index map over the pl12 mixing pattern, perturbed
      // plants included), then the UNFILTERED n² verify — the dd15
      // lossless-banding discipline over REAL decoded pixels.
      s"""WITH m AS (
         |  SELECT doc_id, doc_id AS base, FALSE AS perturb FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000, doc_id, TRUE FROM documents
         |  WHERE doc_id % 16 = 0),
         |d AS (
         |  SELECT doc_id, base % 5 + 4 AS w, base % 3 + 4 AS h,
         |    base % 251 AS c1, base % 241 AS c2, perturb
         |  FROM m),
         |px AS (
         |  SELECT doc_id, 64 AS n,
         |    list_transform(range(64), i ->
         |      (c1 * ((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8) + 3)
         |       + c2 * (((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8))
         |               * ((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8)) + 1)
         |       + CASE WHEN perturb
         |              AND (((i // 8) * h) // 8) * w + (((i % 8) * w) // 8) = 0
         |              THEN 1 ELSE 0 END) % 256) AS bs
         |  FROM d),
         |$aHash61ChainSql
         |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  CAST(bit_count(xor(l.ahash, r.ahash)) AS BIGINT) AS hamming
         |FROM sig l JOIN sig r ON l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.ahash, r.ahash)) <= 3""".stripMargin),

    // mm7: REAL multi-frame decode — the video-shaped path with a real
    // codec per frame: a length-prefixed container of PNG frames is
    // demuxed (offset parse) and each frame decoded through
    // javax.imageio, then average-hashed — one row per (doc, frame).
    // The oracle replays demux+decode+hash as pattern arithmetic
    // keyed by (doc_id, frame_no): PNG gray is lossless, so only the
    // Spark side needs the codec (the mm4 discipline, per frame).
    Query("mm7_frame_decode", (s, d) =>
      graft.operators.Multimodal.decodeFrames(
        videoPngDocs(s, d, planted = false), "doc_id", "media")
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          graft.functions.TextFunctions.aHash61(col("grid")).as("ahash")),
      // mm7: demux+decode+hash replayed as (doc, frame)-keyed pattern
      // arithmetic — the mm4 lossless-PNG discipline per container frame.
      mm7Sql),

    // mm8: the SAME frames through a SECOND real container — multipage
    // TIFF, demuxed by the JDK's own TIFF plugin instead of the
    // length-prefix parse. The decodeFrames "a real demuxer swaps in
    // and nothing else changes" claim as a receipt: identical pixel
    // pattern, identical downstream hash, and the ORACLE IS mm7's
    // replay VERBATIM (8-bit gray TIFF is lossless).
    Query("mm8_tiff_frame_decode", (s, d) =>
      graft.operators.Multimodal.decodeFramesImageIO(
        videoTiffDocs(s, d), "doc_id", "media")
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          graft.functions.TextFunctions.aHash61(col("grid")).as("ahash")),
      // mm8: mm7's replay VERBATIM — the same frames in a multipage-TIFF
      // container through the JDK's own TIFF demuxer must hash
      // identically (8-bit gray TIFF is lossless; the container is the
      // only thing that changed).
      mm7Sql),

    // pl14: the VIDEO perceptual-dedup pipeline on the real codec —
    // pl9's flagship shape with the stub retired: container demux →
    // REAL per-frame decode (mm7) → per-frame resize to the canonical
    // 8×8 hash grid (mm5 at frame granularity — load-bearing, not
    // cosmetic: a raw 4–8-px-a-side frame populates only w·h of the 61
    // hash cells, and the shared always-zero cells weld unrelated
    // same-shape frames into small-hamming matches — probed: 542 pairs
    // for 32 plants at sf0.001 without the resize, 32-ish with it) →
    // per-frame aHash61 → dd15's Manku banding grouped on frame_no
    // (only aligned frames compare; signatures materialized once —
    // perceptualFrameDup's built-in stage boundary) → media-level
    // rollup: near-dups when ≥ 2 aligned frames band-match within
    // hamming 3. The planted copies perturb only frame 0 by one gray
    // level, so every later frame matches at hamming 0 — exactly how a
    // clip with one re-encoded frame survives a frame-level match.
    // Oracle = demux/decode/resize/hash as (doc, frame)-keyed pattern
    // arithmetic, the UNFILTERED per-frame n², then the same rollup.
    Query("pl14_video_dedup", (s, d) =>
      Dedup.perceptualFrameDup(
        graft.operators.Multimodal.resizeNearestFrames(
          graft.operators.Multimodal.decodeFrames(
            videoPngDocs(s, d, planted = true), "doc_id", "media"),
          "doc_id", "frame_no", targetW = 8, targetH = 8),
        "doc_id", "frame_no", "grid", maxHamming = 3)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_frames_matched"),
          min(col("hamming")).as("min_hamming"))
        .filter(col("n_frames_matched") >= 2),
      // pl14: the per-frame replay over base ∪ perturbed plants, the
      // UNFILTERED frame-aligned n² (a hash match proves the grouped
      // banding IS the brute force over real decoded pixels), then the
      // pl9 rollup.
      s"""WITH cand AS (
         |  SELECT doc_id, doc_id AS base, FALSE AS perturb FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000, doc_id, TRUE FROM documents
         |  WHERE doc_id % 16 = 0),
         |m AS (
         |  SELECT doc_id, base % 5 + 4 AS w, base % 3 + 4 AS h,
         |    base % 251 AS c1, base % 241 AS c2, base % 4 + 2 AS nf, perturb
         |  FROM cand),
         |fr AS (
         |  SELECT doc_id, w, h, c1, c2, perturb,
         |    CAST(unnest(range(nf)) AS BIGINT) AS frame_no
         |  FROM m),
         |px AS (
         |  SELECT doc_id, frame_no, 64 AS n,
         |    list_transform(range(64), i ->
         |      (c1 * ((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8) + 3)
         |       + c2 * (((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8))
         |               * ((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8)) + 1)
         |       + 17 * frame_no
         |       + CASE WHEN perturb AND frame_no = 0
         |              AND (((i // 8) * h) // 8) * w + (((i % 8) * w) // 8) = 0
         |              THEN 1 ELSE 0 END) % 256) AS bs
         |  FROM fr),
         |${aHash61ChainSqlKeyed("doc_id, frame_no")},
         |fp AS (
         |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |    CAST(bit_count(xor(l.ahash, r.ahash)) AS BIGINT) AS hamming
         |  FROM sig l JOIN sig r
         |    ON l.frame_no = r.frame_no AND l.doc_id < r.doc_id
         |  WHERE bit_count(xor(l.ahash, r.ahash)) <= 3)
         |SELECT doc_a, doc_b, count(*) AS n_frames_matched,
         |  min(hamming) AS min_hamming
         |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // mm6: MEDIA NORMALIZATION STATS — per-source decoded-pixel
    // moments over the real-codec corpus (mm4's PNGs): exact Long
    // (count, Σpx, Σpx²) folded per image BEFORE any shuffle
    // (Multimodal.pixelMoments), then one per-source aggregate over
    // 4-Long rows — the dataset-card normalization row for the
    // multimodal column, extending pl6's card discipline (x19 integer
    // quantization: mean published as exact milli-units plus the raw
    // moments; std is derivable without another corpus pass). The
    // doc→source attach here is a scalar join at test scale; a
    // production decode carries source through the generator
    // projection (the mm3 keepCols pattern) and skips it.
    Query("mm6_pixel_stats", (s, d) =>
      Multimodal.pixelMoments(
        Multimodal.decodeLumaGrid(imagePngDocs(s, d), "doc_id", "media"),
        "doc_id")
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("n_pixels")).as("n_pixels"),
          sum(col("sum_px")).as("sum_px"),
          sum(col("sum_sq_px")).as("sum_sq_px"))
        .withColumn("mean_millipx", expr("(sum_px * 1000) DIV n_pixels")),
      // mm6: the decoded-pixel moments recomputed arithmetically from
      // mm4's pattern (PNG gray is lossless), summed per source — all
      // integers, the mean in exact milli-units.
      """WITH m AS (
        |  SELECT doc_id, source, doc_id % 5 + 4 AS w, doc_id % 3 + 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, source, w * h AS n,
        |    list_transform(range(w * h), i ->
        |      (doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256) AS bs
        |  FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(sum(n) AS BIGINT) AS n_pixels,
        |  CAST(sum(list_sum(bs)) AS BIGINT) AS sum_px,
        |  CAST(sum(list_sum(list_transform(bs, v -> v * v))) AS BIGINT)
        |    AS sum_sq_px,
        |  CAST(sum(list_sum(bs)) * 1000 // sum(n) AS BIGINT) AS mean_millipx
        |FROM px GROUP BY 1""".stripMargin)
  )

  /** The aHash61 cell chain as DuckDB CTEs, keyed by `keys` (the
    * pl9/dd15 replay over an int list): expects an upstream
    * `px($keys, n, bs)` where `bs` is the n-pixel luma list, and
    * yields `sig($keys, ahash)`. Shared by mm4/mm5/pl12 (doc_id) and
    * mm7/pl14 (doc_id, frame_no). */
  private def aHash61ChainSqlKeyed(keys: String): String =
    s"""cl AS (
       |  SELECT $keys, list_transform(range(61), j ->
       |      CASE WHEN ((j+1)*n)//61 > (j*n)//61
       |        THEN list_sum(bs[CAST((j*n)//61 AS INT)+1 : CAST(((j+1)*n)//61 AS INT)])
       |             // (((j+1)*n)//61 - (j*n)//61)
       |        ELSE 0 END) AS cells
       |  FROM px),
       |sig AS (
       |  SELECT $keys, CAST(list_sum(list_transform(range(61), j ->
       |      CASE WHEN cells[CAST(j AS INT)+1] > list_sum(cells) // 61
       |        THEN CAST(1 AS BIGINT) << CAST(j AS INT)
       |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS ahash
       |  FROM cl)""".stripMargin

  private val aHash61ChainSql: String = aHash61ChainSqlKeyed("doc_id")

  /** The multi-frame demux+decode+hash replay — shared VERBATIM by mm7
    * (length-prefixed PNG container) and mm8 (multipage TIFF — not
    * GIF: the JDK GIF writer was probed lossy, see videoTiffDocs):
    * both containers carry the same lossless gray frames, so the
    * replay is container-agnostic by construction — which is exactly
    * the claim the two rows make together. */
  private lazy val mm7Sql: String =
    s"""WITH m AS (
       |  SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 4 AS h,
       |    doc_id % 251 AS c1, doc_id % 241 AS c2, doc_id % 4 + 2 AS nf
       |  FROM documents),
       |fr AS (
       |  SELECT doc_id, w, h, c1, c2,
       |    CAST(unnest(range(nf)) AS BIGINT) AS frame_no
       |  FROM m),
       |px AS (
       |  SELECT doc_id, frame_no, w * h AS n,
       |    list_transform(range(w * h), i ->
       |      (c1 * (i + 3) + c2 * (i * i + 1) + 17 * frame_no) % 256) AS bs
       |  FROM fr),
       |${aHash61ChainSqlKeyed("doc_id, frame_no")}
       |SELECT fr.doc_id, fr.frame_no, CAST(fr.w AS BIGINT) AS width,
       |  CAST(fr.h AS BIGINT) AS height, sig.ahash
       |FROM fr JOIN sig USING (doc_id, frame_no)""".stripMargin

  /** mm4's real-PNG fixture corpus: per document one tiny 8-bit
    * grayscale PNG, ENCODED through the real codec (javax.imageio) on
    * the executors — pixel (x, y) = (doc_id·31 + x·7 + y·13) mod 256,
    * width doc_id%5+4, height doc_id%3+4. The pattern is a pure
    * function of doc_id so the DuckDB oracle can recompute the decoded
    * pixels arithmetically: PNG gray is lossless, hence
    * decode(encode(pattern)) = pattern and only the Spark side needs a
    * codec. */
  private def imagePngDocs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    Tables.documents(s, d).select(col("doc_id"))
      .as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { id =>
          val w = (id % 5 + 4).toInt
          val h = (id % 3 + 4).toInt
          (id, encodeGrayPng(w, h,
            (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt))
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("doc_id", "media")
  }

  /** Encode one 8-bit grayscale image through the REAL codec
    * (javax.imageio PNG) from a per-pixel intensity function —
    * executor-side helper behind [[imagePngDocs]] (mm4/mm5) and
    * [[imagePngPairDocs]] (pl12). The per-call
    * MemoryCacheImageOutputStream picks ImageIO's memory cache for
    * THIS encode only (the OutputStream overload's default is a temp
    * FILE per encode — pure I/O overhead for in-memory byte media —
    * and the setUseCache(false) alternative flips a process-global
    * flag every other ImageIO user in the executor JVM would silently
    * inherit). */
  private def encodeGrayPng(w: Int, h: Int,
      px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, px(x, y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, "png", ios)
    finally ios.close()
    bos.toByteArray
  }

  /** mm8's MULTIPAGE-TIFF corpus: the SAME per-frame pixel pattern and
    * (w, h, nFrames) geometry as [[videoPngDocs]] (unplanted), but the
    * container is one real multipage TIFF per document — the JDK TIFF
    * writer sequencing TYPE_BYTE_GRAY pages (8-bit gray TIFF is
    * lossless, so the mm7 oracle replays this container VERBATIM:
    * same pattern, different demuxer, same hashes). The GIF writer
    * was tried first and probed LOSSY for animation sequences (a
    * constant frame came back with its last row zeroed), which is
    * exactly the kind of codec landmine the fail-loud decode contract
    * exists to catch. */
  private def videoTiffDocs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    Tables.documents(s, d)
      .select(col("doc_id"))
      .as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { b =>
          val w = (b % 5 + 4).toInt
          val h = (b % 3 + 4).toInt
          val nf = (b % 4 + 2).toInt
          val c1 = b % 251
          val c2 = b % 241
          val bos = new java.io.ByteArrayOutputStream()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          val writer = javax.imageio.ImageIO
            .getImageWritersByFormatName("tiff").next()
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < nf) {
              val img = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
              val raster = img.getRaster
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val i = y * w + x
                  raster.setSample(x, y, 0,
                    ((c1 * (i + 3) + c2 * (i.toLong * i + 1) + 17L * f)
                      % 256L).toInt)
                  x += 1
                }
                y += 1
              }
              writer.writeToSequence(
                new javax.imageio.IIOImage(img, null, null), null)
              f += 1
            }
            writer.endWriteSequence()
          } finally {
            writer.dispose()
            ios.close()
          }
          (b, bos.toByteArray)
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("doc_id", "media")
  }

  /** pl12's real-PNG NEAR-DUP corpus: every document gets a
    * deterministic grayscale PNG, and every 16th document additionally
    * a PLANTED near-dup copy (id + 2,000,000) — SAME dimensions, same
    * pixel pattern computed from the BASE id, with pixel (0, 0)
    * raised one gray level: the "same image, re-encoded with a tiny
    * artifact" analog, which lands within a few aHash bits of its
    * base after the 8×8 resize.
    *
    * The pixel pattern deliberately differs from mm4's: mm4's
    * `base·31 + 7x + 13y` is LINEAR in (x, y), so two same-shape
    * images differ by a constant offset wherever neither wraps mod
    * 256 — and a constant offset is invisible to cells-vs-mean
    * average hashing, which would weld whole (w, h) classes into one
    * giant hamming-0 clique and make the pair output quadratic in the
    * corpus. Here pixel i (flat, row-major) =
    * `((base mod 251)·(i+3) + (base mod 241)·(i²+1)) mod 256` — the
    * quadratic term wraps differently per document, and two documents
    * collide only when BOTH residues match (mod 251·241 ≈ 60 k, above
    * the sf0.1 corpus), so unplanted signatures are hash-diverse and
    * the pair volume tracks the planted dup mass. The formula is pure
    * integer arithmetic, replayed verbatim by the DuckDB oracle
    * through the resize index map. */
  private[queries] def imagePngPairDocs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("doc_id").as("base"), lit(false).as("perturb"))
    val plants = Tables.documents(s, d)
      .filter(col("doc_id") % 16 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        col("doc_id").as("base"), lit(true).as("perturb"))
    base.union(plants)
      .as[(Long, Long, Boolean)](Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaBoolean))
      .mapPartitions { it =>
        it.map { case (id, b, perturb) =>
          val w = (b % 5 + 4).toInt
          val h = (b % 3 + 4).toInt
          val c1 = b % 251
          val c2 = b % 241
          (id, encodeGrayPng(w, h, (x, y) => {
            val i = y * w + x
            val bump = if (perturb && i == 0) 1L else 0L
            ((c1 * (i + 3) + c2 * (i.toLong * i + 1) + bump) % 256L).toInt
          }))
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("doc_id", "media")
  }
}
