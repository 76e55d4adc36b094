package graft
package queries

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import Kit._
import Q._

/** Multimodal columns: binary payloads with typed metadata, image and
  * audio decode, features and perceptual hashes. */
private[graft] object MediaQueries {

  val all: Seq[Q] = Seq(
    Q("q_media_decode", (s, dir) => {
      Multimodal.decode(Multimodal.asMediaTable(t(s, dir, "documents"))).toDF()
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
    }, sql(
      """SELECT doc_id, 'image' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(64 + octet_length(encode(text)) % 1024 AS BIGINT) AS width,
        |  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS height,
        |  CAST(1 + octet_length(encode(text)) % 8 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin), bench = true),

    Q("q_media_frames", (s, dir) => {
      Multimodal.sampleFrames(Multimodal.asMediaTable(t(s, dir, "documents"))).toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))
    }, sql(
      """SELECT doc_id, CAST(unnest(range(0, 1 + octet_length(encode(text)) % 8, 2)) AS BIGINT) AS frame_idx
        |FROM documents""".stripMargin), bench = true),

    // 16x16 target so most payloads actually truncate (docs are > 256 B).
    Q("q_media_resize", (s, dir) => {
      Multimodal.resize(Multimodal.asMediaTable(t(s, dir, "documents")), 16, 16).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          length(col("payload")).cast("long").as("out_len"))
    }, sql(
      """SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CAST(least(octet_length(encode(text)), 256) AS BIGINT) AS out_len
        |FROM documents""".stripMargin), bench = true),

    // The vector is exploded to scalar (doc_id, feat_idx, feat) rows: the
    // harness sorts output columns with pandas, which cannot sort/hash an
    // array<float> column, and the explosion puts every feature value under
    // the gate. Payload BYTES are reached in SQL via hex pairs of
    // encode(text), and the stub's (byte-128)/128 arithmetic is exact
    // power-of-two math in both float and double -> full hash-match oracle.
    // Byte j of the payload via its hex pair; (byte - 128)/128 is exact
    // power-of-two arithmetic, identical in float (Spark) and double (here).
    Q("q_media_features", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.asMediaTable(t(s, dir, "documents"))).toDF()
        .select(col("doc_id"), posexplode(col("features")).as(Seq("feat_idx", "feat")))
        .select(col("doc_id"),
          col("feat_idx").cast("long").as("feat_idx"),
          col("feat").cast("double").as("feat")), sql(
      """WITH m AS (
        |  SELECT doc_id, to_hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, j,
        |    CASE WHEN n = 0 THEN 0.0
        |         ELSE (CAST(('0x' || substr(hx, CAST(((j * 2654435761) % n) * 2 + 1 AS INTEGER), 2))::UBIGINT AS BIGINT) - 128) / 128.0
        |    END AS feat
        |  FROM m CROSS JOIN range(16) r(j))
        |SELECT doc_id, CAST(j AS BIGINT) AS feat_idx, feat FROM f""".stripMargin), bench = true),

    // Perceptual image dedup (dHash) on the REAL decode path: formula
    // PNGs with PLANTED duplicates (image seed = doc_id % 100, so each of
    // 5 distinct images appears 5x), nearest-neighbor 9x8 luminance
    // sampling, gradient bits — equal-seed docs MUST collide to one
    // 64-bit hash, and the oracle recomputes every hash from the pixel
    // formula with no image library.
    // dHash replay: the pixel formula sampled at the engine's exact
    // nearest-neighbor grid, integer 601 luminance, gradient bits folded
    // high-to-low in HUGEINT, reinterpreted as signed 64-bit
    Q("q_media_dhash", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), (col("doc_id") % 100).as("seed"))
      val hashes = Multimodal.dHashes(
        Multimodal.synthesizePngs(
          docs.select(col("seed").as("doc_id")).distinct()).toDF(),
        Multimodal.RealCodec).toDF()
        .select(col("doc_id").as("seed"), col("dhash"))
      docs.join(hashes, Seq("seed"))
        .withColumn("n_same", count(lit(1))
          .over(Window.partitionBy(col("dhash"))).cast("long"))
        .select(col("doc_id"), col("seed"), col("dhash"), col("n_same"))
    }, sql(
      """WITH d AS (SELECT doc_id, doc_id % 100 AS seed FROM documents
        |           WHERE doc_id % 20 = 0),
        |sel AS (SELECT DISTINCT seed, 8 + seed % 9 AS w, 8 + seed % 7 AS h FROM d),
        |grid AS (SELECT seed, x, y,
        |           (x * w) // 9 AS px0, ((x + 1) * w) // 9 AS px1,
        |           (y * h) // 8 AS py
        |         FROM sel, UNNEST(range(0, 8)) rx(x), UNNEST(range(0, 8)) ry(y)),
        |gr AS (SELECT seed, x, y,
        |    (299 * ((7 * px0 + 11 * py + seed) % 256)
        |     + 587 * ((13 * px0 + 3 * py + 2 * seed) % 256)
        |     + 114 * ((px0 + 5 * py + 3 * seed) % 256)) // 1000 AS g0,
        |    (299 * ((7 * px1 + 11 * py + seed) % 256)
        |     + 587 * ((13 * px1 + 3 * py + 2 * seed) % 256)
        |     + 114 * ((px1 + 5 * py + 3 * seed) % 256)) // 1000 AS g1
        |  FROM grid),
        |bits AS (SELECT seed,
        |           list(CASE WHEN g1 > g0 THEN 1 ELSE 0 END ORDER BY y DESC, x DESC) AS bl
        |         FROM gr GROUP BY seed),
        |hs AS (SELECT seed,
        |    list_reduce(list_prepend(0::HUGEINT, list_transform(bl, b -> b::HUGEINT)),
        |      (acc, b) -> acc * 2::HUGEINT + b) AS hraw
        |  FROM bits),
        |hsx AS (SELECT seed,
        |    CAST(CASE WHEN hraw >= 9223372036854775808::HUGEINT
        |              THEN hraw - 18446744073709551616::HUGEINT
        |              ELSE hraw END AS BIGINT) AS dhash
        |  FROM hs),
        |j AS (SELECT d.doc_id, d.seed, hsx.dhash FROM d JOIN hsx USING (seed))
        |SELECT doc_id, seed, dhash,
        |  CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same
        |FROM j""".stripMargin), bench = true),

    // Image NEAR-dup pairs: the dHash fingerprints through the banded
    // hamming join (exact at maxHamming=7 < chunks=8 by pigeonhole) — the
    // image twin of simhash text dedup, on the real decode path. Seed
    // space doc_id%40 over the %5 doc slice gives 40 distinct images;
    // planted equal seeds plus the monotone-luminance all-ones family
    // produce real pairs.
    // image near-dup: the dHash formula replay per seed, then the direct
    // hamming<=7 pair filter (the banded join is EXACT at 7 < 8 chunks)
    Q("q_media_neardup", (s, dir) => {
      val seeds = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") % 40).as("doc_id")).distinct()
      val hashes = Multimodal.dHashes(
        Multimodal.synthesizePngs(seeds).toDF(), Multimodal.RealCodec).toDF()
      operators.Dedup.hammingPairs(hashes, "dhash", maxHamming = 7)
    }, sql(
      """WITH d AS (SELECT DISTINCT doc_id % 40 AS seed FROM documents
        |           WHERE doc_id % 5 = 0),
        |sel AS (SELECT seed, 8 + seed % 9 AS w, 8 + seed % 7 AS h FROM d),
        |grid AS (SELECT seed, x, y,
        |           (x * w) // 9 AS px0, ((x + 1) * w) // 9 AS px1,
        |           (y * h) // 8 AS py
        |         FROM sel, UNNEST(range(0, 8)) rx(x), UNNEST(range(0, 8)) ry(y)),
        |gr AS (SELECT seed, x, y,
        |    (299 * ((7 * px0 + 11 * py + seed) % 256)
        |     + 587 * ((13 * px0 + 3 * py + 2 * seed) % 256)
        |     + 114 * ((px0 + 5 * py + 3 * seed) % 256)) // 1000 AS g0,
        |    (299 * ((7 * px1 + 11 * py + seed) % 256)
        |     + 587 * ((13 * px1 + 3 * py + 2 * seed) % 256)
        |     + 114 * ((px1 + 5 * py + 3 * seed) % 256)) // 1000 AS g1
        |  FROM grid),
        |bits AS (SELECT seed,
        |           list(CASE WHEN g1 > g0 THEN 1 ELSE 0 END ORDER BY y DESC, x DESC) AS bl
        |         FROM gr GROUP BY seed),
        |hs AS (SELECT seed,
        |    list_reduce(list_prepend(0::HUGEINT, list_transform(bl, b -> b::HUGEINT)),
        |      (acc, b) -> acc * 2::HUGEINT + b) AS hraw
        |  FROM bits),
        |hsx AS (SELECT seed,
        |    CAST(CASE WHEN hraw >= 9223372036854775808::HUGEINT
        |              THEN hraw - 18446744073709551616::HUGEINT
        |              ELSE hraw END AS BIGINT) AS dhash
        |  FROM hs)
        |SELECT a.seed AS a_id, b.seed AS b_id,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM hsx a JOIN hsx b ON a.seed < b.seed
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 7""".stripMargin)),

    // The REAL javax.imageio path under the gate (the other media gates run
    // StubCodec): formula-pixel PNGs synthesized executor-side, then the
    // fused RealCodec stage — header dims, frame count, and the frame-0
    // raster hash are integer-predictable because PNG round-trips 24-bit
    // RGB losslessly, so the oracle recomputes the exact polynomial over
    // the formula pixels with no image library on its side.
    // rasterHash is h := h * 1000003 + rgb24 over row-major pixels in
    // WRAPPING 64-bit arithmetic — reproduced here in HUGEINT with an
    // explicit mod 2^64 per step, then reinterpreted as signed.
    Q("q_media_real", (s, dir) => {
      val ids = t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
      Multimodal.processAll(Multimodal.synthesizePngs(ids).toDF(),
          width = 8, height = 8, dim = 4, codec = Multimodal.RealCodec).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("frame_hash"))
    }, sql(
      """WITH sel AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents WHERE doc_id % 20 = 0),
        |px AS (
        |  SELECT doc_id, w, h,
        |    list_transform(range(0, w * h), i ->
        |      (((i % w) * 7 + (i // w) * 11 + doc_id) % 256) * 65536
        |      + (((i % w) * 13 + (i // w) * 3 + 2 * doc_id) % 256) * 256
        |      + ((i % w) + (i // w) * 5 + 3 * doc_id) % 256) AS pxs
        |  FROM sel),
        |hashed AS (
        |  SELECT doc_id, w, h,
        |    list_reduce(list_prepend(0::HUGEINT, list_transform(pxs, p -> p::HUGEINT)),
        |      (acc, p) -> (acc * 1000003::HUGEINT + p) % 18446744073709551616::HUGEINT) AS hh
        |  FROM px)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN hh >= 9223372036854775808::HUGEINT
        |            THEN hh - 18446744073709551616::HUGEINT ELSE hh END AS BIGINT) AS frame_hash
        |FROM hashed""".stripMargin), bench = true),

    // Real audio path under the hash gate: formula-PCM WAVs synthesized
    // executor-side, header fields read back through the JDK sound API
    // (decodeAudio) and windowed RMS energies computed from the decoded
    // PCM stream (audioFeatures) — one row per (clip, energy window).
    // Payload bytes never leave executors; the oracle recomputes both
    // header arithmetic and the exact integer Σs² -> IEEE energy chain.
    // VAD-style energy segmentation of the synthesized clips: fixed
    // 16-sample windows, cross-multiplied INTEGER activity decision
    // (ssq*10^6 >= theta^2*2^30*cnt - no float in segment boundaries),
    // maximal active runs emitted with exact integer run energies. The
    // whole operator is one partition-local decode pass - no shuffle.
    // Audio: header fields are pure integer formulas; energies replay the
    // engine's exact chain — integer sum(s*s) (< 2^53, exact as DOUBLE),
    // one correctly-rounded divide, sqrt, /2^15, then the double->REAL
    // round-trip matching the engine's Float features.
    // VAD energy segments: the formula-PCM windows, the integer activity
    // inequality, gaps-and-islands runs
    Q("q_media_vad", (s, dir) => {
      val wavs = Multimodal.synthesizeWavs(
        t(s, dir, "documents").filter(col("doc_id") % 25 === 0)).toDF()
      Multimodal.energySegments(wavs, windowSamples = 16,
        thresholdMilli = 500).toDF()
    }, sql(
      """WITH sel AS (
        |  SELECT doc_id,
        |    (64 + (doc_id % 41)) * (1 + (doc_id % 2)) AS n
        |  FROM documents WHERE doc_id % 25 = 0),
        |vals AS (
        |  SELECT doc_id, i // 16 AS win,
        |    ((i * 37 + doc_id * 101) % 65536) - 32768 AS s
        |  FROM (SELECT *, unnest(range(0, n)) AS i FROM sel)),
        |wins AS (SELECT doc_id, win, sum(CAST(s AS HUGEINT) * s) AS ssq,
        |           count(*) AS cnt
        |         FROM vals GROUP BY 1, 2),
        |act AS (SELECT doc_id, win, ssq FROM wins
        |        WHERE ssq * 1000000 >=
        |          CAST(500 AS HUGEINT) * 500 * 32768 * 32768 * cnt),
        |isl AS (SELECT doc_id, win, ssq,
        |          win - row_number() OVER (PARTITION BY doc_id ORDER BY win) AS g
        |        FROM act),
        |seg AS (SELECT doc_id, g, min(win) AS start_win, max(win) AS end_win,
        |          CAST(count(*) AS BIGINT) AS n_windows,
        |          CAST(sum(ssq) AS BIGINT) AS ssq_total
        |        FROM isl GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_win) - 1
        |    AS BIGINT) AS seg_idx,
        |  CAST(start_win AS BIGINT) AS start_win,
        |  CAST(end_win AS BIGINT) AS end_win, n_windows, ssq_total
        |FROM seg""".stripMargin), bench = true),

    Q("q_media_audio", (s, dir) => {
      val wavs = Multimodal.synthesizeWavs(
        t(s, dir, "documents").filter(col("doc_id") % 25 === 0)).toDF()
      val meta = Multimodal.decodeAudio(wavs).toDF()
        .select(col("doc_id"), col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_frames"), col("duration_ms"))
      val feats = Multimodal.audioFeatures(wavs, dim = 4).toDF()
        .select(col("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("long").as("win"),
          col("col").cast("double").as("energy"))
      meta.join(feats, Seq("doc_id"))
    }, sql(
      """WITH sel AS (
        |  SELECT doc_id,
        |    8000 + (doc_id % 5) * 1000 AS rate,
        |    1 + (doc_id % 2) AS channels,
        |    64 + (doc_id % 41) AS frames
        |  FROM documents WHERE doc_id % 25 = 0),
        |params AS (
        |  SELECT *, frames * channels AS n,
        |    (frames * channels + 3) // 4 AS per_bucket
        |  FROM sel),
        |vals AS (
        |  SELECT doc_id, rate, channels, frames,
        |    least(3, i // per_bucket) AS win,
        |    ((i * 37 + doc_id * 101) % 65536) - 32768 AS s
        |  FROM (SELECT *, unnest(range(0, n)) AS i FROM params)),
        |energies AS (
        |  SELECT doc_id, rate, channels, frames, win,
        |    sum(s * s) AS ssq, count(*) AS cnt
        |  FROM vals GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id,
        |  CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(frames AS BIGINT) AS n_frames,
        |  frames * 1000.0 / rate AS duration_ms,
        |  CAST(win AS BIGINT) AS win,
        |  CAST(CAST(sqrt(CAST(ssq AS DOUBLE) / cnt) / 32768.0 AS REAL) AS DOUBLE)
        |    AS energy
        |FROM energies""".stripMargin), bench = true),
  )
}
