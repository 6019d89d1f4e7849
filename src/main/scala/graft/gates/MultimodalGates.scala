package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Mp4Meta, Multimodal, TarCodec, WavCodec}

import Fixtures._

/** Image, audio and video columns: decoders, metadata, resize,
  * perceptual hashes and media dedup. */
object MultimodalGates {

  val gates: Seq[Gate] = Seq(
    // ----- §2.10 multimodal columns ------------------------------------
    // Real round-trip: encode a valid 24-bit BMP per doc (dims derived
    // from table columns), then parse width/height back from the actual
    // header BYTES. The oracle independently rebuilds the same 54-byte
    // header blob in SQL and parses it back by blob slicing — both
    // sides exercise the byte layout, not the construction arithmetic.
    Gate("multimodal_features")((s, dir) => {
      val dims = tbl(s, dir, "documents").select(
        col("doc_id"),
        (col("n_chars") % 64 + 1).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val media = Multimodal.encodeBmpFrame(dims, "doc_id", "w", "h")
      Multimodal.extractFeatures(media).toDF()
        .agg(
          count(lit(1)).as("n_media"),
          sum("byteLen").as("total_bytes"),
          sum("width").as("sum_width"),
          sum("height").as("sum_height"),
          sum(when(col("format") === "bmp", 1L).otherwise(0L)).as("n_bmp"))
    }) {
      // Builds the same 54-byte BMP header as a BLOB (from_hex of
      // little-endian field hex) and parses width/height back by slicing
      // header bytes 18-21 / 22-25 — an independent exercise of the BMP
      // byte layout against the Scala encoder+parser round-trip.
      bmpHeaderOracle
    },
    Gate("multimodal_frames")((s, dir) => {
      val media = Multimodal.withMediaColumn(
        tbl(s, dir, "documents"), "doc_id", "text", Seq("lang"))
      Multimodal.sampleFrames(media, stride = 10)
        .agg(count(lit(1)).as("n_frames"))
    }) {
      """SELECT CAST(sum(CAST(ceil(strlen(text) / 10.0) AS BIGINT)) AS BIGINT)
        |  AS n_frames
        |FROM documents WHERE strlen(text) > 0""".stripMargin
    },
    // REAL pixel path end-to-end: encode spec-valid BMPs, nearest-
    // neighbor resize the pixel rows, parse the RESIZED headers back.
    // The oracle recomputes output dims (integer floor, min 1) and the
    // exact padded byte size from the same dims formula.
    Gate("multimodal_resize")((s, dir) => {
      val dims = tbl(s, dir, "documents").select(
        col("doc_id"),
        (col("n_chars") % 64 + 1).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val media = Multimodal.encodeBmpFrame(dims, "doc_id", "w", "h")
      val resized = Multimodal.resizeBmpFrame(media, 50)
      Multimodal.extractFeatures(resized).toDF()
        .agg(
          count(lit(1)).as("n"),
          sum("width").as("sum_w"),
          sum("height").as("sum_h"),
          sum("byteLen").as("total_bytes"),
          sum(when(col("format") === "bmp", 1L).otherwise(0L)).as("n_bmp"))
    }) {
      """WITH dims AS (
        |  SELECT greatest(1, (n_chars % 64 + 1) * 50 // 100) AS nw,
        |         greatest(1, (doc_id % 48 + 1) * 50 // 100) AS nh
        |  FROM documents
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(nw) AS BIGINT) AS sum_w,
        |  CAST(sum(nh) AS BIGINT) AS sum_h,
        |  CAST(sum(54 + ((3 * nw + 3) // 4) * 4 * nh) AS BIGINT) AS total_bytes,
        |  CAST(count(*) AS BIGINT) AS n_bmp
        |FROM dims""".stripMargin
    },

    // Perceptual image hash (aHash): real BMPs built from the closed-
    // form pixel gradient, hashed by 8×8 NN-downsample + integer-luma
    // mean bits. The oracle recomputes every sampled pixel's luma FROM
    // THE FORMULA and reassembles both 32-bit hash halves — any drift
    // in sampling coordinates, stride math, or the mean rule breaks it.
    Gate("multimodal_ahash")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 64 + 1).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val media = Multimodal.encodeBmpFrame(dims, "doc_id", "w", "h")
      Multimodal.aHashFrame(media)
        .select(col("media_id").as("doc_id"),
          col("ahash").bitwiseAND(lit(0xffffffffL)).as("ahash_lo"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"))
        .orderBy("doc_id")
    }) {
      // Output dims = max(1, dim*50 // 100); byte size = 54-byte header +
      // 4-byte-padded 24bpp rows — the same public BMP layout the Scala
      // encoder/resizer implement.
      aHashOracle
    },

    // GIF tier: real indexed GIF89a payloads (every third one
    // interlaced) decode through the hand-written LZW codec into the
    // same cross-format hash space; the oracle replays each sampled
    // gray pixel from the gradient formula and reassembles both hash
    // halves — any LZW/palette/interlace divergence hash-mismatches.
    Gate("multimodal_gif")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 64 + 1).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val media = Multimodal.encodeGifFrame(dims, "doc_id", "w", "h",
        interlaceEvery = 3)
      Multimodal.aHashAnyFrame(media)
        .select(col("media_id").as("doc_id"),
          col("ahash").bitwiseAND(lit(0xffffffffL)).as("ahash_lo"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"))
        .orderBy("doc_id")
    }) {
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(n_chars % 64 + 1 AS BIGINT) AS w,
        |    CAST(doc_id % 48 + 1 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 200
        |), px AS (
        |  SELECT doc_id, i,
        |    3 * ((doc_id + sx * 7 + sy * 13) % 256) AS lum
        |  FROM (
        |    SELECT doc_id,
        |      unnest(range(0, 64)) AS i,
        |      unnest(list_transform(range(0, 64), j -> (j % 8) * w // 8)) AS sx,
        |      unnest(list_transform(range(0, 64), j -> h - 1 - (j // 8) * h // 8)) AS sy
        |    FROM d)
        |), tot AS (
        |  SELECT doc_id, i, lum,
        |    sum(lum) OVER (PARTITION BY doc_id) AS s
        |  FROM px
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN i < 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ahash_lo,
        |  CAST(sum(CASE WHEN i >= 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi
        |FROM tot GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    },

    // Lossless WebP (VP8L): the gray gradient encoded through FIVE
    // spec-conformant paths cycled by id (plain literals / subtract-
    // green / predictor / color transform / 256-entry palette), all
    // decoding to the same pixels — aHash over the full decode
    // exercises every transform inverse; the oracle replays the
    // gradient formula in closed form (the GIF gate's pattern).
    Gate("multimodal_webp")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 64 + 8).cast("int").as("w"),
        (col("doc_id") % 48 + 8).cast("int").as("h"))
      val media = Multimodal.encodeWebpFrame(dims, "doc_id", "w", "h")
      Multimodal.aHashAnyFrame(media)
        .select(col("media_id").as("doc_id"),
          col("ahash").bitwiseAND(lit(0xffffffffL)).as("ahash_lo"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"))
        .orderBy("doc_id")
    }) {
      // Sampled rows follow aHashRaster's bottom-up convention over the
      // top-down GIF raster: visual row = h - 1 - (i//8)*h//8; gray
      // pixels make luma 3x the palette index.
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(n_chars % 64 + 8 AS BIGINT) AS w,
        |    CAST(doc_id % 48 + 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 200
        |), px AS (
        |  SELECT doc_id, i,
        |    3 * ((doc_id + sx * 7 + sy * 13) % 256) AS lum
        |  FROM (
        |    SELECT doc_id,
        |      unnest(range(0, 64)) AS i,
        |      unnest(list_transform(range(0, 64), j -> (j % 8) * w // 8)) AS sx,
        |      unnest(list_transform(range(0, 64), j -> h - 1 - (j // 8) * h // 8)) AS sy
        |    FROM d)
        |), tot AS (
        |  SELECT doc_id, i, lum,
        |    sum(lum) OVER (PARTITION BY doc_id) AS s
        |  FROM px
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN i < 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ahash_lo,
        |  CAST(sum(CASE WHEN i >= 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi
        |FROM tot GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // PACKED color-indexing decode path: a 16-gray palette packs two
    // pixel indices per green byte (widthBits=1) — the sub-8-bit
    // branch the 256-entry variant above never hits. Same closed-form
    // aHash oracle over the 16-level gradient.
    Gate("multimodal_webp_packed")((s, dir) => {
      import s.implicits._
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 64 + 8).cast("int").as("w"),
        (col("doc_id") % 48 + 8).cast("int").as("h"))
      val media = dims.as[(Long, Int, Int)].mapPartitions(_.map {
        case (id, w, h) =>
          val pal = Array.tabulate(16)(i =>
            0xff000000 | ((17 * i) << 16) | ((17 * i) << 8) | (17 * i))
          (id, graft.operators.WebpCodec.encodeIndexed(w, h, pal,
            (x, y) => ((id + x + y) % 16).toInt))
      }).toDF("media_id", "data")
      Multimodal.aHashAnyFrame(media)
        .select(col("media_id").as("doc_id"),
          col("ahash").bitwiseAND(lit(0xffffffffL)).as("ahash_lo"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"))
        .orderBy("doc_id")
    }) {
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(n_chars % 64 + 8 AS BIGINT) AS w,
        |    CAST(doc_id % 48 + 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 200
        |), px AS (
        |  SELECT doc_id, i,
        |    3 * 17 * ((doc_id + sx + sy) % 16) AS lum
        |  FROM (
        |    SELECT doc_id,
        |      unnest(range(0, 64)) AS i,
        |      unnest(list_transform(range(0, 64), j -> (j % 8) * w // 8)) AS sx,
        |      unnest(list_transform(range(0, 64), j -> h - 1 - (j // 8) * h // 8)) AS sy
        |    FROM d)
        |), tot AS (
        |  SELECT doc_id, i, lum,
        |    sum(lum) OVER (PARTITION BY doc_id) AS s
        |  FROM px
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN i < 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ahash_lo,
        |  CAST(sum(CASE WHEN i >= 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi
        |FROM tot GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // ANIMATED WebP: VP8X/ANIM/ANMF container census (frames, total
    // duration, loop count) + the LAST frame decoded through the ANMF
    // walk and aHashed — frame f's pixels are gradient(id + f), so the
    // oracle replays both the census and the last frame's hash in
    // closed form (the animated-GIF gate's pattern).
    Gate("multimodal_webp_anim")((s, dir) => {
      import s.implicits._
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 40 + 8).cast("int").as("w"),
        (col("doc_id") % 24 + 8).cast("int").as("h"),
        (col("doc_id") % 3 + 2).cast("int").as("frames"),
        (col("doc_id") % 10 + 40).cast("int").as("dur"),
        (col("doc_id") % 4).cast("int").as("loop"))
      spec.as[(Long, Int, Int, Int, Int, Int)].mapPartitions(_.map {
        case (id, w, h, fr, dur, loop) =>
          val bytes = graft.operators.WebpCodec.encodeAnimated(
            id, w, h, fr, dur, loop)
          val m = graft.operators.WebpCodec.parseMeta(bytes)
          val last = graft.operators.WebpCodec.decodeAnimFrame(bytes, fr - 1)
          val hash = Multimodal.aHashRaster(last)
          (id, m.nFrames, m.durationMs, m.loopCount, m.width, m.height,
            hash & 0xffffffffL, hash >>> 32)
      }).toDF("doc_id", "n_frames", "duration_ms", "loop_count", "w", "h",
        "ahash_lo", "ahash_hi")
        .orderBy("doc_id")
    }) {
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(n_chars % 40 + 8 AS BIGINT) AS w,
        |    CAST(doc_id % 24 + 8 AS BIGINT) AS h,
        |    CAST(doc_id % 3 + 2 AS BIGINT) AS frames,
        |    CAST(doc_id % 10 + 40 AS BIGINT) AS dur,
        |    CAST(doc_id % 4 AS BIGINT) AS loop
        |  FROM documents WHERE doc_id < 200
        |), px AS (
        |  SELECT doc_id, i,
        |    3 * (((doc_id + frames - 1) + sx * 7 + sy * 13) % 256) AS lum
        |  FROM (
        |    SELECT doc_id, frames,
        |      unnest(range(0, 64)) AS i,
        |      unnest(list_transform(range(0, 64), j -> (j % 8) * w // 8)) AS sx,
        |      unnest(list_transform(range(0, 64), j -> h - 1 - (j // 8) * h // 8)) AS sy
        |    FROM d)
        |), tot AS (
        |  SELECT doc_id, i, lum,
        |    sum(lum) OVER (PARTITION BY doc_id) AS s
        |  FROM px
        |), hashes AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN i < 32 AND 64 * lum > s
        |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ahash_lo,
        |    CAST(sum(CASE WHEN i >= 32 AND 64 * lum > s
        |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi
        |  FROM tot GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(d.frames AS INTEGER) AS n_frames,
        |  CAST(d.frames * d.dur AS BIGINT) AS duration_ms,
        |  CAST(d.loop AS INTEGER) AS loop_count,
        |  CAST(d.w AS INTEGER) AS w, CAST(d.h AS INTEGER) AS h,
        |  hx.ahash_lo, hx.ahash_hi
        |FROM d JOIN hashes hx USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    // LOSSY WebP (round 16): the Vp8Codec fixture keyframe — per-MB
    // flat luma levels driven by one Y2 DC coefficient each through
    // the full VP8 machinery (bool decode, default probs, token
    // trees, WHT, DC-pred chain, BT.601 gray). The oracle replays the
    // closed-form level chain (q=100 → y2dcQ=196, floor-division
    // shifts, prefix sum); is_flat pins that every pixel of every MB
    // equals its level with r==g==b and alpha 255. The decoder itself
    // is pixel-exact vs REAL libwebp (WebpLossySpec).
    Gate("multimodal_webp_lossy")((s, dir) => {
      import s.implicits._
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 100).select(
        col("doc_id"), ((col("doc_id") % 6 + 2) * 16).cast("int").as("w"))
      dims.as[(Long, Int)].mapPartitions(_.flatMap { case (id, w) =>
        val bytes = graft.operators.WebpCodec.encodeLossyWebp(id, w, 16)
        val r = graft.operators.WebpCodec.decode(bytes)
        (0 until r.width / 16).iterator.map { mb =>
          val lvl = r.pixels(mb * 16 * 4) & 0xff
          var flat = true
          var y = 0
          while (y < 16 && flat) {
            var x = 0
            while (x < 16 && flat) {
              val i = (y * r.width + mb * 16 + x) * 4
              flat = (r.pixels(i) & 0xff) == lvl &&
                r.pixels(i) == r.pixels(i + 1) &&
                r.pixels(i) == r.pixels(i + 2) &&
                (r.pixels(i + 3) & 0xff) == 255
              x += 1
            }
            y += 1
          }
          (id, mb, lvl.toLong, flat)
        }
      }).toDF("doc_id", "mb_idx", "level", "is_flat")
        .orderBy("doc_id", "mb_idx")
    }) {
      // closed-form VP8 fixture replay: q=100 → y2dcQ = 196; the Y2 DC
      // coefficient's WHT and IDCT halves are floor-division shifts and
      // the DC-pred chain is a prefix sum (never clamped at <= 7 MBs)
      """WITH wl_docs AS (
        |  SELECT doc_id, CAST(doc_id % 6 + 2 AS INTEGER) AS n_mb
        |  FROM documents WHERE doc_id < 100
        |), wl_mb AS (
        |  SELECT doc_id, CAST(unnest(range(n_mb)) AS INTEGER) AS mb
        |  FROM wl_docs
        |), wl_delta AS (
        |  SELECT doc_id, mb,
        |    CAST(floor((floor(((CASE WHEN (doc_id + mb) % 2 = 0
        |        THEN 1 ELSE -1 END)
        |      * ((doc_id + 3 * mb) % 4 + 1) * 196 + 3) / 8.0) + 4) / 8.0)
        |      AS BIGINT) AS d
        |  FROM wl_mb
        |)
        |SELECT doc_id, mb AS mb_idx,
        |  CAST(128 + sum(d) OVER (PARTITION BY doc_id ORDER BY mb)
        |    AS BIGINT) AS level,
        |  TRUE AS is_flat
        |FROM wl_delta ORDER BY doc_id, mb_idx""".stripMargin
    },
    // WebP container metadata: RIFF walk + VP8L header fields of the
    // generated payloads (format, 14-bit dims, alpha hint).
    Gate("multimodal_webp_meta")((s, dir) => {
      import s.implicits._
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 64 + 8).cast("int").as("w"),
        (col("doc_id") % 48 + 8).cast("int").as("h"))
      Multimodal.encodeWebpFrame(dims, "doc_id", "w", "h")
        .select(col("media_id").cast("long"), col("data"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, d) =>
          val m = graft.operators.WebpCodec.parseMeta(d)
          (id, m.format, m.width, m.height, m.hasAlpha)
        })
        .toDF("doc_id", "format", "w", "h", "has_alpha")
        .orderBy("doc_id")
    }) {
      """SELECT doc_id, 'vp8l' AS format,
        |  CAST(n_chars % 64 + 8 AS INTEGER) AS w,
        |  CAST(doc_id % 48 + 8 AS INTEGER) AS h,
        |  TRUE AS has_alpha
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin
    },

    // Animated-GIF metadata: REAL multi-frame payloads (every GCE
    // carries a delay), metadata read by a header walk that skips the
    // LZW data — the oracle replays frames, duration AND the per-frame
    // closed-form byte size.
    Gate("multimodal_gif_meta")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 30 + 4).cast("int").as("w"),
        (col("doc_id") % 20 + 4).cast("int").as("h"),
        (col("doc_id") % 4 + 1).cast("int").as("frames"),
        (col("doc_id") % 7 * 5).cast("int").as("delay_cs"))
      val media = Multimodal.encodeAnimatedGifFrame(
        spec, "doc_id", "w", "h", "frames", "delay_cs")
      Multimodal.extractGifMeta(media).toDF()
        .select(col("mediaId").as("doc_id"), col("byteLen").as("byte_len"),
          col("width").as("w"), col("height").as("h"),
          col("nFrames").as("n_frames"), col("animated"),
          col("durationMs").as("duration_ms"))
        .orderBy("doc_id")
    }) {
      """WITH spec AS (
        |  SELECT doc_id,
        |    n_chars % 30 + 4 AS w,
        |    doc_id % 20 + 4 AS h,
        |    doc_id % 4 + 1 AS nf,
        |    doc_id % 7 * 5 AS delay_cs
        |  FROM documents WHERE doc_id < 200
        |), sized AS (
        |  SELECT *,
        |    (9 * (w * h + (w * h + 249) // 250 + 1) + 7) // 8 AS db
        |  FROM spec
        |)
        |SELECT doc_id,
        |  CAST(781 + nf * (20 + db + (db + 254) // 255) + 1 AS BIGINT) AS byte_len,
        |  CAST(w AS INTEGER) AS w,
        |  CAST(h AS INTEGER) AS h,
        |  CAST(nf AS INTEGER) AS n_frames,
        |  nf > 1 AS animated,
        |  CAST(nf * delay_cs * 10 AS BIGINT) AS duration_ms
        |FROM sized ORDER BY doc_id""".stripMargin
    },

    // GIF resize: decode → NN resample → re-index → re-encode; the
    // oracle recomputes the resized dims AND the literal-LZW closed-
    // form byte size (codes → bits → sub-blocks) per image.
    Gate("multimodal_resize_gif")((s, dir) => {
      val dims = tbl(s, dir, "documents").select(
        col("doc_id"),
        (col("n_chars") % 64 + 1).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val media = Multimodal.encodeGifFrame(dims, "doc_id", "w", "h",
        interlaceEvery = 3)
      val resized = Multimodal.resizeGifFrame(media, 50)
      Multimodal.extractFeatures(resized).toDF()
        .agg(
          count(lit(1)).as("n"),
          sum("width").as("sum_w"),
          sum("height").as("sum_h"),
          sum("byteLen").as("total_bytes"),
          sum(when(col("format") === "gif", 1L).otherwise(0L)).as("n_gif"))
    }) {
      """WITH dims AS (
        |  SELECT
        |    greatest(1, (n_chars % 64 + 1) * 50 // 100) AS rw,
        |    greatest(1, (doc_id % 48 + 1) * 50 // 100) AS rh
        |  FROM documents
        |), sized AS (
        |  SELECT rw, rh,
        |    rw * rh AS n,
        |    rw * rh + (rw * rh + 249) // 250 + 1 AS codes
        |  FROM dims
        |), bytes AS (
        |  SELECT rw, rh,
        |    (9 * codes + 7) // 8 AS db
        |  FROM sized
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(rw) AS BIGINT) AS sum_w,
        |  CAST(sum(rh) AS BIGINT) AS sum_h,
        |  CAST(sum(794 + db + (db + 254) // 255) AS BIGINT) AS total_bytes,
        |  CAST(count(*) AS BIGINT) AS n_gif
        |FROM bytes""".stripMargin
    },

    // The full IMAGE near-dup pipeline: real BMP payloads → perceptual
    // aHash → generic hamming banding (maxHamming 2 → FULL recall by
    // pigeonhole). The oracle replays the hashes pixel-by-pixel and
    // runs the exact all-pairs hamming sweep — banding must lose
    // nothing at this radius.
    Gate("multimodal_image_dedup")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 64 + 1).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val media = Multimodal.encodeBmpFrame(dims, "doc_id", "w", "h")
      Dedup.hammingPairs(
          Multimodal.aHashFrame(media), "media_id", "ahash", maxHamming = 2)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    }) {
      s"""$aHashCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.ahash_lo, b.ahash_lo))
         |    + bit_count(xor(a.ahash_hi, b.ahash_hi)) AS INTEGER) AS hamming
         |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ahash_lo, b.ahash_lo))
         |    + bit_count(xor(a.ahash_hi, b.ahash_hi)) <= 2
         |ORDER BY id_a, id_b""".stripMargin
    },

    // Incremental IMAGE ingest, probe tier: the doc_id<200 BMP corpus
    // is hashed and banded ONCE (hammingIndex); the batch re-encodes
    // the same gradients under new ids — doc_id%3==0 rows byte-
    // identical to their originals (guaranteed radius-0 hits), the
    // rest at w+1/w+2 with whatever hash drift that causes. Pigeonhole
    // recall is FULL at radius 2, so the oracle is the exact cross-side
    // hamming sweep over pixel-replayed hashes — no banding slack.
    Gate("image_dedup_incremental")((s, dir) => {
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 200)
      val idxDims = docs.select(col("doc_id"),
        (col("n_chars") % 64 + 1).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val index = Dedup.hammingIndex(
        Multimodal.aHashFrame(Multimodal.encodeBmpFrame(idxDims, "doc_id", "w", "h")),
        "media_id", "ahash")
      val batchDims = docs.select(col("doc_id"),
        (col("n_chars") % 64 + 1 + col("doc_id") % 3).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val batch = Multimodal.aHashFrame(
          Multimodal.encodeBmpFrame(batchDims, "doc_id", "w", "h"))
        .select((col("media_id") + 100000).as("media_id"), col("ahash"))
      Dedup.hammingAgainstIndex(batch, "media_id", "ahash", index, maxHamming = 2)
        .orderBy("id_new", "id_idx")
    }) {
      s"""WITH $aHashIncBody
         |SELECT id_new, id_idx, hamming FROM ham
         |WHERE hamming <= 2
         |ORDER BY id_new, id_idx""".stripMargin
    },

    // Incremental IMAGE ingest, one-call drop tier: same index/batch
    // as image_dedup_incremental; the oracle replays the WHOLE decision
    // — exact probe sweep, exact batch pairs, recursive-CTE clusters,
    // and the keep rule (anti hits, anti hit-clusters, cluster reps).
    Gate("image_dedup_incremental_drop")((s, dir) => {
      val docs = tbl(s, dir, "documents").where(col("doc_id") < 200)
      val idxDims = docs.select(col("doc_id"),
        (col("n_chars") % 64 + 1).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val index = Dedup.hammingIndex(
        Multimodal.aHashFrame(Multimodal.encodeBmpFrame(idxDims, "doc_id", "w", "h")),
        "media_id", "ahash")
      val batchDims = docs.select(col("doc_id"),
        (col("n_chars") % 64 + 1 + col("doc_id") % 3).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val batch = Multimodal.aHashFrame(
          Multimodal.encodeBmpFrame(batchDims, "doc_id", "w", "h"))
        .select((col("media_id") + 100000).as("media_id"), col("ahash"))
      Dedup.dedupIncrementalHamming(batch, "media_id", "ahash", index, maxHamming = 2)
        .select("media_id").orderBy("media_id")
    }) {
      s"""WITH RECURSIVE $aHashIncBody,
         |hits AS (
         |  SELECT DISTINCT id_new AS doc_id FROM ham WHERE hamming <= 2
         |), bpairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM hashes a, hashes b
         |  WHERE a.doc_id >= 100000 AND b.doc_id >= 100000
         |    AND a.doc_id < b.doc_id
         |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 2
         |), edges AS (
         |  SELECT id_a, id_b FROM bpairs UNION ALL SELECT id_b, id_a FROM bpairs
         |), reach(id, r) AS (
         |  SELECT id_a, id_a FROM edges
         |  UNION
         |  SELECT e.id_a, r.r FROM edges e JOIN reach r ON r.id = e.id_b
         |), cl AS (
         |  SELECT id, min(r) AS c FROM reach GROUP BY id
         |), hitcl AS (
         |  SELECT DISTINCT cl.c FROM cl JOIN hits ON cl.id = hits.doc_id
         |)
         |SELECT b.doc_id AS media_id
         |FROM (SELECT doc_id FROM d WHERE doc_id >= 100000) b
         |LEFT JOIN cl ON cl.id = b.doc_id
         |WHERE b.doc_id NOT IN (SELECT doc_id FROM hits)
         |  AND (cl.c IS NULL
         |       OR (cl.c = b.doc_id AND cl.c NOT IN (SELECT c FROM hitcl)))
         |ORDER BY media_id""".stripMargin
    },

    // REAL PNG pixel path: encode spec-valid stored-deflate PNGs,
    // decode+unfilter+resample+re-encode (PngCodec), parse the resized
    // headers back. Oracle recomputes output dims and the closed-form
    // stored-deflate file size: 63 + raw + 5*ceil(raw/65535), with
    // raw = nh*(1 + 3*nw).
    // REAL JPEG path end-to-end: deterministic gradient rasters →
    // baseline JPEG encode → header parse → entropy decode + IDCT +
    // nearest resample + re-encode → header parse again. Entropy-coded
    // byte sizes have no closed form, so the oracle checks the
    // SQL-predictable surface: counts, format tags and exact dims on
    // both sides of the resize (floor(dim/2) min 1).
    Gate("multimodal_jpeg")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 40 + 9).cast("int").as("w"),
        (col("doc_id") % 32 + 9).cast("int").as("h"))
      val media = Multimodal.encodeJpegFrame(dims, "doc_id", "w", "h")
      val full = Multimodal.extractFeatures(media).toDF()
        .select(col("mediaId"), col("format").as("fmt0"),
          col("width").as("w0"), col("height").as("h0"))
      val resized = Multimodal.extractFeatures(
          Multimodal.resizeJpegFrame(media, 50)).toDF()
        .select(col("mediaId"), col("format").as("fmt1"),
          col("width").as("w1"), col("height").as("h1"))
      full.join(resized, "mediaId")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("fmt0") === "jpeg" && col("fmt1") === "jpeg", 1L)
            .otherwise(0L)).as("n_jpeg"),
          sum("w0").as("sum_w"), sum("h0").as("sum_h"),
          sum("w1").as("sum_rw"), sum("h1").as("sum_rh"))
    }) {
      """WITH dims AS (
        |  SELECT doc_id,
        |    n_chars % 40 + 9 AS w,
        |    doc_id % 32 + 9 AS h
        |  FROM documents WHERE doc_id < 200
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_jpeg,
        |  CAST(sum(w) AS BIGINT) AS sum_w,
        |  CAST(sum(h) AS BIGINT) AS sum_h,
        |  CAST(sum(greatest(1, w * 50 // 100)) AS BIGINT) AS sum_rw,
        |  CAST(sum(greatest(1, h * 50 // 100)) AS BIGINT) AS sum_rh
        |FROM dims""".stripMargin
    },

    // PROGRESSIVE (SOF2) JPEG path, end-to-end: the same gradients
    // encoded with the spectral-selection scan script, parsed, decoded
    // through the progressive accumulator for the resize, AND pinned
    // pixel-equivalent to the baseline encoding per image — the
    // perceptual hash of the progressive payload must equal the
    // baseline payload's (identical quantized coefficients, different
    // entropy layout), so n_hash_match = n is a real decode check the
    // SQL oracle can state in closed form.
    Gate("multimodal_jpeg_progressive")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 40 + 9).cast("int").as("w"),
        (col("doc_id") % 32 + 9).cast("int").as("h"))
      val prog = Multimodal.encodeJpegProgressiveFrame(dims, "doc_id", "w", "h")
      val base = Multimodal.encodeJpegFrame(dims, "doc_id", "w", "h")
      val hashes = Multimodal.aHashAnyFrame(prog)
        .select(col("media_id").as("mediaId"), col("ahash").as("h_prog"))
        .join(Multimodal.aHashAnyFrame(base)
          .select(col("media_id").as("mediaId"), col("ahash").as("h_base")), "mediaId")
      val full = Multimodal.extractFeatures(prog).toDF()
        .select(col("mediaId"), col("format").as("fmt0"),
          col("width").as("w0"), col("height").as("h0"))
      val resized = Multimodal.extractFeatures(
          Multimodal.resizeJpegFrame(prog, 50)).toDF()
        .select(col("mediaId"), col("format").as("fmt1"),
          col("width").as("w1"), col("height").as("h1"))
      full.join(resized, "mediaId").join(hashes, "mediaId")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("fmt0") === "jpeg" && col("fmt1") === "jpeg", 1L)
            .otherwise(0L)).as("n_jpeg"),
          sum("w0").as("sum_w"), sum("h0").as("sum_h"),
          sum("w1").as("sum_rw"), sum("h1").as("sum_rh"),
          sum(when(col("h_prog").isNotNull &&
            col("h_prog") === col("h_base"), 1L).otherwise(0L)).as("n_hash_match"))
    }) {
      // n_hash_match = n: the progressive and baseline encodings carry
      // identical quantized coefficients, so their decoded perceptual
      // hashes must agree image-for-image — any progressive-decoder
      // divergence would drop this below n and hash-mismatch the gate.
      """WITH dims AS (
        |  SELECT doc_id,
        |    n_chars % 40 + 9 AS w,
        |    doc_id % 32 + 9 AS h
        |  FROM documents WHERE doc_id < 200
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_jpeg,
        |  CAST(sum(w) AS BIGINT) AS sum_w,
        |  CAST(sum(h) AS BIGINT) AS sum_h,
        |  CAST(sum(greatest(1, w * 50 // 100)) AS BIGINT) AS sum_rw,
        |  CAST(sum(greatest(1, h * 50 // 100)) AS BIGINT) AS sum_rh,
        |  CAST(count(*) AS BIGINT) AS n_hash_match
        |FROM dims""".stripMargin
    },
    // Video metadata path: deterministic MP4 skeletons → ISO-BMFF box
    // walk → duration/dims/track extraction. Every column is closed
    // form (incl. the 240-byte skeleton size) for the oracle.
    Gate("multimodal_video")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 30000 + 500).cast("long").as("ms"),
        (col("doc_id") % 1280 + 16).cast("int").as("w"),
        (col("doc_id") % 720 + 16).cast("int").as("h"))
      val media = Multimodal.encodeMp4Frame(spec, "doc_id", "ms", "w", "h")
      Multimodal.extractVideoMeta(media).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("durationMs").as("duration_ms"),
          col("width"), col("height"),
          col("nTracks").as("n_tracks"), col("byteLen").as("byte_len"))
        .orderBy("doc_id")
    }) {
      // PNG file size is closed-form because the encoder writes STORED
      // deflate blocks: 8 sig + 25 IHDR + 12 IEND + IDAT(12 + 2 zlib hdr
      // + 5/block + raw + 4 adler) = 63 + raw + 5*ceil(raw/65535).
      """SELECT doc_id,
        |  'mp4' AS format,
        |  CAST(n_chars % 30000 + 500 AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 1280 + 16 AS INTEGER) AS width,
        |  CAST(doc_id % 720 + 16 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS n_tracks,
        |  CAST(240 AS BIGINT) AS byte_len
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin
    },
    // MP4 SAMPLE TABLES (round 17 — the demux tier below the metadata
    // walk): stts/stsc/stsz/stss/stco resolve every sample's byte
    // range, decode timestamp, and sync flag — what a video-curation
    // pipeline reads to locate keyframes BEFORE paying for any codec
    // work. Payload spec is id-derived closed form (n = 5 + id%7
    // samples of size 100 + (id·31+i)%50, delta 33, sync every 4,
    // ragged 3-sample chunks), so the oracle replays every census
    // column as integer arithmetic.
    Gate("multimodal_mp4_samples")((s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val n = 5 + (id % 7).toInt
          val sizes = (0 until n).map(i => 100 + ((id * 31 + i) % 50).toInt)
          val st = Mp4Meta.sampleTable(Mp4Meta.encodeWithSamples(
            sizes, Seq.fill(n)(33), samplesPerChunk = 3, syncEvery = 4))
          val mono = st.samples.sliding(2).forall {
            case Seq(a, b) => b.offset > a.offset
            case _ => true
          }
          (id, st.samples.size.toLong, st.samples.map(_.size).sum,
            st.samples.count(_.keyframe).toLong,
            st.samples.last.dts + 33L, if (mono) 1L else 0L)
        }
        .toDF("doc_id", "n_samples", "total_bytes", "n_sync",
          "duration_ticks", "offsets_monotone")
        .orderBy("doc_id")
    }) {
      // sample-table census: every column is integer arithmetic from the
      // id-derived payload spec (n samples, sizes, uniform delta 33,
      // sync every 4th sample 1-based = i%4==0 0-based)
      """WITH m AS (
        |  SELECT doc_id, 5 + doc_id % 7 AS n FROM documents
        |), e AS (
        |  SELECT doc_id, unnest(range(CAST(n AS BIGINT))) AS i FROM m
        |), a AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(100 + (doc_id * 31 + i) % 50) AS BIGINT) AS total_bytes,
        |    CAST(sum(CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sync
        |  FROM e GROUP BY doc_id
        |)
        |SELECT doc_id, n_samples, total_bytes, n_sync,
        |  CAST(33 * n_samples AS BIGINT) AS duration_ticks,
        |  CAST(1 AS BIGINT) AS offsets_monotone
        |FROM a ORDER BY doc_id""".stripMargin
    },
    // CODEC-FREE video curation over the sample tables (round-17
    // VERDICT item 4): the keep/drop rule a 100 TB pipeline actually
    // applies — duration bounds, keyframe density, byte-rate cap —
    // computed ONLY from the demuxed stts/stsc/stsz/stss/stco stats,
    // no bitstream decode. Payload spec is id-derived closed form
    // (n = 5+id%23 samples, uniform delta 20+(id%5)·15 at timescale
    // 600, sync every 1+id%6, sizes 100+(id·31+i)%50), so the oracle
    // replays every stat AND the verdict as integer arithmetic.
    Gate("video_curate_samples")((s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val n = 5 + (id % 23).toInt
          val delta = 20 + ((id % 5) * 15).toInt
          val k = 1 + (id % 6).toInt
          val sizes = (0 until n).map(i => 100 + ((id * 31 + i) % 50).toInt)
          val st = Mp4Meta.sampleTable(Mp4Meta.encodeWithSamples(
            sizes, Seq.fill(n)(delta), samplesPerChunk = 3, syncEvery = k))
          val durationTicks = st.samples.last.dts + delta
          val nSync = st.samples.count(_.keyframe).toLong
          val totalBytes = st.samples.map(_.size).sum
          val keep = durationTicks >= 400L && durationTicks <= 1500L &&
            nSync * 300L >= durationTicks &&
            totalBytes * 600L <= durationTicks * 1600L
          (id, st.samples.size.toLong, durationTicks, nSync, totalBytes, keep)
        }
        .toDF("doc_id", "n_samples", "duration_ticks", "n_sync", "total_bytes", "keep")
        .orderBy("doc_id")
    }) {
      // curation verdict replayed as pure integer arithmetic from the
      // id-derived payload spec (duration = n·delta ticks at timescale
      // 600; n_sync = (n-1)//k + 1; bytes from the size formula)
      """WITH m AS (
        |  SELECT doc_id,
        |    5 + doc_id % 23 AS n,
        |    20 + (doc_id % 5) * 15 AS delta,
        |    1 + doc_id % 6 AS k
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, unnest(range(CAST(n AS BIGINT))) AS i FROM m
        |), b AS (
        |  SELECT doc_id,
        |    CAST(sum(100 + (doc_id * 31 + i) % 50) AS BIGINT) AS total_bytes
        |  FROM e GROUP BY doc_id
        |)
        |SELECT m.doc_id,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(n * delta AS BIGINT) AS duration_ticks,
        |  CAST((n - 1) // k + 1 AS BIGINT) AS n_sync,
        |  b.total_bytes,
        |  (n * delta BETWEEN 400 AND 1500)
        |    AND (((n - 1) // k + 1) * 300 >= n * delta)
        |    AND (b.total_bytes * 600 <= CAST(n * delta AS BIGINT) * 1600) AS keep
        |FROM m JOIN b USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    // HEVC (H.265) bitstream census (round 19): Annex-B streams from
    // the in-repo writer over an id-derived closed form, walked by the
    // metadata tier — NAL classes, slice-header I/P mix, SPS coding
    // parameters. Every column replays as integer arithmetic; the
    // LIVE x265 encoder oracle pins the same parser on real streams
    // (padded resolutions, CRA/RASL, B-slices) in HevcMetaSpec.
    Gate("video_hevc_census")((s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents").where(col("doc_id") < 250)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 5 + 1).toInt * 32
          val h = (id % 3 + 2).toInt * 16
          val nf = (id % 7 + 1).toInt
          val ki = (id % 4 + 1).toInt
          val c = graft.operators.HevcMeta.census(
            graft.operators.HevcMeta.writeStream(w, h, nf, ki, seed = id * 97L))
          (id, c.width.toLong, c.height.toLong, c.nFrames.toLong,
            c.nKeyframes.toLong, c.nSliceP.toLong, c.profileIdc.toLong,
            c.levelIdc.toLong, c.ctbSize.toLong)
        }
        .toDF("doc_id", "w", "h", "n_frames", "n_key", "n_p", "profile",
          "level", "ctb")
        .orderBy("doc_id")
    }) {
      // census columns replay from the id-derived stream spec; keyframe
      // count is the IDR cadence ceil(nf/ki)
      """SELECT doc_id,
        |  CAST((doc_id % 5 + 1) * 32 AS BIGINT) AS w,
        |  CAST((doc_id % 3 + 2) * 16 AS BIGINT) AS h,
        |  CAST(doc_id % 7 + 1 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 7 + doc_id % 4 + 1) // (doc_id % 4 + 1) AS BIGINT) AS n_key,
        |  CAST(doc_id % 7 + 1
        |    - (doc_id % 7 + doc_id % 4 + 1) // (doc_id % 4 + 1) AS BIGINT) AS n_p,
        |  CAST(1 AS BIGINT) AS profile,
        |  CAST(93 AS BIGINT) AS level,
        |  CAST(64 AS BIGINT) AS ctb
        |FROM documents WHERE doc_id < 250 ORDER BY doc_id""".stripMargin
    },
    // HEVC-in-MP4 (round 19): the codec-aware curation path end to
    // end — stsd says hvc1, the hvcC record gives resolution and NAL
    // length size BEFORE any sample bytes, the sample table locates
    // every sample, and the per-sample NAL walk must agree with the
    // container's stss sync flags on every keyframe.
    Gate("video_hevc_mp4")((s, dir) => {
      import s.implicits._
      import graft.operators.{HevcMeta, Mp4Meta}
      tbl(s, dir, "documents").where(col("doc_id") < 150)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 6 + 2).toInt * 32
          val h = (id % 4 + 1).toInt * 36
          val nf = (id % 8 + 2).toInt
          val ki = (id % 3 + 2).toInt
          val hvcC = HevcMeta.writeHvcC(w, h)
          val samples = (0 until nf).map(f =>
            HevcMeta.writeSample(f % ki == 0, id * 1000L + f))
          val syncs = (0 until nf).filter(_ % ki == 0).map(_ + 1)
          val mp4 = Mp4Meta.encodeHevc(samples, syncs, hvcC, w, h)
          val info = Mp4Meta.videoCodecInfo(mp4)
          val (cfgTag, cfgBytes) = info.configBox.get
          val rec = HevcMeta.parseHvcC(cfgBytes, 0, cfgBytes.length)
          val sps = rec.sps.get
          val st = Mp4Meta.sampleTable(mp4)
          val irap = st.samples.map { sm =>
            val b = java.util.Arrays.copyOfRange(mp4, sm.offset.toInt,
              (sm.offset + sm.size).toInt)
            HevcMeta.lengthPrefixedNals(b, rec.lengthSize)
              .exists(x => HevcMeta.isIrap(x.nalType))
          }
          (id, info.codec, cfgTag, sps.width.toLong, sps.height.toLong,
            st.samples.size.toLong, irap.count(identity).toLong,
            st.samples.map(_.keyframe) == irap)
        }
        .toDF("doc_id", "codec", "config_tag", "w", "h", "n_samples",
          "n_key", "sync_agree")
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  'hvc1' AS codec, 'hvcC' AS config_tag,
        |  CAST((doc_id % 6 + 2) * 32 AS BIGINT) AS w,
        |  CAST((doc_id % 4 + 1) * 36 AS BIGINT) AS h,
        |  CAST(doc_id % 8 + 2 AS BIGINT) AS n_samples,
        |  CAST((doc_id % 8 + 2 + doc_id % 3 + 1) // (doc_id % 3 + 2) AS BIGINT)
        |    AS n_key,
        |  true AS sync_agree
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin
    },
    // AV1 bitstream census (round 19): low-overhead OBU streams from
    // the in-repo writer — OBU walk, sequence-header geometry (AV1
    // carries exact dims, arbitrary values), frame-type keyframe
    // cadence. The LIVE libaom encoder oracle pins the same parser on
    // real streams (per-packet keyframe flags from the encoder itself)
    // in Av1MetaSpec.
    Gate("video_av1_census")((s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 181 + 20).toInt // arbitrary, often odd — AV1 allows it
          val h = (id % 97 + 16).toInt
          val nf = (id % 6 + 1).toInt
          val ki = (id % 3 + 1).toInt
          val c = graft.operators.Av1Meta.census(
            graft.operators.Av1Meta.writeStream(w, h, nf, ki, seed = id * 53L))
          (id, c.width.toLong, c.height.toLong, c.nFrames.toLong,
            c.nKeyframes.toLong, c.nTemporalUnits.toLong, c.profile.toLong,
            c.levelIdx.toLong, c.bitDepth.toLong, c.superblock.toLong)
        }
        .toDF("doc_id", "w", "h", "n_frames", "n_key", "n_td", "profile",
          "level", "bit_depth", "sb")
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  CAST(doc_id % 181 + 20 AS BIGINT) AS w,
        |  CAST(doc_id % 97 + 16 AS BIGINT) AS h,
        |  CAST(doc_id % 6 + 1 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 6 + doc_id % 3 + 1) // (doc_id % 3 + 1) AS BIGINT) AS n_key,
        |  CAST(doc_id % 6 + 1 AS BIGINT) AS n_td,
        |  CAST(0 AS BIGINT) AS profile,
        |  CAST(8 AS BIGINT) AS level,
        |  CAST(8 AS BIGINT) AS bit_depth,
        |  CAST(64 AS BIGINT) AS sb
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin
    },
    // AV1-in-MP4 (round 19): the av01/av1C mirror of video_hevc_mp4 —
    // codec dispatch from stsd, geometry from the av1C-embedded
    // sequence header, per-sample frame_type keyframes agreeing with
    // the container's stss flags.
    Gate("video_av1_mp4")((s, dir) => {
      import s.implicits._
      import graft.operators.{Av1Meta, Mp4Meta}
      tbl(s, dir, "documents").where(col("doc_id") < 150)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 211 + 18).toInt
          val h = (id % 113 + 12).toInt
          val nf = (id % 7 + 2).toInt
          val ki = (id % 3 + 2).toInt
          val av1C = Av1Meta.writeAv1C(w, h)
          val samples = (0 until nf).map(f =>
            Av1Meta.writeSample(f % ki == 0, id * 1000L + f))
          val syncs = (0 until nf).filter(_ % ki == 0).map(_ + 1)
          val mp4 = Mp4Meta.encodeAv1(samples, syncs, av1C, w, h)
          val info = Mp4Meta.videoCodecInfo(mp4)
          val (cfgTag, cfgBytes) = info.configBox.get
          val rec = Av1Meta.parseAv1C(cfgBytes, 0, cfgBytes.length)
          val seq = rec.sequenceHeader.get
          val st = Mp4Meta.sampleTable(mp4)
          val irap = st.samples.map { sm =>
            Av1Meta.sampleIsKeyframe(seq, java.util.Arrays.copyOfRange(
              mp4, sm.offset.toInt, (sm.offset + sm.size).toInt))
          }
          (id, info.codec, cfgTag, seq.maxWidth.toLong, seq.maxHeight.toLong,
            st.samples.size.toLong, irap.count(identity).toLong,
            st.samples.map(_.keyframe) == irap)
        }
        .toDF("doc_id", "codec", "config_tag", "w", "h", "n_samples",
          "n_key", "sync_agree")
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  'av01' AS codec, 'av1C' AS config_tag,
        |  CAST(doc_id % 211 + 18 AS BIGINT) AS w,
        |  CAST(doc_id % 113 + 12 AS BIGINT) AS h,
        |  CAST(doc_id % 7 + 2 AS BIGINT) AS n_samples,
        |  CAST((doc_id % 7 + 2 + doc_id % 3 + 1) // (doc_id % 3 + 2) AS BIGINT)
        |    AS n_key,
        |  true AS sync_agree
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin
    },
    // AV1-in-WebM (round 19): the V_AV1 leg — CodecID dispatch, the
    // sequence header from CodecPrivate (the Matroska AV1 mapping),
    // demuxed SimpleBlock key flags agreeing with each frame OBU's
    // frame_type. Closes the "AV1 in WebM metadata-only" fence at the
    // bitstream level.
    Gate("video_av1_webm")((s, dir) => {
      import s.implicits._
      import graft.operators.{Av1Meta, WebmVideo}
      tbl(s, dir, "documents").where(col("doc_id") < 150)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 151 + 24).toInt
          val h = (id % 89 + 14).toInt
          val nf = (id % 6 + 2).toInt
          val ki = (id % 3 + 2).toInt
          val seqStream = Av1Meta.writeStream(w, h, 1, 1, seed = id)
          val so = Av1Meta.obus(seqStream)
            .find(_.obuType == Av1Meta.ObuSequenceHeader).get
          val priv = java.util.Arrays.copyOfRange(seqStream,
            so.offset - 2, so.offset + so.length)
          val frames = (0 until nf).map { f =>
            val key = f % ki == 0
            (f * 33L, Av1Meta.writeSample(key, id * 1000L + f), key)
          }
          val webm = WebmVideo.muxWebmCoded(frames, "V_AV1", w, h, nf * 33L,
            codecPrivate = priv)
          val (codec, cp) = WebmVideo.trackCodec(webm)
          val seq = {
            val o = Av1Meta.obus(cp).find(_.obuType == Av1Meta.ObuSequenceHeader).get
            Av1Meta.parseSequenceHeader(cp, o.offset, o.length)
          }
          val demuxed = WebmVideo.demuxWebm(webm)
          val agree = demuxed.forall { fr =>
            Av1Meta.sampleIsKeyframe(seq, java.util.Arrays.copyOfRange(
              webm, fr.off, fr.off + fr.len)) == fr.keyframe
          }
          (id, codec, seq.maxWidth.toLong, seq.maxHeight.toLong,
            demuxed.length.toLong, demuxed.count(_.keyframe).toLong, agree)
        }
        .toDF("doc_id", "codec", "w", "h", "n_frames", "n_key", "sync_agree")
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  'V_AV1' AS codec,
        |  CAST(doc_id % 151 + 24 AS BIGINT) AS w,
        |  CAST(doc_id % 89 + 14 AS BIGINT) AS h,
        |  CAST(doc_id % 6 + 2 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 6 + 2 + doc_id % 3 + 1) // (doc_id % 3 + 2) AS BIGINT)
        |    AS n_key,
        |  true AS sync_agree
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin
    },
    // Unified video-codec dispatch (round 19): ONE call over a mixed
    // corpus of MP4-HEVC / MP4-AV1 / WebM-AV1 / WebM-VP8 payloads —
    // container sniff, sample-entry / CodecID codec, config-record
    // geometry+profile+level — the decision a mixed-crawl curation
    // pass makes before touching sample bytes. Oracle replays every
    // column from the id-derived shape.
    Gate("video_codec_dispatch")((s, dir) => {
      import s.implicits._
      import graft.operators.{Av1Meta, HevcMeta, Mp4Meta, Multimodal, WebmVideo}
      val media = tbl(s, dir, "documents").where(col("doc_id") < 240)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes = (id % 4) match {
            case 0 => // MP4 + HEVC
              val w = (id % 7 + 1).toInt * 16
              val h = (id % 5 + 1).toInt * 16
              Mp4Meta.encodeHevc(Seq(HevcMeta.writeSample(keyframe = true, id)),
                Seq(1), HevcMeta.writeHvcC(w, h), w, h)
            case 1 => // MP4 + AV1
              val w = (id % 131 + 17).toInt
              val h = (id % 71 + 11).toInt
              Mp4Meta.encodeAv1(Seq(Av1Meta.writeSample(keyframe = true, id)),
                Seq(1), Av1Meta.writeAv1C(w, h), w, h)
            case 2 => // WebM + AV1 (sequence header in CodecPrivate)
              val w = (id % 131 + 17).toInt
              val h = (id % 71 + 11).toInt
              val ss = Av1Meta.writeStream(w, h, 1, 1, seed = id)
              val so = Av1Meta.obus(ss)
                .find(_.obuType == Av1Meta.ObuSequenceHeader).get
              WebmVideo.muxWebmCoded(
                Seq((0L, Av1Meta.writeSample(keyframe = true, id), true)),
                "V_AV1", w, h, 33L,
                codecPrivate = java.util.Arrays.copyOfRange(ss,
                  so.offset - 2, so.offset + so.length))
            case _ => // WebM + VP8 (no config record: dims from Tracks)
              val w = (id % 6 + 2).toInt * 16
              WebmVideo.muxWebm(
                Seq((0L, graft.operators.Vp8Codec.encodeLossy(id, w, 16))),
                w, 16, 33L)
          }
          (id, bytes)
        }).toDF("media_id", "data")
      Multimodal.extractVideoCodec(media).toDF()
        .select(col("mediaId").as("doc_id"), col("container"), col("codec"),
          col("width").cast("long").as("w"), col("height").cast("long").as("h"),
          col("profile").cast("long").as("profile"),
          col("level").cast("long").as("level"),
          col("bitDepth").cast("long").as("bit_depth"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 IN (0, 1) THEN 'mp4' ELSE 'webm' END AS container,
        |  CASE doc_id % 4 WHEN 0 THEN 'hvc1' WHEN 1 THEN 'av01'
        |       WHEN 2 THEN 'V_AV1' ELSE 'V_VP8' END AS codec,
        |  CAST(CASE doc_id % 4
        |    WHEN 0 THEN (doc_id % 7 + 1) * 16
        |    WHEN 3 THEN (doc_id % 6 + 2) * 16
        |    ELSE doc_id % 131 + 17 END AS BIGINT) AS w,
        |  CAST(CASE doc_id % 4
        |    WHEN 0 THEN (doc_id % 5 + 1) * 16
        |    WHEN 3 THEN 16
        |    ELSE doc_id % 71 + 11 END AS BIGINT) AS h,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 3 THEN -1
        |       ELSE 0 END AS BIGINT) AS profile,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 93 WHEN 3 THEN -1
        |       ELSE 8 END AS BIGINT) AS level,
        |  CAST(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 8 END AS BIGINT) AS bit_depth
        |FROM documents WHERE doc_id < 240 ORDER BY doc_id""".stripMargin
    },
    // Compressed-audio metadata path (round 9): deterministic MPEG-1
    // Layer III CBR streams → frame-header walk → duration/rate/
    // bitrate extraction. Frame length is the closed form
    // 144000·kbps/sr, so every column is exact integer arithmetic the
    // oracle replays from the bitrate/sample-rate tables.
    Gate("multimodal_mp3_meta")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 300).select(
        col("doc_id"),
        (col("doc_id") % 9 + 1).cast("int").as("frames"),
        (col("doc_id") % 14 + 1).cast("int").as("bi"),
        (col("doc_id") % 3).cast("int").as("si"))
      val media = Multimodal.encodeMp3Frame(spec, "doc_id", "frames", "bi", "si")
      Multimodal.extractMp3Meta(media).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("durationMs").as("duration_ms"),
          col("sampleRate").as("sample_rate"),
          col("channels"), col("nFrames").as("n_frames"),
          col("bitrateKbps").as("bitrate_kbps"),
          col("byteLen").as("byte_len"))
        .orderBy("doc_id")
    }) {
      """WITH spec AS (
        |  SELECT doc_id,
        |    doc_id % 9 + 1 AS frames,
        |    ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[
        |      CAST(doc_id % 14 + 1 AS INTEGER)] AS kbps,
        |    ([44100,48000,32000])[CAST(doc_id % 3 + 1 AS INTEGER)] AS sr
        |  FROM documents WHERE doc_id < 300
        |)
        |SELECT doc_id,
        |  'mp3' AS format,
        |  CAST(frames * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
        |  CAST(sr AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(frames AS BIGINT) AS n_frames,
        |  CAST(kbps AS INTEGER) AS bitrate_kbps,
        |  CAST(frames * (144000 * kbps // sr) AS BIGINT) AS byte_len
        |FROM spec ORDER BY doc_id""".stripMargin
    },
    // TIFF metadata path (round 9): deterministic IFD0 skeletons →
    // byte-order-aware tag walk. Every field + the 62-byte size is
    // closed form for the oracle.
    Gate("multimodal_tiff_meta")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 300).select(
        col("doc_id"),
        (col("doc_id") % 4000 + 1).cast("int").as("w"),
        (col("doc_id") % 3000 + 1).cast("int").as("h"),
        (col("doc_id") % 3 + 1).cast("int").as("spp"))
      val media = Multimodal.encodeTiffFrame(spec, "doc_id", "w", "h", "spp")
      Multimodal.extractTiffMeta(media).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("width"), col("height"),
          col("bitsPerSample").as("bps"),
          col("samplesPerPixel").as("spp"),
          col("byteLen").as("byte_len"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  'tiff' AS format,
        |  CAST(doc_id % 4000 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 3000 + 1 AS INTEGER) AS height,
        |  CAST(8 AS INTEGER) AS bps,
        |  CAST(doc_id % 3 + 1 AS INTEGER) AS spp,
        |  CAST(62 AS BIGINT) AS byte_len
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin
    },
    // Opus-in-Ogg metadata path (round 9): deterministic two-page
    // skeletons → page walk → duration from 48 kHz granules minus
    // pre-skip. Size is the closed form 75 + dataBytes.
    Gate("multimodal_opus_meta")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 300).select(
        col("doc_id"),
        (col("doc_id") % 50000 * 53 + 480).cast("long").as("samples"),
        (col("doc_id") % 2 + 1).cast("int").as("ch"),
        (col("doc_id") % 200 + 20).cast("int").as("db"))
      val media = Multimodal.encodeOpusFrame(spec, "doc_id", "samples", "ch", "db")
      Multimodal.extractOpusMeta(media).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("durationMs").as("duration_ms"), col("channels"),
          col("preSkip").as("pre_skip"),
          col("inputSampleRate").as("input_rate"),
          col("nPages").as("n_pages"), col("byteLen").as("byte_len"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  'opus' AS format,
        |  CAST(((doc_id % 50000) * 53 + 480) * 1000 // 48000 AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        |  CAST(312 AS INTEGER) AS pre_skip,
        |  CAST(48000 AS BIGINT) AS input_rate,
        |  CAST(2 AS INTEGER) AS n_pages,
        |  CAST(75 + doc_id % 200 + 20 AS BIGINT) AS byte_len
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin
    },
    // Codec-dispatched Ogg audio path (round 10): the page walk now
    // branches on the first packet's id header — Opus (RFC 7845) or
    // Vorbis (Vorbis I §4.2.2) — so Vorbis-in-Ogg stops being
    // loud-rejected. Mixed corpus: ⅓ Opus, ⅓ Vorbis, ⅓ MP3 (probe
    // disjointness — must come back "unknown", never mis-parse).
    Gate("multimodal_ogg_vorbis_meta")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 300).select(
        col("doc_id"),
        (col("doc_id") % 50000 * 53 + 480).cast("long").as("samples"),
        (col("doc_id") % 2 + 1).cast("int").as("ch"),
        (col("doc_id") % 200 + 20).cast("int").as("db"),
        expr("array(44100, 48000, 32000, 22050)[CAST(doc_id % 4 AS INT)]")
          .cast("long").as("sr"))
      val opus = Multimodal.encodeOpusFrame(
        spec.where(col("doc_id") % 3 === 0), "doc_id", "samples", "ch", "db")
      val vorb = Multimodal.encodeVorbisFrame(
        spec.where(col("doc_id") % 3 === 1), "doc_id", "samples", "sr", "ch", "db")
      val mp3 = Multimodal.encodeMp3Frame(
        spec.where(col("doc_id") % 3 === 2)
          .withColumn("frames", (col("doc_id") % 9 + 1).cast("int"))
          .withColumn("bi", lit(9)).withColumn("sri", lit(0)),
        "doc_id", "frames", "bi", "sri")
      Multimodal.extractOggAudioMeta(opus.unionAll(vorb).unionAll(mp3)).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("durationMs").as("duration_ms"), col("channels"),
          col("preSkip").as("pre_skip"),
          col("sampleRate").as("sample_rate"),
          col("nPages").as("n_pages"), col("byteLen").as("byte_len"))
        .orderBy("doc_id")
    }) {
      """WITH spec AS (
        |  SELECT doc_id,
        |    doc_id % 50000 * 53 + 480 AS samples,
        |    CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
        |    doc_id % 200 + 20 AS db,
        |    doc_id % 9 + 1 AS frames,
        |    ([44100, 48000, 32000, 22050])[CAST(doc_id % 4 + 1 AS INTEGER)] AS sr
        |  FROM documents WHERE doc_id < 300
        |)
        |SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'opus' WHEN 1 THEN 'vorbis'
        |    ELSE 'unknown' END AS format,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN samples * 1000 // 48000
        |    WHEN 1 THEN samples * 1000 // sr ELSE 0 END AS BIGINT)
        |    AS duration_ms,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 0 ELSE ch END AS INTEGER)
        |    AS channels,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 312 ELSE 0 END AS INTEGER)
        |    AS pre_skip,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 48000 WHEN 1 THEN sr
        |    ELSE 0 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 0 ELSE 2 END AS INTEGER)
        |    AS n_pages,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 75 + db WHEN 1 THEN 86 + db
        |    ELSE frames * (144000 * 128 // 44100) END AS BIGINT)
        |    AS byte_len
        |FROM spec ORDER BY doc_id""".stripMargin
    },
    // THE unified audio ingest (round 10): one call dispatches all
    // seven supported audio shapes — WAV, MP3, ADTS/AAC, FLAC, Opus,
    // Vorbis, M4A — by mutually-disjoint probes; every branch's
    // duration/rate/channels/size is closed form for the oracle.
    Gate("multimodal_audio_meta_all")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 350).select(
        col("doc_id"),
        (col("n_chars") % 300 + 50).cast("int").as("wframes"),
        (col("doc_id") % 2 + 1).cast("int").as("ch"),
        (col("doc_id") % 9 + 1).cast("int").as("frames"),
        (col("doc_id") % 512 + 16).cast("int").as("pb"),
        ((col("doc_id") % 50000) * 37 + 1000).cast("long").as("fsamples"),
        ((col("doc_id") % 50000) * 53 + 480).cast("long").as("osamples"),
        (col("doc_id") % 200 + 20).cast("int").as("db"),
        (col("n_chars") % 30000 + 500).cast("long").as("ms"),
        expr("array(44100, 48000, 32000, 22050)[CAST(doc_id % 4 AS INT)]")
          .cast("long").as("sr"))
      def part(k: Int) = spec.where(col("doc_id") % 7 === k)
      val wav = Multimodal.encodeWavFrame(
        part(0).withColumn("rate", lit(8000)), "doc_id", "wframes", "ch", "rate")
      val mp3 = Multimodal.encodeMp3Frame(
        part(1).withColumn("bi", lit(9)).withColumn("si", lit(0)),
        "doc_id", "frames", "bi", "si")
      val aac = Multimodal.encodeAacFrame(
        part(2).withColumn("si", lit(4)).withColumn("cc", lit(2)),
        "doc_id", "frames", "si", "cc", "pb")
      val flac = Multimodal.encodeFlacFrame(part(3), "doc_id", "fsamples", "sr", "ch")
      val opus = Multimodal.encodeOpusFrame(part(4), "doc_id", "osamples", "ch", "db")
      val vorb = Multimodal.encodeVorbisFrame(
        part(5), "doc_id", "osamples", "sr", "ch", "db")
      val m4a = Multimodal.encodeM4aFrame(part(6), "doc_id", "ms", "sr", "ch")
      val media = Seq(wav, mp3, aac, flac, opus, vorb, m4a).reduce(_ unionAll _)
      Multimodal.extractAudioMeta(media).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("durationMs").as("duration_ms"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("byteLen").as("byte_len"))
        .orderBy("doc_id")
    }) {
      """WITH spec AS (
        |  SELECT doc_id,
        |    n_chars % 300 + 50 AS wframes,
        |    CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
        |    doc_id % 9 + 1 AS frames,
        |    doc_id % 512 + 16 AS pb,
        |    (doc_id % 50000) * 37 + 1000 AS fsamples,
        |    (doc_id % 50000) * 53 + 480 AS osamples,
        |    doc_id % 200 + 20 AS db,
        |    n_chars % 30000 + 500 AS ms,
        |    ([44100, 48000, 32000, 22050])[CAST(doc_id % 4 + 1 AS INTEGER)] AS sr
        |  FROM documents WHERE doc_id < 350
        |)
        |SELECT doc_id,
        |  (['wav','mp3','aac','flac','opus','vorbis','m4a'])
        |    [CAST(doc_id % 7 + 1 AS INTEGER)] AS format,
        |  CAST(CASE doc_id % 7
        |    WHEN 0 THEN wframes * 1000 // 8000
        |    WHEN 1 THEN frames * 1152 * 1000 // 44100
        |    WHEN 2 THEN frames * 1024 * 1000 // 44100
        |    WHEN 3 THEN fsamples * 1000 // sr
        |    WHEN 4 THEN osamples * 1000 // 48000
        |    WHEN 5 THEN osamples * 1000 // sr
        |    ELSE ms END AS BIGINT) AS duration_ms,
        |  CAST(CASE doc_id % 7
        |    WHEN 0 THEN 8000 WHEN 1 THEN 44100 WHEN 2 THEN 44100
        |    WHEN 3 THEN sr WHEN 4 THEN 48000
        |    ELSE sr END AS BIGINT) AS sample_rate,
        |  CAST(CASE doc_id % 7 WHEN 1 THEN 1 WHEN 2 THEN 2
        |    ELSE ch END AS INTEGER) AS channels,
        |  CAST(CASE doc_id % 7
        |    WHEN 0 THEN 44 + 2 * wframes * ch
        |    WHEN 1 THEN frames * 417
        |    WHEN 2 THEN frames * (7 + pb)
        |    WHEN 3 THEN 42
        |    WHEN 4 THEN 75 + db
        |    WHEN 5 THEN 86 + db
        |    ELSE 381 END AS BIGINT) AS byte_len
        |FROM spec ORDER BY doc_id""".stripMargin
    },
    // WebM metadata path (round 9): deterministic EBML skeletons →
    // varint element walk → DocType/duration/dims/tracks. The 85-byte
    // skeleton size and every field are closed form for the oracle —
    // MP4 + WebM now cover both dominant crawl video containers.
    Gate("multimodal_webm")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 30000 + 500).cast("long").as("ms"),
        (col("doc_id") % 1920 + 16).cast("int").as("w"),
        (col("doc_id") % 1080 + 16).cast("int").as("h"))
      val media = Multimodal.encodeWebmFrame(spec, "doc_id", "ms", "w", "h")
      Multimodal.extractWebmMeta(media).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("durationMs").as("duration_ms"),
          col("width"), col("height"),
          col("nTracks").as("n_tracks"),
          col("nVideoTracks").as("n_video_tracks"),
          col("byteLen").as("byte_len"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        |  'webm' AS format,
        |  CAST(n_chars % 30000 + 500 AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 1920 + 16 AS INTEGER) AS width,
        |  CAST(doc_id % 1080 + 16 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS n_tracks,
        |  CAST(1 AS INTEGER) AS n_video_tracks,
        |  CAST(85 AS BIGINT) AS byte_len
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin
    },
    // --- video frame decode (WebM/IVF → VP8 keyframes) ---------------
    // Real frame access through both crawl containers: closed-form VP8
    // keyframes ([[Vp8Codec.encodeLossy]], seed doc_id*131+frame) muxed
    // into WebM (even ids) / IVF (odd ids) with non-keyframe stubs
    // interleaved, decoded back via the container demux + the
    // libwebp-validated VP8 decoder. Per-frame features gate.
    Gate("multimodal_video_frames")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 80).select(
        col("doc_id"),
        (col("doc_id") % 3 + 2).cast("int").as("nf"),
        ((col("doc_id") % 4 + 2) * 16).cast("int").as("w"))
      val media = Multimodal.encodeVp8Video(spec, "doc_id", "nf", "w",
        withInterframes = true)
      Multimodal.videoKeyframeFeatures(media)
        .toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("frameIdx").as("frame_idx"), col("ptsMs").as("pts_ms"),
          col("width").as("w"), col("nMb").as("n_mb"),
          col("meanLuma").as("mean_luma"))
        .orderBy("doc_id", "frame_idx")
    }) {
      // video keyframe decode: per-frame features — the closed-form VP8
      // fixture chain (q=100 → y2dcQ=196; see multimodal_webp_lossy)
      // replayed per (doc, frame) with seed doc_id*131+frame; mean luma
      // of a flat-MB frame is floor(Σ level / n_mb)
      """WITH vf_docs AS (
        |  SELECT doc_id, CAST(doc_id % 3 + 2 AS INTEGER) AS nf,
        |         CAST(doc_id % 4 + 2 AS INTEGER) AS n_mb
        |  FROM documents WHERE doc_id < 80
        |), vf_frames AS (
        |  SELECT doc_id, n_mb, CAST(unnest(range(nf)) AS INTEGER) AS f
        |  FROM vf_docs
        |), vf_mb AS (
        |  SELECT doc_id, n_mb, f, doc_id * 131 + f AS seed,
        |         CAST(unnest(range(n_mb)) AS INTEGER) AS mb
        |  FROM vf_frames
        |), vf_delta AS (
        |  SELECT doc_id, n_mb, f, mb,
        |    CAST(floor((floor(((CASE WHEN (seed + mb) % 2 = 0 THEN 1 ELSE -1 END)
        |      * ((seed + 3 * mb) % 4 + 1) * 196 + 3) / 8.0) + 4) / 8.0) AS BIGINT) AS d
        |  FROM vf_mb
        |), vf_levels AS (
        |  SELECT doc_id, n_mb, f, mb,
        |    128 + sum(d) OVER (PARTITION BY doc_id, f ORDER BY mb) AS lvl
        |  FROM vf_delta
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'ivf' END AS format,
        |  f AS frame_idx, CAST(f * 200 AS BIGINT) AS pts_ms,
        |  CAST(n_mb * 16 AS INTEGER) AS w, n_mb,
        |  CAST(floor(sum(lvl) / CAST(n_mb AS DOUBLE)) AS INTEGER) AS mean_luma
        |FROM vf_levels
        |GROUP BY doc_id, f, n_mb
        |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // Per-macroblock pixel exactness through the video path — the
    // webp_lossy oracle replayed per (doc, frame, mb) with the
    // per-frame seed; proves container demux feeds the decoder the
    // exact frame windows.
    Gate("multimodal_video_mb")((s, dir) => {
      import s.implicits._
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 60).select(
        col("doc_id"),
        (col("doc_id") % 3 + 1).cast("int").as("nf"),
        ((col("doc_id") % 6 + 2) * 16).cast("int").as("w"))
      spec.as[(Long, Int, Int)].mapPartitions(_.flatMap { case (id, nf, w) =>
        val frames = (0 until nf).map(f =>
          (f * 200L, graft.operators.Vp8Codec.encodeLossy(id * 131L + f, w, 16)))
        val bytes =
          if (id % 2 == 0) graft.operators.WebmVideo.muxWebm(frames, w, 16, nf * 200L)
          else graft.operators.WebmVideo.muxIvf(frames, w, 16)
        graft.operators.WebmVideo.decodeKeyframes(bytes).flatMap { case (f, _, r) =>
          (0 until r.width / 16).iterator.map { mb =>
            val lvl = r.pixels(mb * 16 * 3) & 0xff
            var flat = true
            var y = 0
            while (y < 16 && flat) {
              var x = 0
              while (x < 16 && flat) {
                val i = (y * r.width + mb * 16 + x) * 3
                flat = (r.pixels(i) & 0xff) == lvl &&
                  r.pixels(i) == r.pixels(i + 1) &&
                  r.pixels(i) == r.pixels(i + 2)
                x += 1
              }
              y += 1
            }
            (id, f, mb, lvl.toLong, flat)
          }
        }
      }).toDF("doc_id", "frame_idx", "mb_idx", "level", "is_flat")
        .orderBy("doc_id", "frame_idx", "mb_idx")
    }) {
      // video keyframe decode: per-macroblock flat levels — the
      // webp_lossy pixel oracle through the container demux path
      """WITH vm_docs AS (
        |  SELECT doc_id, CAST(doc_id % 3 + 1 AS INTEGER) AS nf,
        |         CAST(doc_id % 6 + 2 AS INTEGER) AS n_mb
        |  FROM documents WHERE doc_id < 60
        |), vm_frames AS (
        |  SELECT doc_id, n_mb, CAST(unnest(range(nf)) AS INTEGER) AS f
        |  FROM vm_docs
        |), vm_mb AS (
        |  SELECT doc_id, n_mb, f, doc_id * 131 + f AS seed,
        |         CAST(unnest(range(n_mb)) AS INTEGER) AS mb
        |  FROM vm_frames
        |), vm_delta AS (
        |  SELECT doc_id, f, mb,
        |    CAST(floor((floor(((CASE WHEN (seed + mb) % 2 = 0 THEN 1 ELSE -1 END)
        |      * ((seed + 3 * mb) % 4 + 1) * 196 + 3) / 8.0) + 4) / 8.0) AS BIGINT) AS d
        |  FROM vm_mb
        |)
        |SELECT doc_id, f AS frame_idx, mb AS mb_idx,
        |  CAST(128 + sum(d) OVER (PARTITION BY doc_id, f ORDER BY mb)
        |    AS BIGINT) AS level,
        |  TRUE AS is_flat
        |FROM vm_delta
        |ORDER BY doc_id, frame_idx, mb_idx""".stripMargin
    },
    // Keyframe-stride sampling census: decode every 2nd keyframe only
    // (the pipeline's frame-sampling semantics — interframes and
    // skipped keyframes never reach the decoder).
    Gate("multimodal_video_sample")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 80).select(
        col("doc_id"),
        (col("doc_id") % 4 + 3).cast("int").as("nf"),
        lit(64).as("w"))
      val media = Multimodal.encodeVp8Video(spec, "doc_id", "nf", "w",
        withInterframes = true)
      Multimodal.videoKeyframeFeatures(media, everyNth = 2)
        .toDF()
        .groupBy(col("mediaId").as("doc_id"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("ptsMs")).as("first_pts"),
          max(col("ptsMs")).as("last_pts"),
          sum(col("meanLuma")).as("sum_luma"))
        .orderBy("doc_id")
    }) {
      // keyframe-stride sampling census: even keyframe ordinals only
      """WITH vs_docs AS (
        |  SELECT doc_id, CAST(doc_id % 4 + 3 AS INTEGER) AS nf,
        |         CAST(4 AS INTEGER) AS n_mb
        |  FROM documents WHERE doc_id < 80
        |), vs_frames AS (
        |  SELECT doc_id, n_mb, CAST(unnest(range(nf)) AS INTEGER) AS f
        |  FROM vs_docs
        |), vs_sampled AS (
        |  SELECT * FROM vs_frames WHERE f % 2 = 0
        |), vs_mb AS (
        |  SELECT doc_id, n_mb, f, doc_id * 131 + f AS seed,
        |         CAST(unnest(range(n_mb)) AS INTEGER) AS mb
        |  FROM vs_sampled
        |), vs_delta AS (
        |  SELECT doc_id, n_mb, f, mb,
        |    CAST(floor((floor(((CASE WHEN (seed + mb) % 2 = 0 THEN 1 ELSE -1 END)
        |      * ((seed + 3 * mb) % 4 + 1) * 196 + 3) / 8.0) + 4) / 8.0) AS BIGINT) AS d
        |  FROM vs_mb
        |), vs_levels AS (
        |  SELECT doc_id, n_mb, f, mb,
        |    128 + sum(d) OVER (PARTITION BY doc_id, f ORDER BY mb) AS lvl
        |  FROM vs_delta
        |), vs_frame AS (
        |  SELECT doc_id, f,
        |    CAST(floor(sum(lvl) / CAST(n_mb AS DOUBLE)) AS INTEGER) AS mean_luma
        |  FROM vs_levels GROUP BY doc_id, f, n_mb
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(min(f) * 200 AS BIGINT) AS first_pts,
        |  CAST(max(f) * 200 AS BIGINT) AS last_pts,
        |  CAST(sum(mean_luma) AS BIGINT) AS sum_luma
        |FROM vs_frame GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // Container-invariant VIDEO dedup: seed-shared fixtures put the
    // SAME pixel content in different ids — and (doc parity) different
    // CONTAINERS — so keyframe-hash dedup pairs what byte-level dedup
    // never can. All-keyframes-match rule; the oracle replays the
    // flat-MB aHash (bits depend only on the sample column, so the
    // 64-bit hash is the 8-bit row mask replicated — equality of masks
    // is equality of hashes) and the full pair decision.
    Gate("video_dedup_keyframes")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 100).select(
        col("doc_id"),
        (col("doc_id") % 25).cast("long").as("seed"),
        ((col("doc_id") % 25) % 3 + 2).cast("int").as("nf"),
        (((col("doc_id") % 25) % 4 + 2) * 16).cast("int").as("w"))
      val media = Multimodal.encodeVp8Video(spec, "doc_id", "nf", "w",
        withInterframes = true, seedCol = "seed")
      Multimodal.videoDupPairs(Multimodal.videoKeyframeFeatures(media))
        .orderBy("id_a", "id_b")
    }) {
      // video dedup: flat-MB aHash bits depend only on the sampled
      // column c (all rows identical), so hash equality == row-mask
      // equality; the pair rule (same keyframe count, every ordinal
      // matching) is replayed verbatim
      """WITH vd_docs AS (
        |  SELECT doc_id, doc_id % 25 AS seed,
        |         CAST((doc_id % 25) % 3 + 2 AS INTEGER) AS nf,
        |         CAST((doc_id % 25) % 4 + 2 AS INTEGER) AS n_mb
        |  FROM documents WHERE doc_id < 100
        |), vd_frames AS (
        |  SELECT doc_id, seed, nf, n_mb,
        |         CAST(unnest(range(nf)) AS INTEGER) AS f
        |  FROM vd_docs
        |), vd_mb AS (
        |  SELECT doc_id, nf, n_mb, f, seed * 131 + f AS fseed,
        |         CAST(unnest(range(n_mb)) AS INTEGER) AS mb
        |  FROM vd_frames
        |), vd_delta AS (
        |  SELECT doc_id, nf, n_mb, f, mb,
        |    CAST(floor((floor(((CASE WHEN (fseed + mb) % 2 = 0 THEN 1 ELSE -1 END)
        |      * ((fseed + 3 * mb) % 4 + 1) * 196 + 3) / 8.0) + 4) / 8.0) AS BIGINT) AS d
        |  FROM vd_mb
        |), vd_levels AS (
        |  SELECT doc_id, nf, n_mb, f, mb,
        |    128 + sum(d) OVER (PARTITION BY doc_id, f ORDER BY mb) AS lvl
        |  FROM vd_delta
        |), vd_c AS (
        |  SELECT doc_id, nf, n_mb, f, CAST(unnest(range(8)) AS INTEGER) AS c
        |  FROM vd_frames
        |), vd_lum AS (
        |  SELECT vc.doc_id, vc.nf, vc.f, vc.c, 3 * vl.lvl AS lum
        |  FROM vd_c vc JOIN vd_levels vl
        |    ON vl.doc_id = vc.doc_id AND vl.f = vc.f
        |   AND vl.mb = (vc.c * vc.n_mb) // 8
        |), vd_lum2 AS (
        |  SELECT doc_id, nf, f, c, lum,
        |    sum(lum) OVER (PARTITION BY doc_id, f) AS s8
        |  FROM vd_lum
        |), vd_mask AS (
        |  SELECT doc_id, nf, f,
        |    sum(CASE WHEN 8 * lum > s8 THEN 1 << c ELSE 0 END) AS rowmask
        |  FROM vd_lum2 GROUP BY doc_id, nf, f
        |), vd_match AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n,
        |         max(a.nf) AS nf_a, max(b.nf) AS nf_b
        |  FROM vd_mask a JOIN vd_mask b
        |    ON a.f = b.f AND a.rowmask = b.rowmask AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT id_a, id_b, CAST(n AS BIGINT) AS n_matched
        |FROM vd_match WHERE n = nf_a AND n = nf_b
        |ORDER BY id_a, id_b""".stripMargin
    },
    // ICO (favicon) decode: two-entry fixtures (24bpp DIB + PNG),
    // entry census + largest-entry aHash through the shared hash
    // space — favicon dedup rides the same machinery as every image.
    Gate("multimodal_ico")((s, dir) => {
      import s.implicits._
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 60 + 8).cast("int").as("w"),
        (col("doc_id") % 40 + 8).cast("int").as("h"))
      val media = dims.as[(Long, Int, Int)].mapPartitions(_.map {
        case (id, w, h) => (id, graft.operators.IcoCodec.encodeGradient(id, w, h))
      }).toDF("media_id", "data")
      val census = media.as[(Long, Array[Byte])].mapPartitions(_.map {
        case (id, b) =>
          val es = graft.operators.IcoCodec.parse(b)
          (id, es.length, es(0).width, es(0).height, es(0).bpp, es(0).png,
            es(1).width, es(1).height, es(1).png)
      }).toDF("doc_id", "n_entries", "w0", "h0", "bpp0", "png0",
        "w1", "h1", "png1")
      val hashes = Multimodal.aHashAnyFrame(media)
        .select(col("media_id").as("doc_id"),
          col("ahash").bitwiseAND(lit(0xffffffffL)).as("ahash_lo"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"))
      census.join(hashes, "doc_id").orderBy("doc_id")
    }) {
      // ICO: directory census is spec arithmetic; the largest entry is
      // the full-size DIB whose raster IS the gradient (visual order),
      // so the aHash replay uses the raster-path sampling
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(n_chars % 60 + 8 AS BIGINT) AS w,
        |    CAST(doc_id % 40 + 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 200
        |), px AS (
        |  SELECT doc_id, i,
        |    ((sx + sy + doc_id) % 256) + (xor(sx, sy) % 256)
        |      + ((sx * 7 + sy * 3) % 256) AS lum
        |  FROM (
        |    SELECT doc_id,
        |      unnest(range(0, 64)) AS i,
        |      unnest(list_transform(range(0, 64), j -> (j % 8) * w // 8)) AS sx,
        |      unnest(list_transform(range(0, 64), j -> h - 1 - (j // 8) * h // 8)) AS sy
        |    FROM d)
        |), tot AS (
        |  SELECT doc_id, i, lum,
        |    sum(lum) OVER (PARTITION BY doc_id) AS s
        |  FROM px
        |), hs AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN i < 32 AND 64 * lum > s
        |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ahash_lo,
        |    CAST(sum(CASE WHEN i >= 32 AND 64 * lum > s
        |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi
        |  FROM tot GROUP BY doc_id
        |)
        |SELECT d.doc_id, CAST(2 AS INTEGER) AS n_entries,
        |  CAST(d.w AS INTEGER) AS w0, CAST(d.h AS INTEGER) AS h0,
        |  CAST(24 AS INTEGER) AS bpp0, FALSE AS png0,
        |  CAST(d.w // 2 AS INTEGER) AS w1, CAST(d.h // 2 AS INTEGER) AS h1,
        |  TRUE AS png1, hs.ahash_lo, hs.ahash_hi
        |FROM d JOIN hs ON hs.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin
    },
    // Incremental VIDEO ingest dedup: the indexed corpus is
    // fingerprinted ONCE (class-contracted); a new batch re-encodes
    // half the seeds (guaranteed hits, often in the OTHER container)
    // and introduces novel seeds (guaranteed misses). O(1) per batch
    // row however hot the indexed content is.
    Gate("video_dedup_incremental")((s, dir) => {
      val idxSpec = tbl(s, dir, "documents").where(col("doc_id") < 100).select(
        col("doc_id"),
        (col("doc_id") % 25).cast("long").as("seed"),
        ((col("doc_id") % 25) % 3 + 2).cast("int").as("nf"),
        (((col("doc_id") % 25) % 4 + 2) * 16).cast("int").as("w"))
      val index = Multimodal.videoFingerprintIndex(
        Multimodal.videoKeyframeFeatures(Multimodal.encodeVp8Video(
          idxSpec, "doc_id", "nf", "w", withInterframes = true,
          seedCol = "seed")))
      // batch: ids +100000; even docs re-carry an indexed seed (hit,
      // usually in the OTHER container — parity flips with +100000);
      // odd docs get FIVE keyframes — structurally unmatched, since no
      // indexed fingerprint has length 5 (indexed nf is 2..4); seed
      // novelty alone would not guarantee a miss, the quantized
      // flat-MB hashes collide across seeds
      val batchSpec = tbl(s, dir, "documents").where(col("doc_id") < 100).select(
        (col("doc_id") + 100000).cast("long").as("doc_id"),
        when(col("doc_id") % 2 === 0, col("doc_id") % 25)
          .otherwise(col("doc_id") % 10 + 25).cast("long").as("seed"),
        when(col("doc_id") % 2 === 0, (col("doc_id") % 25) % 3 + 2)
          .otherwise(lit(5)).cast("int").as("nf"),
        when(col("doc_id") % 2 === 0, ((col("doc_id") % 25) % 4 + 2) * 16)
          .otherwise(lit(32)).cast("int").as("w"))
      val batch = Multimodal.videoKeyframeFeatures(Multimodal.encodeVp8Video(
        batchSpec, "doc_id", "nf", "w", withInterframes = true,
        seedCol = "seed"))
      Multimodal.videoDupAgainstIndex(batch, index)
        .orderBy("id_new", "rep_idx")
    }) {
      // incremental video dedup: both sides' fingerprints replayed in
      // one chain (index < 100000, batch >= 100000), index contracted
      // to min-id reps, batch equi-joined
      """WITH vv_docs AS (
        |  SELECT doc_id, doc_id % 25 AS seed,
        |         CAST((doc_id % 25) % 3 + 2 AS INTEGER) AS nf,
        |         CAST((doc_id % 25) % 4 + 2 AS INTEGER) AS n_mb
        |  FROM documents WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id % 25
        |         ELSE doc_id % 10 + 25 END AS seed,
        |    CASE WHEN doc_id % 2 = 0 THEN CAST((doc_id % 25) % 3 + 2 AS INTEGER)
        |         ELSE 5 END AS nf,
        |    CASE WHEN doc_id % 2 = 0 THEN CAST((doc_id % 25) % 4 + 2 AS INTEGER)
        |         ELSE 2 END AS n_mb
        |  FROM documents WHERE doc_id < 100
        |), vv_frames AS (
        |  SELECT doc_id, seed, nf, n_mb,
        |         CAST(unnest(range(nf)) AS INTEGER) AS f
        |  FROM vv_docs
        |), vv_mb AS (
        |  SELECT doc_id, nf, n_mb, f, seed * 131 + f AS fseed,
        |         CAST(unnest(range(n_mb)) AS INTEGER) AS mb
        |  FROM vv_frames
        |), vv_delta AS (
        |  SELECT doc_id, nf, n_mb, f, mb,
        |    CAST(floor((floor(((CASE WHEN (fseed + mb) % 2 = 0 THEN 1 ELSE -1 END)
        |      * ((fseed + 3 * mb) % 4 + 1) * 196 + 3) / 8.0) + 4) / 8.0) AS BIGINT) AS d
        |  FROM vv_mb
        |), vv_levels AS (
        |  SELECT doc_id, nf, n_mb, f, mb,
        |    128 + sum(d) OVER (PARTITION BY doc_id, f ORDER BY mb) AS lvl
        |  FROM vv_delta
        |), vv_c AS (
        |  SELECT doc_id, nf, n_mb, f, CAST(unnest(range(8)) AS INTEGER) AS c
        |  FROM vv_frames
        |), vv_lum AS (
        |  SELECT vc.doc_id, vc.nf, vc.f, vc.c, 3 * vl.lvl AS lum
        |  FROM vv_c vc JOIN vv_levels vl
        |    ON vl.doc_id = vc.doc_id AND vl.f = vc.f
        |   AND vl.mb = (vc.c * vc.n_mb) // 8
        |), vv_lum2 AS (
        |  SELECT doc_id, nf, f, c, lum,
        |    sum(lum) OVER (PARTITION BY doc_id, f) AS s8
        |  FROM vv_lum
        |), vv_mask AS (
        |  SELECT doc_id, nf, f,
        |    sum(CASE WHEN 8 * lum > s8 THEN 1 << c ELSE 0 END) AS rowmask
        |  FROM vv_lum2 GROUP BY doc_id, nf, f
        |), vv_fp AS (
        |  SELECT doc_id,
        |    string_agg(f || ':' || rowmask, ',' ORDER BY f) AS fp
        |  FROM vv_mask GROUP BY doc_id
        |), vv_idx AS (
        |  SELECT fp, min(doc_id) AS rep
        |  FROM vv_fp WHERE doc_id < 100000 GROUP BY fp
        |)
        |SELECT b.doc_id AS id_new, i.rep AS rep_idx
        |FROM vv_fp b JOIN vv_idx i ON i.fp = b.fp
        |WHERE b.doc_id >= 100000
        |ORDER BY id_new, rep_idx""".stripMargin
    },
    // Baseline TIFF strip decode (the seventh image format): raw +
    // PackBits strips, both byte orders, gray + RGB, multi-strip
    // assembly — all cycled by id — through the cross-format aHash;
    // the oracle replays the gradient in the raster-path sampling.
    Gate("multimodal_tiff")((s, dir) => {
      import s.implicits._
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 64 + 8).cast("int").as("w"),
        (col("doc_id") % 48 + 8).cast("int").as("h"))
      val media = dims.as[(Long, Int, Int)].mapPartitions(_.map {
        case (id, w, h) => (id, graft.operators.TiffCodec.encodeGradient(
          id, w, h, packBits = id % 2 == 1, bigEndian = id % 3 == 0,
          gray = id % 5 == 0))
      }).toDF("media_id", "data")
      Multimodal.aHashAnyFrame(media)
        .select(col("media_id").as("doc_id"),
          col("ahash").bitwiseAND(lit(0xffffffffL)).as("ahash_lo"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"))
        .orderBy("doc_id")
    }) {
      // TIFF: the BMP/PNG gradient replayed in the raster-path sampling
      // (visual row h-1-...); gray payloads carry the B-channel formula
      """WITH d AS (
        |  SELECT doc_id, doc_id % 5 = 0 AS gray,
        |    CAST(n_chars % 64 + 8 AS BIGINT) AS w,
        |    CAST(doc_id % 48 + 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 200
        |), px AS (
        |  SELECT doc_id, i,
        |    CASE WHEN gray THEN 3 * ((sx + sy + doc_id) % 256)
        |    ELSE ((sx + sy + doc_id) % 256) + (xor(sx, sy) % 256)
        |      + ((sx * 7 + sy * 3) % 256) END AS lum
        |  FROM (
        |    SELECT doc_id, gray,
        |      unnest(range(0, 64)) AS i,
        |      unnest(list_transform(range(0, 64), j -> (j % 8) * w // 8)) AS sx,
        |      unnest(list_transform(range(0, 64), j -> h - 1 - (j // 8) * h // 8)) AS sy
        |    FROM d)
        |), tot AS (
        |  SELECT doc_id, i, lum,
        |    sum(lum) OVER (PARTITION BY doc_id) AS s
        |  FROM px
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN i < 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ahash_lo,
        |  CAST(sum(CASE WHEN i >= 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi
        |FROM tot GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // QOI (qoiformat.org): ninth image-format family in the shared
    // aHash/pHash space — full decode+encode of the one-page spec (all
    // six ops, running index, wrapping deltas). The oracle replays the
    // gradient raster formula at the 64 aHash sample points, so the
    // whole encode -> decode -> hash chain must be pixel-exact.
    Gate("multimodal_qoi")((s, dir) => {
      import s.implicits._
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 56 + 8).cast("int").as("w"),
        (col("doc_id") % 40 + 8).cast("int").as("h"))
      val media = dims.as[(Long, Int, Int)].mapPartitions(_.map {
        case (id, w, h) => (id, graft.operators.QoiCodec.encodeGradient(
          id, w, h, alpha = id % 2 == 1))
      }).toDF("media_id", "data")
      Multimodal.aHashAnyFrame(media)
        .select(col("media_id").as("doc_id"),
          col("ahash").bitwiseAND(lit(0xffffffffL)).as("ahash_lo"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"))
        .orderBy("doc_id")
    }) {
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(n_chars % 56 + 8 AS BIGINT) AS w,
        |    CAST(doc_id % 40 + 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 200
        |), px AS (
        |  SELECT doc_id, i,
        |    ((sx * 7 + doc_id) % 256) + ((sy * 11 + doc_id * 3) % 256)
        |      + ((sx + sy + doc_id * 5) % 256) AS lum
        |  FROM (
        |    SELECT doc_id,
        |      unnest(range(0, 64)) AS i,
        |      unnest(list_transform(range(0, 64), j -> (j % 8) * w // 8)) AS sx,
        |      unnest(list_transform(range(0, 64), j -> h - 1 - (j // 8) * h // 8)) AS sy
        |    FROM d)
        |), tot AS (
        |  SELECT doc_id, i, lum,
        |    sum(lum) OVER (PARTITION BY doc_id) AS s
        |  FROM px
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN i < 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ahash_lo,
        |  CAST(sum(CASE WHEN i >= 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi
        |FROM tot GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // Compressing PNG writer (adaptive per-row filters + the full
    // RFC 1951 deflate) driven over the same gradient formula as
    // multimodal_qoi: a different container and compressor must land on
    // the identical aHash, and every payload must beat the stored-block
    // encoder's closed-form size (smooth gradients always compress).
    Gate("multimodal_png_compressed")((s, dir) => {
      import s.implicits._
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 56 + 8).cast("int").as("w"),
        (col("doc_id") % 40 + 8).cast("int").as("h"))
      val media = dims.as[(Long, Int, Int)].mapPartitions(_.map {
        case (id, w, h) =>
          val px = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val o = (y * w + x) * 3
              px(o) = ((x * 7 + id) % 256).toInt.toByte
              px(o + 1) = ((y * 11 + id * 3) % 256).toInt.toByte
              px(o + 2) = ((x + y + id * 5) % 256).toInt.toByte
              x += 1
            }
            y += 1
          }
          val r = graft.operators.PngCodec.Raster(w, h, 3, px)
          val gz = graft.operators.PngCodec.encodeCompressed(r)
          (id, gz, gz.length < graft.operators.PngCodec.encode(r).length)
      }).toDF("media_id", "data", "smaller")
      Multimodal.aHashAnyFrame(media.select("media_id", "data"))
        .join(media.select(col("media_id"), col("smaller")), "media_id")
        .select(col("media_id").as("doc_id"),
          col("ahash").bitwiseAND(lit(0xffffffffL)).as("ahash_lo"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"),
          col("smaller"))
        .orderBy("doc_id")
    }) {
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(n_chars % 56 + 8 AS BIGINT) AS w,
        |    CAST(doc_id % 40 + 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 200
        |), px AS (
        |  SELECT doc_id, i,
        |    ((sx * 7 + doc_id) % 256) + ((sy * 11 + doc_id * 3) % 256)
        |      + ((sx + sy + doc_id * 5) % 256) AS lum
        |  FROM (
        |    SELECT doc_id,
        |      unnest(range(0, 64)) AS i,
        |      unnest(list_transform(range(0, 64), j -> (j % 8) * w // 8)) AS sx,
        |      unnest(list_transform(range(0, 64), j -> h - 1 - (j // 8) * h // 8)) AS sy
        |    FROM d)
        |), tot AS (
        |  SELECT doc_id, i, lum,
        |    sum(lum) OVER (PARTITION BY doc_id) AS s
        |  FROM px
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN i < 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ahash_lo,
        |  CAST(sum(CASE WHEN i >= 32 AND 64 * lum > s
        |    THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  true AS smaller
        |FROM tot GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // Tumbling-window keyframe census over a timestamped video ingest
    // — the batch half of the batch/stream dual (StreamingSpec pins
    // the MemoryStream run row-for-row equal).
    Gate("multimodal_video_stream_census")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 80).select(
        col("doc_id"),
        (col("doc_id") % 3 + 2).cast("int").as("nf"),
        lit(64).cast("int").as("w"),
        to_timestamp(lit(1704067200L) + (col("doc_id") % 3) * 3600).as("ts"))
      val media = Multimodal.encodeVp8Video(spec, "doc_id", "nf", "w",
        withInterframes = true)
        .join(spec.select(col("doc_id").as("media_id"), col("ts")), "media_id")
      Multimodal.videoKeyframeCensus(media, "ts")
        .orderBy("window_start", "format")
    }) {
      // video stream census: keyframe counts need no pixel replay —
      // every fixture keyframe decodes, so counts are the spec arithmetic
      """WITH vc_docs AS (
        |  SELECT doc_id, CAST(doc_id % 3 + 2 AS INTEGER) AS nf,
        |         1704067200 + (doc_id % 3) * 3600 AS wstart,
        |         CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'ivf' END AS format
        |  FROM documents WHERE doc_id < 80
        |)
        |SELECT CAST(wstart AS BIGINT) AS window_start, format,
        |  CAST(sum(nf) AS BIGINT) AS n_keyframes,
        |  CAST(count(*) AS BIGINT) AS n_videos
        |FROM vc_docs GROUP BY wstart, format
        |ORDER BY window_start, format""".stripMargin
    },
    // End-to-end multimodal shard path: videos packed into gzipped
    // WebDataset tar shards (extension sniffed from container magic),
    // re-ingested, demuxed, VP8-decoded — the full crawl-to-pixels
    // chain under one oracle (the closed-form video features).
    Gate("webdataset_video")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 60).select(
        col("doc_id"),
        (col("doc_id") % 3 + 2).cast("int").as("nf"),
        ((col("doc_id") % 4 + 2) * 16).cast("int").as("w"))
      val media = Multimodal.encodeVp8Video(spec, "doc_id", "nf", "w",
        withInterframes = true)
      val shards = TarCodec.webdatasetBuildMedia(media, shards = 8)
      Multimodal.videoKeyframeFeatures(TarCodec.webdatasetIngestMedia(shards))
        .toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("frameIdx").as("frame_idx"), col("ptsMs").as("pts_ms"),
          col("nMb").as("n_mb"), col("meanLuma").as("mean_luma"))
        .orderBy("doc_id", "frame_idx")
    }) {
      // webdataset video: the video_frames closed form through the
      // shard roundtrip (same pixels whatever container carried them)
      """WITH wv_docs AS (
        |  SELECT doc_id, CAST(doc_id % 3 + 2 AS INTEGER) AS nf,
        |         CAST(doc_id % 4 + 2 AS INTEGER) AS n_mb
        |  FROM documents WHERE doc_id < 60
        |), wv_frames AS (
        |  SELECT doc_id, n_mb, CAST(unnest(range(nf)) AS INTEGER) AS f
        |  FROM wv_docs
        |), wv_mb AS (
        |  SELECT doc_id, n_mb, f, doc_id * 131 + f AS seed,
        |         CAST(unnest(range(n_mb)) AS INTEGER) AS mb
        |  FROM wv_frames
        |), wv_delta AS (
        |  SELECT doc_id, n_mb, f, mb,
        |    CAST(floor((floor(((CASE WHEN (seed + mb) % 2 = 0 THEN 1 ELSE -1 END)
        |      * ((seed + 3 * mb) % 4 + 1) * 196 + 3) / 8.0) + 4) / 8.0) AS BIGINT) AS d
        |  FROM wv_mb
        |), wv_levels AS (
        |  SELECT doc_id, n_mb, f, mb,
        |    128 + sum(d) OVER (PARTITION BY doc_id, f ORDER BY mb) AS lvl
        |  FROM wv_delta
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'ivf' END AS format,
        |  f AS frame_idx, CAST(f * 200 AS BIGINT) AS pts_ms, n_mb,
        |  CAST(floor(sum(lvl) / CAST(n_mb AS DOUBLE)) AS INTEGER) AS mean_luma
        |FROM wv_levels
        |GROUP BY doc_id, f, n_mb
        |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // IMA ADPCM (WAV format 17): 4-bit predictive decode as a block-
    // independent integer state machine; the oracle replays ENCODE and
    // DECODE in lockstep via a recursive CTE over the embedded step/
    // index tables — every decoded sample exact, aggregated to stats.
    Gate("multimodal_audio_adpcm")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        lit(114).cast("int").as("frames"), // two 57-sample blocks
        lit(1).cast("int").as("ch"),
        lit(8000).as("rate"))
      Multimodal.extractAudioFeatures(
          Multimodal.encodeWavFrame(spec, "doc_id", "frames", "ch", "rate",
            codec = "adpcm")).toDF()
        .select(col("mediaId").as("doc_id"), col("byteLen").as("byte_len"),
          col("nFrames").as("n_frames"), col("peakAbs").as("peak"),
          col("sumSamples").as("sum_dec"))
        .orderBy("doc_id")
    }) {
      // IMA ADPCM: encoder and decoder stay in lockstep (the decoder's
      // state update is a function of the chosen nibble, which is a
      // function of the state and the target sample) — so ONE recursion
      // over (sample, pred, idx) replays the whole encode→decode chain;
      // step/index tables embedded as literals, all arithmetic integer
      {
      val steps = graft.operators.WavCodec.ImaStepTable.mkString("[", ",", "]")
      s"""WITH RECURSIVE ad_blocks AS (
         |  SELECT doc_id, CAST(unnest(range(2)) AS INTEGER) AS b
         |  FROM documents WHERE doc_id < 200
         |), ad_state AS (
         |  SELECT doc_id, b, 0 AS j,
         |    CAST((doc_id * 7 + (b * 57) * 13) % 65536 - 32768 AS BIGINT) AS pred,
         |    0 AS idx
         |  FROM ad_blocks
         |  UNION ALL
         |  SELECT doc_id, b, j,
         |    CASE WHEN neg THEN greatest(-32768, pred - dq)
         |         ELSE least(32767, pred + dq) END AS pred,
         |    CAST(least(88, greatest(0, idx +
         |      CASE nmag WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
         |                WHEN 7 THEN 8 ELSE -1 END)) AS INTEGER) AS idx
         |  FROM (
         |    SELECT doc_id, b, j + 1 AS j, pred, idx,
         |      $steps[idx + 1] AS step,
         |      (doc_id * 7 + (b * 57 + j + 1) * 13) % 65536 - 32768 AS s,
         |      s - pred AS diff,
         |      abs(diff) AS ad,
         |      ad >= step AS b4,
         |      ad - CASE WHEN b4 THEN step ELSE 0 END AS r1,
         |      r1 >= step // 2 AS b2x,
         |      r1 - CASE WHEN b2x THEN step // 2 ELSE 0 END AS r2,
         |      r2 >= step // 4 AS b1x,
         |      step // 8 + CASE WHEN b4 THEN step ELSE 0 END
         |        + CASE WHEN b2x THEN step // 2 ELSE 0 END
         |        + CASE WHEN b1x THEN step // 4 ELSE 0 END AS dq,
         |      diff < 0 AS neg,
         |      CASE WHEN b4 THEN 4 ELSE 0 END + CASE WHEN b2x THEN 2 ELSE 0 END
         |        + CASE WHEN b1x THEN 1 ELSE 0 END AS nmag
         |    FROM ad_state WHERE j < 56
         |  )
         |)
         |SELECT doc_id,
         |  CAST(60 + 2 * 32 AS BIGINT) AS byte_len,
         |  CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(max(abs(pred)) AS INTEGER) AS peak,
         |  CAST(sum(pred) AS BIGINT) AS sum_dec
         |FROM ad_state GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }
    },
    // Cluster-contraction video dedup — the 100 TB path next to the
    // pair-emitting gate: one fingerprint row per video (ordered
    // keyframe-hash sequence), exact groupBy, min-id representative.
    // Same fixtures as video_dedup_keyframes; the oracle groups docs
    // by the replayed hash sequence and labels members.
    Gate("video_dedup_clusters")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 100).select(
        col("doc_id"),
        (col("doc_id") % 25).cast("long").as("seed"),
        ((col("doc_id") % 25) % 3 + 2).cast("int").as("nf"),
        (((col("doc_id") % 25) % 4 + 2) * 16).cast("int").as("w"))
      val media = Multimodal.encodeVp8Video(spec, "doc_id", "nf", "w",
        withInterframes = true, seedCol = "seed")
      Multimodal.videoDupClusters(Multimodal.videoKeyframeFeatures(media))
        .orderBy("id", "cluster")
    }) {
      // cluster dedup: fingerprint = ordered row-mask sequence (mask
      // equality == hash equality on flat-MB frames); min-id labels
      """WITH vd_docs AS (
        |  SELECT doc_id, doc_id % 25 AS seed,
        |         CAST((doc_id % 25) % 3 + 2 AS INTEGER) AS nf,
        |         CAST((doc_id % 25) % 4 + 2 AS INTEGER) AS n_mb
        |  FROM documents WHERE doc_id < 100
        |), vd_frames AS (
        |  SELECT doc_id, seed, nf, n_mb,
        |         CAST(unnest(range(nf)) AS INTEGER) AS f
        |  FROM vd_docs
        |), vd_mb AS (
        |  SELECT doc_id, nf, n_mb, f, seed * 131 + f AS fseed,
        |         CAST(unnest(range(n_mb)) AS INTEGER) AS mb
        |  FROM vd_frames
        |), vd_delta AS (
        |  SELECT doc_id, nf, n_mb, f, mb,
        |    CAST(floor((floor(((CASE WHEN (fseed + mb) % 2 = 0 THEN 1 ELSE -1 END)
        |      * ((fseed + 3 * mb) % 4 + 1) * 196 + 3) / 8.0) + 4) / 8.0) AS BIGINT) AS d
        |  FROM vd_mb
        |), vd_levels AS (
        |  SELECT doc_id, nf, n_mb, f, mb,
        |    128 + sum(d) OVER (PARTITION BY doc_id, f ORDER BY mb) AS lvl
        |  FROM vd_delta
        |), vd_c AS (
        |  SELECT doc_id, nf, n_mb, f, CAST(unnest(range(8)) AS INTEGER) AS c
        |  FROM vd_frames
        |), vd_lum AS (
        |  SELECT vc.doc_id, vc.nf, vc.f, vc.c, 3 * vl.lvl AS lum
        |  FROM vd_c vc JOIN vd_levels vl
        |    ON vl.doc_id = vc.doc_id AND vl.f = vc.f
        |   AND vl.mb = (vc.c * vc.n_mb) // 8
        |), vd_lum2 AS (
        |  SELECT doc_id, nf, f, c, lum,
        |    sum(lum) OVER (PARTITION BY doc_id, f) AS s8
        |  FROM vd_lum
        |), vd_mask AS (
        |  SELECT doc_id, nf, f,
        |    sum(CASE WHEN 8 * lum > s8 THEN 1 << c ELSE 0 END) AS rowmask
        |  FROM vd_lum2 GROUP BY doc_id, nf, f
        |), vd_fp AS (
        |  SELECT doc_id,
        |    string_agg(f || ':' || rowmask, ',' ORDER BY f) AS fp
        |  FROM vd_mask GROUP BY doc_id
        |), vd_reps AS (
        |  SELECT fp, min(doc_id) AS cluster, count(*) AS n
        |  FROM vd_fp GROUP BY fp HAVING count(*) >= 2
        |)
        |SELECT v.doc_id AS id, r.cluster
        |FROM vd_fp v JOIN vd_reps r ON r.fp = v.fp
        |ORDER BY id, cluster""".stripMargin
    },
    // DCT perceptual hash (pHash): the structure-keyed complement to
    // aHash — integer Rec.601 gray, 32x32 nearest sample, fixed-point
    // DCT (pinned cosine constants), lower-median threshold. The
    // oracle replays every step in DuckDB integer arithmetic.
    Gate("multimodal_phash")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 150).select(
        col("doc_id"),
        (col("n_chars") % 64 + 8).cast("int").as("w"),
        (col("doc_id") % 48 + 8).cast("int").as("h"))
      val media = Multimodal.encodeBmpFrame(dims, "doc_id", "w", "h")
      Multimodal.pHashAnyFrame(media)
        .select(col("media_id").as("doc_id"),
          col("phash").bitwiseAND(lit(0xffffffffL)).as("phash_lo"),
          shiftrightunsigned(col("phash"), 32).as("phash_hi"))
        .orderBy("doc_id")
    }) {
      {
      val images = """
        |  SELECT doc_id AS id, doc_id AS seed,
        |         CAST(n_chars % 64 + 8 AS BIGINT) AS w,
        |         CAST(doc_id % 48 + 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 150""".stripMargin
      s"""WITH ${pHashCteBody(images)}
         |SELECT id AS doc_id, lo AS phash_lo, hi AS phash_hi
         |FROM ph_hashes ORDER BY doc_id""".stripMargin
    }
    },
    // Cross-format pHash dedup: PNG twins of even-id BMP gradients
    // (same pixels, different container, shifted ids) must pair at
    // hamming 0 through the real decode paths; the oracle replays the
    // hash for every image and the radius-0 pair rule.
    Gate("image_dedup_phash")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 120).select(
        col("doc_id"),
        (col("n_chars") % 64 + 8).cast("int").as("w"),
        (col("doc_id") % 48 + 8).cast("int").as("h"))
      val bmp = Multimodal.encodeBmpFrame(dims, "doc_id", "w", "h")
      // PNG twins with the same VISUAL content as the BMPs: encodeBmp
      // stores formula rows bottom-up, so the twin flips rows before
      // the (top-down) PNG encode — same image, different container.
      import s.implicits._
      val png = dims.where(col("doc_id") % 2 === 0).as[(Long, Int, Int)]
        .mapPartitions(_.map { case (id, w, h) =>
          val g = graft.operators.PngCodec.gradient(id, w, h)
          val px = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            System.arraycopy(g.pixels, (h - 1 - y) * w * 3, px, y * w * 3, w * 3)
            y += 1
          }
          (id + 1000L, graft.operators.PngCodec.encode(
            graft.operators.PngCodec.Raster(w, h, 3, px)))
        }).toDF("media_id", "data")
      Dedup.hammingPairs(
          Multimodal.pHashAnyFrame(bmp.unionAll(png)),
          "media_id", "phash", maxHamming = 0)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    }) {
      {
      val images = """
        |  SELECT doc_id AS id, doc_id AS seed,
        |         CAST(n_chars % 64 + 8 AS BIGINT) AS w,
        |         CAST(doc_id % 48 + 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 120
        |  UNION ALL
        |  SELECT doc_id + 1000 AS id, doc_id AS seed,
        |         CAST(n_chars % 64 + 8 AS BIGINT) AS w,
        |         CAST(doc_id % 48 + 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id < 120 AND doc_id % 2 = 0""".stripMargin
      s"""WITH ${pHashCteBody(images)}
         |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS INTEGER) AS hamming
         |FROM ph_hashes a JOIN ph_hashes b
         |  ON a.lo = b.lo AND a.hi = b.hi AND a.id < b.id
         |ORDER BY id_a, id_b""".stripMargin
    }
    },
    // Lossless-audio metadata path (round 9): deterministic FLAC
    // STREAMINFO skeletons → bit-field parse. Duration is the closed
    // form totalSamples·1000/rate the oracle replays; mixing a
    // non-FLAC payload in (every doc_id % 7 == 0 carries an MP3)
    // proves the dispatch never mis-parses across formats.
    Gate("multimodal_flac_meta")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 300).select(
        col("doc_id"),
        (col("doc_id") % 50000 * 37 + 1000).cast("long").as("samples"),
        (col("doc_id") % 2 + 1).cast("int").as("ch"))
      val flac = Multimodal.encodeFlacFrame(
        spec.where(col("doc_id") % 7 =!= 0)
          .withColumn("sr", expr("array(44100, 48000, 32000, 22050)[CAST(doc_id % 4 AS INT)]")),
        "doc_id", "samples", "sr", "ch")
      val mp3 = Multimodal.encodeMp3Frame(
        spec.where(col("doc_id") % 7 === 0)
          .withColumn("frames", (col("doc_id") % 9 + 1).cast("int"))
          .withColumn("bi", lit(9)).withColumn("si", lit(0)),
        "doc_id", "frames", "bi", "si")
      Multimodal.extractFlacMeta(flac.unionAll(mp3)).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("durationMs").as("duration_ms"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("bitsPerSample").as("bps"),
          col("totalSamples").as("total_samples"),
          col("byteLen").as("byte_len"))
        .orderBy("doc_id")
    }) {
      """WITH spec AS (
        |  SELECT doc_id,
        |    (doc_id % 50000) * 37 + 1000 AS samples,
        |    doc_id % 2 + 1 AS ch,
        |    ([44100,48000,32000,22050])[CAST(doc_id % 4 + 1 AS INTEGER)] AS sr
        |  FROM documents WHERE doc_id < 300
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'unknown' ELSE 'flac' END AS format,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0
        |       ELSE samples * 1000 // sr END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE sr END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE ch END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 16 END AS INTEGER) AS bps,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE samples END AS BIGINT) AS total_samples,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN (doc_id % 9 + 1) * 417
        |       ELSE 42 END AS BIGINT) AS byte_len
        |FROM spec ORDER BY doc_id""".stripMargin
    },
    // AAC-in-ADTS metadata path (round 10): after MP3 the most common
    // crawl audio class. Deterministic ADTS streams → 7-byte-header
    // frame walk → duration/rate/channels/profile/exact-avg-bitrate.
    // Every doc_id % 7 == 3 carries an MP3 payload instead — the AAC
    // probe must report it "unknown" (probe disjointness, the
    // flac-gate pattern), never mis-parse it.
    Gate("multimodal_aac_meta")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 300).select(
        col("doc_id"),
        (col("doc_id") % 9 + 1).cast("int").as("frames"),
        (col("doc_id") % 13).cast("int").as("si"),
        (col("doc_id") % 7 + 1).cast("int").as("cc"),
        (col("doc_id") % 512 + 16).cast("int").as("pb"))
      val aac = Multimodal.encodeAacFrame(
        spec.where(col("doc_id") % 7 =!= 3),
        "doc_id", "frames", "si", "cc", "pb")
      val mp3 = Multimodal.encodeMp3Frame(
        spec.where(col("doc_id") % 7 === 3)
          .withColumn("bi", lit(9)).withColumn("sri", lit(0)),
        "doc_id", "frames", "bi", "sri")
      Multimodal.extractAacMeta(aac.unionAll(mp3)).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("durationMs").as("duration_ms"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("nFrames").as("n_frames"),
          col("bitrateKbps").as("bitrate_kbps"),
          col("profile"), col("vbr"), col("byteLen").as("byte_len"))
        .orderBy("doc_id")
    }) {
      """WITH spec AS (
        |  SELECT doc_id,
        |    doc_id % 9 + 1 AS frames,
        |    CAST(doc_id % 7 + 1 AS INTEGER) AS cc,
        |    doc_id % 512 + 16 AS pb,
        |    ([96000,88200,64000,48000,44100,32000,24000,22050,16000,
        |      12000,11025,8000,7350])[CAST(doc_id % 13 + 1 AS INTEGER)] AS sr
        |  FROM documents WHERE doc_id < 300
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 3 THEN 'unknown' ELSE 'aac' END AS format,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0
        |    ELSE frames * 1024 * 1000 // sr END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE sr END AS INTEGER)
        |    AS sample_rate,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0
        |    WHEN cc = 7 THEN 8 ELSE cc END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE frames END AS BIGINT)
        |    AS n_frames,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0
        |    ELSE frames * (7 + pb) * 8 * sr // (frames * 1024 * 1000)
        |    END AS INTEGER) AS bitrate_kbps,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE 1 END AS INTEGER)
        |    AS profile,
        |  false AS vbr,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN frames * (144000 * 128 // 44100)
        |    ELSE frames * (7 + pb) END AS BIGINT) AS byte_len
        |FROM spec ORDER BY doc_id""".stripMargin
    },
    // M4A (audio-in-BMFF) metadata path (round 10): the same box walk
    // as MP4 but mapped to AUDIO fields (mvhd duration + stsd/mp4a
    // channelcount + 16.16 samplerate). Every doc_id % 7 == 0 carries
    // a VIDEO-only MP4 — which must come back "unknown": a video MP4
    // is not an M4A, the exact round-9 mis-shaping this gate pins.
    Gate("multimodal_m4a_meta")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 300).select(
        col("doc_id"),
        (col("n_chars") % 30000 + 500).cast("long").as("ms"),
        expr("array(44100, 48000, 32000, 22050)[CAST(doc_id % 4 AS INT)]")
          .cast("int").as("sr"),
        (col("doc_id") % 2 + 1).cast("int").as("ch"))
      val m4a = Multimodal.encodeM4aFrame(
        spec.where(col("doc_id") % 7 =!= 0), "doc_id", "ms", "sr", "ch")
      val mp4 = Multimodal.encodeMp4Frame(
        spec.where(col("doc_id") % 7 === 0)
          .withColumn("w", (col("doc_id") % 1280 + 16).cast("int"))
          .withColumn("h", (col("doc_id") % 720 + 16).cast("int")),
        "doc_id", "ms", "w", "h")
      Multimodal.extractM4aMeta(m4a.unionAll(mp4)).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("durationMs").as("duration_ms"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("nTracks").as("n_tracks"), col("codec"),
          col("byteLen").as("byte_len"))
        .orderBy("doc_id")
    }) {
      """WITH spec AS (
        |  SELECT doc_id,
        |    n_chars % 30000 + 500 AS ms,
        |    ([44100, 48000, 32000, 22050])[CAST(doc_id % 4 + 1 AS INTEGER)] AS sr,
        |    CAST(doc_id % 2 + 1 AS INTEGER) AS ch
        |  FROM documents WHERE doc_id < 300
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'unknown' ELSE 'm4a' END AS format,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE ms END AS BIGINT)
        |    AS duration_ms,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE sr END AS INTEGER)
        |    AS sample_rate,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE ch END AS INTEGER)
        |    AS channels,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS INTEGER)
        |    AS n_tracks,
        |  CASE WHEN doc_id % 7 = 0 THEN '' ELSE 'mp4a' END AS codec,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 240 ELSE 381 END AS BIGINT)
        |    AS byte_len
        |FROM spec ORDER BY doc_id""".stripMargin
    },
    // REAL audio path: deterministic PCM16 signals → WAV encode →
    // chunk-walk parse → integer feature extraction → decimation
    // resample → features again. Every output column is exact integer
    // arithmetic the oracle replays from the signal formula.
    Gate("multimodal_audio")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 300 + 50).cast("int").as("frames"),
        (col("doc_id") % 2 + 1).cast("int").as("ch"),
        lit(8000).as("rate"))
      val media = Multimodal.encodeWavFrame(spec, "doc_id", "frames", "ch", "rate")
      val f0 = Multimodal.extractAudioFeatures(media).toDF()
        .select(col("mediaId").as("doc_id"),
          col("nFrames").as("n_frames"), col("durationMs").as("duration_ms"),
          col("byteLen").as("byte_len"), col("peakAbs").as("peak_abs"),
          col("sumSamples").as("sum_samples"))
      val f1 = Multimodal.extractAudioFeatures(
          Multimodal.decimateWavFrame(media, 2)).toDF()
        .select(col("mediaId").as("doc_id"),
          col("nFrames").as("dec_frames"), col("durationMs").as("dec_dur_ms"),
          col("sumSamples").as("dec_sum"))
      f0.join(f1, "doc_id").orderBy("doc_id")
    }) {
      """WITH spec AS (
        |  SELECT doc_id,
        |    n_chars % 300 + 50 AS frames,
        |    doc_id % 2 + 1 AS ch
        |  FROM documents WHERE doc_id < 200
        |), full_stats AS (
        |  SELECT s.doc_id,
        |    CAST(max(abs((s.doc_id * 7 + r.i * 13) % 65536 - 32768)) AS INTEGER) AS peak_abs,
        |    CAST(sum((s.doc_id * 7 + r.i * 13) % 65536 - 32768) AS BIGINT) AS sum_samples
        |  FROM spec s CROSS JOIN range(0, 700) r(i)
        |  WHERE r.i < s.frames * s.ch
        |  GROUP BY s.doc_id
        |), dec_stats AS (
        |  -- decimation keeps frames 0,2,4,... → sample index f*2*ch + c
        |  SELECT s.doc_id,
        |    CAST(sum((s.doc_id * 7 + (f.i * 2 * s.ch + c.i) * 13) % 65536 - 32768)
        |      AS BIGINT) AS dec_sum
        |  FROM spec s
        |  CROSS JOIN range(0, 350) f(i)
        |  CROSS JOIN range(0, 2) c(i)
        |  WHERE f.i < (s.frames + 1) // 2 AND c.i < s.ch
        |  GROUP BY s.doc_id
        |)
        |SELECT s.doc_id,
        |  CAST(s.frames AS BIGINT) AS n_frames,
        |  CAST(s.frames * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  CAST(44 + 2 * s.frames * s.ch AS BIGINT) AS byte_len,
        |  fs.peak_abs,
        |  fs.sum_samples,
        |  CAST((s.frames + 1) // 2 AS BIGINT) AS dec_frames,
        |  CAST(((s.frames + 1) // 2) * 1000 // 4000 AS BIGINT) AS dec_dur_ms,
        |  ds.dec_sum
        |FROM spec s
        |JOIN full_stats fs ON fs.doc_id = s.doc_id
        |JOIN dec_stats ds ON ds.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin
    },
    // The other two real-world WAV encodings: unsigned 8-bit PCM and
    // G.711 mu-law — the oracle replays the floor-quantization and the
    // full companding ladder per sample.
    Gate("multimodal_audio_codecs")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 300 + 50).cast("int").as("frames"),
        (col("doc_id") % 2 + 1).cast("int").as("ch"),
        lit(8000).as("rate"))
      val f8 = Multimodal.extractAudioFeatures(
          Multimodal.encodeWavFrame(spec, "doc_id", "frames", "ch", "rate",
            codec = "pcm8")).toDF()
        .select(col("mediaId").as("doc_id"), col("byteLen").as("p8_bytes"),
          col("peakAbs").as("p8_peak"), col("sumSamples").as("p8_sum"))
      val fu = Multimodal.extractAudioFeatures(
          Multimodal.encodeWavFrame(spec, "doc_id", "frames", "ch", "rate",
            codec = "mulaw")).toDF()
        .select(col("mediaId").as("doc_id"), col("byteLen").as("mu_bytes"),
          col("peakAbs").as("mu_peak"), col("sumSamples").as("mu_sum"))
      val fa = Multimodal.extractAudioFeatures(
          Multimodal.encodeWavFrame(spec, "doc_id", "frames", "ch", "rate",
            codec = "alaw")).toDF()
        .select(col("mediaId").as("doc_id"), col("byteLen").as("al_bytes"),
          col("peakAbs").as("al_peak"), col("sumSamples").as("al_sum"))
      f8.join(fu, "doc_id").join(fa, "doc_id").orderBy("doc_id")
    }) {
      """WITH spec AS (
        |  SELECT doc_id,
        |    n_chars % 300 + 50 AS frames,
        |    doc_id % 2 + 1 AS ch
        |  FROM documents WHERE doc_id < 200
        |), samples AS (
        |  SELECT s.doc_id, s.frames, s.ch,
        |    (s.doc_id * 7 + r.i * 13) % 65536 - 32768 AS v
        |  FROM spec s CROSS JOIN range(0, 700) r(i)
        |  WHERE r.i < s.frames * s.ch
        |), comp AS (
        |  -- mu-law compression ladder: bias, exponent by magnitude range
        |  SELECT doc_id, frames, ch, v,
        |    least(abs(v), 32635) + 132 AS mag
        |  FROM samples
        |), comp2 AS (
        |  SELECT doc_id, frames, ch, v, mag,
        |    CASE WHEN mag < 256 THEN 0 WHEN mag < 512 THEN 1
        |         WHEN mag < 1024 THEN 2 WHEN mag < 2048 THEN 3
        |         WHEN mag < 4096 THEN 4 WHEN mag < 8192 THEN 5
        |         WHEN mag < 16384 THEN 6 ELSE 7 END AS e
        |  FROM comp
        |), acomp AS (
        |  -- A-law compression: arithmetic >>3, fold negatives, segment
        |  -- by (0x20<<k) thresholds (G.711 Table 1a)
        |  SELECT doc_id, frames, ch, v, mag, e,
        |    CAST(floor(v / 8.0) AS BIGINT) AS va
        |  FROM comp2
        |), acomp2 AS (
        |  SELECT doc_id, frames, ch, v, mag, e,
        |    CASE WHEN va >= 0 THEN va ELSE -va - 1 END AS ua,
        |    CASE WHEN va >= 0 THEN 1 ELSE -1 END AS sa
        |  FROM acomp
        |), acomp3 AS (
        |  SELECT doc_id, frames, ch, v, mag, e, ua, sa,
        |    CASE WHEN ua < 32 THEN 0 WHEN ua < 64 THEN 1 WHEN ua < 128 THEN 2
        |         WHEN ua < 256 THEN 3 WHEN ua < 512 THEN 4 WHEN ua < 1024 THEN 5
        |         WHEN ua < 2048 THEN 6 WHEN ua < 4096 THEN 7 ELSE 8 END AS sega
        |  FROM acomp2
        |), q AS (
        |  SELECT doc_id, frames, ch,
        |    -- pcm8: sample floored to its 256-multiple
        |    CAST(floor(v / 256.0) AS BIGINT) * 256 AS d8,
        |    -- mu-law: decode(encode(v)) closed form
        |    (CASE WHEN v < 0 THEN -1 ELSE 1 END) *
        |      ((((mag >> (e + 3)) & 15) * 8 + 132) * (1 << e) - 132) AS du,
        |    -- A-law: decode(encode(v)) closed form
        |    sa * (CASE WHEN sega >= 8 THEN 32256
        |          WHEN sega = 0 THEN ((ua >> 1) & 15) * 16 + 8
        |          ELSE (((ua >> (CASE WHEN sega < 2 THEN 1 ELSE sega END)) & 15)
        |                * 16 + 264) * (1 << (sega - 1)) END) AS da
        |  FROM acomp3
        |)
        |SELECT doc_id,
        |  CAST(44 + frames * ch AS BIGINT) AS p8_bytes,
        |  CAST(max(abs(d8)) AS INTEGER) AS p8_peak,
        |  CAST(sum(d8) AS BIGINT) AS p8_sum,
        |  CAST(44 + frames * ch AS BIGINT) AS mu_bytes,
        |  CAST(max(abs(du)) AS INTEGER) AS mu_peak,
        |  CAST(sum(du) AS BIGINT) AS mu_sum,
        |  CAST(44 + frames * ch AS BIGINT) AS al_bytes,
        |  CAST(max(abs(da)) AS INTEGER) AS al_peak,
        |  CAST(sum(da) AS BIGINT) AS al_sum
        |FROM q
        |GROUP BY doc_id, frames, ch
        |ORDER BY doc_id""".stripMargin
    },
    // FLAC parity: the same deterministic signal encoded to FLAC
    // (fixed predictors + partitioned Rice; second leg through the
    // quantized-LPC subframe path) must decode — CRC-checked and
    // STREAMINFO-MD5-verified per payload — to EXACTLY the WAV
    // features; the oracle replays the signal formula in SQL, so the
    // whole compress→decompress chain is pinned sample-exactly.
    // `compressed` additionally pins that the codec actually
    // compresses (beats the 44-byte-header WAV for every row).
    Gate("multimodal_audio_flac")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 300 + 50).cast("int").as("frames"),
        (col("doc_id") % 2 + 1).cast("int").as("ch"),
        lit(8000).as("rate"))
      val f0 = Multimodal.extractAudioFeatures(
          Multimodal.encodeFlacFrame(spec, "doc_id", "frames", "ch", "rate",
            mode = "fixed", blockSize = 64)).toDF()
        .select(col("mediaId").as("doc_id"), col("format"),
          col("nFrames").as("n_frames"), col("durationMs").as("duration_ms"),
          col("peakAbs").as("peak_abs"), col("sumSamples").as("sum_samples"),
          (col("byteLen") < lit(44) + lit(2) * col("nFrames") * col("channels"))
            .as("compressed"))
      val f1 = Multimodal.extractAudioFeatures(
          Multimodal.encodeFlacFrame(spec, "doc_id", "frames", "ch", "rate",
            mode = "lpc", blockSize = 256)).toDF()
        .select(col("mediaId").as("doc_id"), col("sumSamples").as("lpc_sum"),
          col("peakAbs").as("lpc_peak"))
      f0.join(f1, "doc_id").orderBy("doc_id")
    }) {
      """WITH spec AS (
        |  SELECT doc_id,
        |    n_chars % 300 + 50 AS frames,
        |    doc_id % 2 + 1 AS ch
        |  FROM documents WHERE doc_id < 200
        |), full_stats AS (
        |  SELECT s.doc_id,
        |    CAST(max(abs((s.doc_id * 7 + r.i * 13) % 65536 - 32768)) AS INTEGER) AS peak_abs,
        |    CAST(sum((s.doc_id * 7 + r.i * 13) % 65536 - 32768) AS BIGINT) AS sum_samples
        |  FROM spec s CROSS JOIN range(0, 700) r(i)
        |  WHERE r.i < s.frames * s.ch
        |  GROUP BY s.doc_id
        |)
        |SELECT s.doc_id,
        |  'flac' AS format,
        |  CAST(s.frames AS BIGINT) AS n_frames,
        |  CAST(s.frames * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  fs.peak_abs,
        |  fs.sum_samples,
        |  TRUE AS compressed,
        |  fs.sum_samples AS lpc_sum,
        |  fs.peak_abs AS lpc_peak
        |FROM spec s
        |JOIN full_stats fs ON fs.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin
    },
    Gate("multimodal_resize_png")((s, dir) => {
      val dims = tbl(s, dir, "documents").select(
        col("doc_id"),
        (col("n_chars") % 64 + 1).cast("int").as("w"),
        (col("doc_id") % 48 + 1).cast("int").as("h"))
      val media = Multimodal.encodePngFrame(dims, "doc_id", "w", "h")
      val resized = Multimodal.resizePngFrame(media, 50)
      Multimodal.extractFeatures(resized).toDF()
        .agg(
          count(lit(1)).as("n"),
          sum("width").as("sum_w"),
          sum("height").as("sum_h"),
          sum("byteLen").as("total_bytes"),
          sum(when(col("format") === "png", 1L).otherwise(0L)).as("n_png"))
    }) {
      """WITH dims AS (
        |  SELECT greatest(1, (n_chars % 64 + 1) * 50 // 100) AS nw,
        |         greatest(1, (doc_id % 48 + 1) * 50 // 100) AS nh
        |  FROM documents
        |), sz AS (
        |  SELECT nw, nh, nh * (1 + 3 * nw) AS raw FROM dims
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(nw) AS BIGINT) AS sum_w,
        |  CAST(sum(nh) AS BIGINT) AS sum_h,
        |  CAST(sum(63 + raw + 5 * ((raw + 65534) // 65535)) AS BIGINT) AS total_bytes,
        |  CAST(count(*) AS BIGINT) AS n_png
        |FROM sz""".stripMargin
    },

    // Animated-GIF later-frame decode (round 8): blank-splash-first
    // animations must fingerprint on their MIDDLE frame — frame 0
    // hashes to the all-zero solid hash, the meta-driven mid frame to
    // real content; counts the SQL oracle predicts exactly.
    Gate("multimodal_gif_frames")((s, dir) => {
      val spec = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 30 + 4).cast("int").as("w"),
        (col("doc_id") % 20 + 4).cast("int").as("h"),
        (col("doc_id") % 3 + 2).cast("int").as("frames"),
        lit(4).cast("int").as("delay_cs"))
      val media = Multimodal.encodeAnimatedGifFrame(
        spec, "doc_id", "w", "h", "frames", "delay_cs", blankFirst = true)
      Multimodal.gifFrameHashFrame(media)
        .agg(
          count(lit(1)).as("n"),
          sum("n_frames").as("sum_frames"),
          sum("frame_idx").as("sum_idx"),
          sum(when(col("ahash_first") === 0L, 1L).otherwise(0L)).as("n_blank_first"),
          sum(when(col("ahash_mid") =!= 0L, 1L).otherwise(0L)).as("n_content_mid"),
          sum(when(col("ahash_first").isNull || col("ahash_mid").isNull, 1L)
            .otherwise(0L)).as("n_null"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id % 3 + 2) AS BIGINT) AS sum_frames,
        |  CAST(sum((doc_id % 3 + 2) // 2) AS BIGINT) AS sum_idx,
        |  CAST(count(*) AS BIGINT) AS n_blank_first,
        |  CAST(count(*) AS BIGINT) AS n_content_mid,
        |  CAST(0 AS BIGINT) AS n_null
        |FROM documents WHERE doc_id < 200""".stripMargin
    },
    // EXIF orientation canonicalization (round 8): every rotated twin
    // (stored 90° CCW + orientation tag 6) must hash within JPEG
    // quantization noise of its upright copy, and every tag must
    // parse — counts the SQL oracle predicts exactly.
    Gate("multimodal_exif_orient")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 200).select(
        col("doc_id"),
        (col("n_chars") % 40 + 9).cast("int").as("w"),
        (col("doc_id") % 32 + 9).cast("int").as("h"))
      val pairs = Multimodal.encodeJpegOrientedPairFrame(dims, "doc_id", "w", "h")
      val up = Multimodal.aHashAnyFrame(pairs.select(col("media_id"), col("data")))
        .select(col("media_id"), col("ahash").as("h_up"))
      val or = Multimodal.aHashAnyFrame(
          pairs.select(col("media_id"), col("data_oriented").as("data")))
        .select(col("media_id"), col("ahash").as("h_or"))
      val tags = Multimodal.exifOrientationFrame(
        pairs.select(col("media_id"), col("data_oriented").as("data")))
      up.join(or, "media_id").join(tags, "media_id")
        .agg(
          count(lit(1)).as("n"),
          sum(when(bit_count(col("h_up").bitwiseXOR(col("h_or"))) <= 8, 1L)
            .otherwise(0L)).as("n_close"),
          sum(when(col("orientation") === 6, 1L).otherwise(0L)).as("n_tag6"),
          sum(when(col("h_up").isNull || col("h_or").isNull, 1L)
            .otherwise(0L)).as("n_null"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_close,
        |  CAST(count(*) AS BIGINT) AS n_tag6,
        |  CAST(0 AS BIGINT) AS n_null
        |FROM documents WHERE doc_id < 200""".stripMargin
    },
    // Round-8 PNG classes: palette (type 3, +tRNS→RGBA) and grayscale
    // (type 0) decode end-to-end; per-pixel channel sums make any
    // unfilter/lookup/expansion defect shift a total the SQL oracle
    // recomputes in closed form.
    Gate("multimodal_png_palette")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 300).select(
        col("doc_id"),
        (col("doc_id") % 13 + 3).cast("int").as("w"),
        (col("doc_id") % 9 + 2).cast("int").as("h"))
      val pal = Multimodal.pngStatsFrame(
          Multimodal.encodeIndexedPngFrame(dims, "doc_id", "w", "h"))
        .withColumn("kind", lit("palette"))
      val gry = Multimodal.pngStatsFrame(
          Multimodal.encodeGrayPngFrame(dims, "doc_id", "w", "h"))
        .withColumn("kind", lit("gray"))
      pal.unionAll(gry)
        .groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum("width").as("sum_w"), sum("height").as("sum_h"),
          sum(when(col("channels") === 4, 1L).otherwise(0L)).as("n_rgba"),
          sum("r_sum").as("r_total"), sum("g_sum").as("g_total"),
          sum("b_sum").as("b_total"), sum("a_sum").as("a_total"))
        .orderBy("kind")
    }) {
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 13 + 3 AS w, doc_id % 9 + 2 AS h
        |  FROM documents WHERE doc_id < 300
        |), px0 AS (
        |  SELECT doc_id, h, unnest(range(0, w)) AS x FROM dims
        |), px AS (
        |  SELECT doc_id, x, unnest(range(0, h)) AS y FROM px0
        |), base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(w) AS BIGINT) AS sum_w,
        |         CAST(sum(h) AS BIGINT) AS sum_h
        |  FROM dims
        |), palt AS (
        |  SELECT sum((k*37+10) % 256) AS r_t, sum((k*59+20) % 256) AS g_t,
        |         sum((k*83+30) % 256) AS b_t,
        |         sum(CASE WHEN k = 0 THEN 0 WHEN k = 1 THEN 100 ELSE 255 END) AS a_t
        |  FROM (SELECT (x + y + doc_id) % 5 AS k FROM px)
        |), gryt AS (
        |  SELECT sum(v) AS v_t, CAST(count(*) AS BIGINT) AS npx
        |  FROM (SELECT (x*7 + y*11 + doc_id) % 256 AS v FROM px)
        |)
        |SELECT 'gray' AS kind, base.n, base.sum_w, base.sum_h,
        |  CAST(0 AS BIGINT) AS n_rgba,
        |  CAST(gryt.v_t AS BIGINT) AS r_total, CAST(gryt.v_t AS BIGINT) AS g_total,
        |  CAST(gryt.v_t AS BIGINT) AS b_total,
        |  CAST(255 * gryt.npx AS BIGINT) AS a_total
        |FROM base, gryt
        |UNION ALL
        |SELECT 'palette', base.n, base.sum_w, base.sum_h, base.n,
        |  CAST(palt.r_t AS BIGINT), CAST(palt.g_t AS BIGINT),
        |  CAST(palt.b_t AS BIGINT), CAST(palt.a_t AS BIGINT)
        |FROM base, palt
        |ORDER BY kind""".stripMargin
    },

    // Round-9 PNG class: 16-bit grayscale with a full-precision
    // color-key tRNS. Exactly pixel (0,0) of every image matches the
    // key (proved by the oracle replaying the key test per pixel), so
    // a_total < 255·npx pins compare-BEFORE-downscale; r/g/b totals
    // pin the strip-16 high-byte math.
    Gate("multimodal_png_16bit")((s, dir) => {
      val dims = tbl(s, dir, "documents").where(col("doc_id") < 300).select(
        col("doc_id"),
        (col("doc_id") % 13 + 3).cast("int").as("w"),
        (col("doc_id") % 9 + 2).cast("int").as("h"))
      Multimodal.pngStatsFrame(
          Multimodal.encodeGray16PngFrame(dims, "doc_id", "w", "h"))
        .agg(count(lit(1)).as("n"),
          sum("width").as("sum_w"), sum("height").as("sum_h"),
          sum(when(col("channels") === 4, 1L).otherwise(0L)).as("n_rgba"),
          sum("r_sum").as("r_total"), sum("g_sum").as("g_total"),
          sum("b_sum").as("b_total"), sum("a_sum").as("a_total"))
    }) {
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 13 + 3 AS w, doc_id % 9 + 2 AS h
        |  FROM documents WHERE doc_id < 300
        |), px0 AS (
        |  SELECT doc_id, h, unnest(range(0, w)) AS x FROM dims
        |), px AS (
        |  SELECT doc_id, x, unnest(range(0, h)) AS y FROM px0
        |), v AS (
        |  SELECT (x*4099 + y*8191 + doc_id*257) % 65536 AS v,
        |    CASE WHEN (x*4099 + y*8191) % 65536 = 0 THEN 0 ELSE 255 END AS a
        |  FROM px
        |)
        |SELECT CAST((SELECT count(*) FROM dims) AS BIGINT) AS n,
        |  CAST((SELECT sum(w) FROM dims) AS BIGINT) AS sum_w,
        |  CAST((SELECT sum(h) FROM dims) AS BIGINT) AS sum_h,
        |  CAST((SELECT count(*) FROM dims) AS BIGINT) AS n_rgba,
        |  CAST(sum(v // 256) AS BIGINT) AS r_total,
        |  CAST(sum(v // 256) AS BIGINT) AS g_total,
        |  CAST(sum(v // 256) AS BIGINT) AS b_total,
        |  CAST(sum(a) AS BIGINT) AS a_total
        |FROM v""".stripMargin
    },
    Gate("audio_resample")((s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val frames = (200 + id % 50).toInt
          val samples = new Array[Short](frames * 2)
          var f = 0
          while (f < frames) {
            samples(2 * f) = (((id * 31 + f * 7) % 2003) - 1001).toShort
            samples(2 * f + 1) = (((id * 17 + f * 11) % 1999) - 999).toShort
            f += 1
          }
          val wav = WavCodec.encode(WavCodec.Audio(2, 6000, samples))
          val rs = WavCodec.resampleLinear(
            WavCodec.downmixMono(WavCodec.decode(wav)), 4000)
          var sum = 0L
          rs.samples.foreach(sum += _)
          (id, rs.frames, rs.samples.head.toLong, rs.samples.last.toLong, sum)
        })
        .toDF("doc_id", "n_out", "first_s", "last_s", "sum_s")
        .orderBy("doc_id")
    }) {
      // Replays the full mono/resample arithmetic: mono[k] is the
      // floor-averaged stereo ramp; even outputs read mono[3i/2]
      // exactly, odd outputs interpolate halfway with floor division.
      """WITH f AS (
        |  SELECT doc_id, 200 + doc_id % 50 AS frames,
        |    (200 + doc_id % 50 - 1) * 2 // 3 + 1 AS n_out
        |  FROM documents WHERE doc_id < 300
        |), idx AS (
        |  SELECT doc_id, n_out, unnest(range(n_out)) AS i FROM f
        |), m AS (
        |  -- DuckDB's // truncates toward zero; the engine spec is FLOOR
        |  -- division, so the oracle floors explicitly (samples are far
        |  -- below 2^53, doubles are exact here)
        |  SELECT doc_id, n_out, i,
        |    CAST(floor(((((doc_id * 31 + ((3 * i) // 2) * 7) % 2003) - 1001)
        |      + (((doc_id * 17 + ((3 * i) // 2) * 11) % 1999) - 999)) / 2.0) AS BIGINT) AS m0,
        |    CAST(floor(((((doc_id * 31 + ((3 * i) // 2 + 1) * 7) % 2003) - 1001)
        |      + (((doc_id * 17 + ((3 * i) // 2 + 1) * 11) % 1999) - 999)) / 2.0) AS BIGINT) AS m1
        |  FROM idx
        |), outv AS (
        |  SELECT doc_id, n_out, i,
        |    CASE WHEN i % 2 = 0 THEN m0
        |         ELSE m0 + CAST(floor((m1 - m0) / 2.0) AS BIGINT) END AS v
        |  FROM m
        |)
        |SELECT doc_id,
        |  CAST(max(n_out) AS INTEGER) AS n_out,
        |  CAST(max(CASE WHEN i = 0 THEN v END) AS BIGINT) AS first_s,
        |  CAST(max(CASE WHEN i = n_out - 1 THEN v END) AS BIGINT) AS last_s,
        |  CAST(sum(v) AS BIGINT) AS sum_s
        |FROM outv GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
  )

  /** DuckDB oracle for the multimodal_ahash gate: per sampled cell,
    * nearest-neighbor source coordinates, luma from the encoder's
    * closed-form pixel gradient, division-free mean-bit rule, and the
    * hash reassembled as two unsigned 32-bit halves (sidestepping
    * HUGEINT↔signed-BIGINT conversion entirely). */
  /** Shared CTE: replay every sampled pixel's luma from the encoder's
    * closed-form gradient and rebuild both 32-bit aHash halves. */
  /** Shared pHash replay CTE body: `imagesSql` supplies
    * (id, seed, w, h); the chain replays the integer pipeline of
    * [[graft.operators.PHash]] — gradient gray, 32x32 nearest sample,
    * separable fixed-point DCT with the PINNED cosine constants
    * (embedded verbatim, not re-derived through another libm), lower
    * median, bit assembly in two BIGINT halves. Ends with
    * `ph_hashes(id, lo, hi)`. */
  private def pHashCteBody(imagesSql: String): String =
    s"""ph_images AS ($imagesSql
       |), ph_cos(k, n, c) AS (VALUES ${graft.operators.PHash.cosTableSqlValues}
       |), ph_xy AS (
       |  SELECT id, seed, xs.x AS x, ys.y AS y,
       |         xs.x * w // 32 AS sx, ys.y * h // 32 AS sy
       |  FROM ph_images, (SELECT unnest(range(32)) AS x) xs,
       |       (SELECT unnest(range(32)) AS y) ys
       |), ph_g AS (
       |  SELECT id, x, y,
       |    (299 * ((sx * 7 + sy * 3) % 256) + 587 * (xor(sx, sy) % 256)
       |     + 114 * ((sx + sy + seed) % 256)) // 1000 AS g
       |  FROM ph_xy
       |), ph_tmp AS (
       |  SELECT g.id, cu.k AS u, g.y, sum(cu.c * g.g) AS t
       |  FROM ph_g g JOIN ph_cos cu ON cu.n = g.x
       |  GROUP BY g.id, cu.k, g.y
       |), ph_dct AS (
       |  SELECT t.id, t.u, cv.k AS v, sum(cv.c * t.t) AS d
       |  FROM ph_tmp t JOIN ph_cos cv ON cv.n = t.y
       |  GROUP BY t.id, t.u, cv.k
       |), ph_med AS (
       |  SELECT id, d AS med FROM (
       |    SELECT id, d, row_number() OVER (PARTITION BY id ORDER BY d) AS rn
       |    FROM ph_dct) WHERE rn = 32
       |), ph_bits AS (
       |  SELECT c.id, c.v * 8 + c.u AS i,
       |         CASE WHEN c.d > m.med THEN 1 ELSE 0 END AS b
       |  FROM ph_dct c JOIN ph_med m ON m.id = c.id
       |), ph_hashes AS (
       |  SELECT id,
       |    CAST(sum(CASE WHEN i < 32 AND b = 1
       |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN i >= 32 AND b = 1
       |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM ph_bits GROUP BY id
       |)""".stripMargin

  private lazy val aHashCte: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(n_chars % 64 + 1 AS BIGINT) AS w,
      |         CAST(doc_id % 48 + 1 AS BIGINT) AS h
      |  FROM documents WHERE doc_id < 200
      |), px AS (
      |  SELECT doc_id, i, sx, sy,
      |    ((sx + sy + doc_id) % 256) + (xor(sx, sy) % 256)
      |      + ((sx * 7 + sy * 3) % 256) AS lum
      |  FROM (
      |    SELECT doc_id,
      |      unnest(range(0, 64)) AS i,
      |      unnest(list_transform(range(0, 64), j -> (j % 8) * w // 8)) AS sx,
      |      unnest(list_transform(range(0, 64), j -> (j // 8) * h // 8)) AS sy
      |    FROM d)
      |), tot AS (
      |  SELECT doc_id, i, lum,
      |    sum(lum) OVER (PARTITION BY doc_id) AS s
      |  FROM px
      |), hashes AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN i < 32 AND 64 * lum > s
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS ahash_lo,
      |    CAST(sum(CASE WHEN i >= 32 AND 64 * lum > s
      |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi
      |  FROM tot GROUP BY doc_id
      |)""".stripMargin

  private lazy val aHashOracle: String =
    s"""$aHashCte
       |SELECT doc_id, ahash_lo, ahash_hi
       |FROM hashes ORDER BY doc_id""".stripMargin

  /** Shared CTE BODY (no WITH prefix, so callers can choose RECURSIVE)
    * for the incremental image gates: replays the aHash of the index
    * side (doc_id < 200, seed = doc_id) AND the batch side (ids
    * +100000, SAME gradient seed, width + doc_id%3 — so every %3==0
    * batch image is byte-identical to its original), then the exact
    * cross-side hamming sweep. */
  private lazy val aHashIncBody: String =
    """d AS (
      |  SELECT doc_id, doc_id AS seed,
      |    CAST(n_chars % 64 + 1 AS BIGINT) AS w,
      |    CAST(doc_id % 48 + 1 AS BIGINT) AS h
      |  FROM documents WHERE doc_id < 200
      |  UNION ALL
      |  SELECT doc_id + 100000, doc_id AS seed,
      |    CAST(n_chars % 64 + 1 + doc_id % 3 AS BIGINT) AS w,
      |    CAST(doc_id % 48 + 1 AS BIGINT) AS h
      |  FROM documents WHERE doc_id < 200
      |), px AS (
      |  SELECT doc_id, i,
      |    ((sx + sy + seed) % 256) + (xor(sx, sy) % 256)
      |      + ((sx * 7 + sy * 3) % 256) AS lum
      |  FROM (
      |    SELECT doc_id, seed,
      |      unnest(range(0, 64)) AS i,
      |      unnest(list_transform(range(0, 64), j -> (j % 8) * w // 8)) AS sx,
      |      unnest(list_transform(range(0, 64), j -> (j // 8) * h // 8)) AS sy
      |    FROM d)
      |), tot AS (
      |  SELECT doc_id, i, lum,
      |    sum(lum) OVER (PARTITION BY doc_id) AS s
      |  FROM px
      |), hashes AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN i < 32 AND 64 * lum > s
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(sum(CASE WHEN i >= 32 AND 64 * lum > s
      |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS hi
      |  FROM tot GROUP BY doc_id
      |), ham AS (
      |  SELECT n.doc_id AS id_new, i.doc_id AS id_idx,
      |    CAST(bit_count(xor(n.lo, i.lo))
      |       + bit_count(xor(n.hi, i.hi)) AS INTEGER) AS hamming
      |  FROM hashes n, hashes i
      |  WHERE n.doc_id >= 100000 AND i.doc_id < 100000
      |)""".stripMargin

  /** DuckDB oracle for the multimodal_features gate: rebuild the
    * 54-byte BMP header (BITMAPINFOHEADER, little-endian) as a BLOB and
    * parse width/height back from the raw header bytes. */
  private lazy val bmpHeaderOracle: String = {
    // hex of byte k of little-endian int32 `v`
    def leb(v: String, k: Int): String = {
      val shift = Seq("% 256", "// 256 % 256", "// 65536 % 256", "// 16777216 % 256")(k)
      s"lpad(to_hex(($v) $shift), 2, '0')"
    }
    def le32hex(v: String): String = (0 until 4).map(leb(v, _)).mkString(", ")
    // byte i (0-based) of the blob, via hex slicing → 1-byte blob → BIT → INT
    def b(i: Int): String =
      s"CAST(CAST(from_hex(substr(to_hex(blob), 2*$i+1, 2)) AS BIT) AS INTEGER)"
    def le32parse(off: Int): String =
      s"${b(off)} + ${b(off + 1)}*256 + ${b(off + 2)}*65536 + ${b(off + 3)}*16777216"
    s"""WITH d AS (
       |  SELECT doc_id, CAST(n_chars % 64 + 1 AS INTEGER) AS w,
       |         CAST(doc_id % 48 + 1 AS INTEGER) AS h
       |  FROM documents
       |), enc AS (
       |  SELECT doc_id, w, h, 54 + ((w * 3 + 3) // 4) * 4 * h AS filesize
       |  FROM d
       |), hdr AS (
       |  SELECT doc_id, filesize, from_hex(concat(
       |    '424d', ${le32hex("filesize")},
       |    '00000000', '36000000', '28000000',
       |    ${le32hex("w")}, ${le32hex("h")},
       |    '0100', '1800', '00000000',
       |    ${le32hex("filesize - 54")},
       |    '130b0000', '130b0000', '00000000', '00000000')) AS blob
       |  FROM enc
       |), parsed AS (
       |  SELECT doc_id, filesize,
       |    ${le32parse(18)} AS pw,
       |    ${le32parse(22)} AS ph
       |  FROM hdr
       |)
       |SELECT CAST(count(*) AS BIGINT) AS n_media,
       |  CAST(sum(filesize) AS BIGINT) AS total_bytes,
       |  CAST(sum(pw) AS BIGINT) AS sum_width,
       |  CAST(sum(ph) AS BIGINT) AS sum_height,
       |  CAST(count(*) AS BIGINT) AS n_bmp
       |FROM parsed""".stripMargin
  }
}
