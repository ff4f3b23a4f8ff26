package graft
package gates

import org.apache.spark.sql.functions._

import graft.ops.{Multimodal, TextAnalysis}

import Fixtures._

/** Multimodal and binary formats: image/audio/video decoders,
  * codecs and archives, tensor and record containers, EXIF and sniffing. */
object MediaGates {
  val gates: Seq[Gate] = Seq(
    // resize / frame-sample: the stubs are deterministic byte
    // transforms, so DuckDB re-derives the exact output (documents are
    // ASCII ⇒ byte offsets = char offsets); payloads compare by md5
    Gate("x_multimodal_resize", (s, d) =>
      Multimodal.resize(Multimodal.packText(t(s, d, "documents"), "text"),
        "doc_id", "media", width = 40, height = 20)
        .select(col("id"), col("byte_len"), col("width"), col("height"),
          md5(col("payload")).as("payload_md5")),
      """
      WITH r AS (
        SELECT doc_id, length(text) AS len, text,
               greatest(1, least(length(text), 100)) AS target
        FROM documents)
      SELECT doc_id AS id,
             CAST(CASE WHEN len = 0 THEN 0 ELSE target END AS BIGINT) AS byte_len,
             40 AS width, 20 AS height,
             CASE WHEN len = 0 THEN md5('') ELSE
               md5(array_to_string(list_transform(range(target),
                 i -> substr(text, CAST((i * len) // target AS INTEGER) + 1, 1)), ''))
             END AS payload_md5
      FROM r"""),
    Gate("x_multimodal_frames", (s, d) =>
      Multimodal.frameSample(Multimodal.packText(t(s, d, "documents"), "text"),
        "doc_id", "media", nFrames = 6, stride = 2)
        .select(col("id"), col("frame_idx"),
          octet_length(col("frame")).cast("long").as("frame_len"),
          md5(col("frame")).as("frame_md5")),
      """
      WITH s AS (
        SELECT doc_id, length(text) AS len, text,
               greatest(1, length(text) // 6) AS seg
        FROM documents WHERE length(text) > 0)
      SELECT doc_id AS id, CAST(i AS INTEGER) AS frame_idx,
             CAST(least(seg, len - i * seg) AS BIGINT) AS frame_len,
             md5(substr(text, CAST(i * seg AS INTEGER) + 1, CAST(seg AS INTEGER))) AS frame_md5
      FROM s, unnest([0, 2, 4]) AS t(i)
      WHERE i * seg < len"""),

    // REAL pixel decode round-trip (no stand-in anywhere): each doc's
    // UTF-8 bytes become the pixels of a 32-wide greyscale PNG,
    // encoded with a per-row cycling filter (all 5 PNG filter types in
    // every image), then FULLY decoded — zlib inflate + scanline
    // unfilter — back to pixels. The oracle recomputes the pixel
    // stats (order-sensitive rolling hash + sum) straight from the
    // text bytes, so one wrong pixel anywhere in encode OR decode
    // hash-mismatches. Encode and decode share no code path
    // (Deflater/filter-apply vs Inflater/unfilter), and PngSpec
    // cross-validates both directions against the JDK's independent
    // ImageIO codec.
    Gate("x_multimodal_decode", (s, d) =>
      Multimodal.decodeImagePixels(
        Multimodal.packTextPng(docs(s, d), "doc_id", "text", width = 32),
        "id", "media"),
      // expected pixels = UTF-8 bytes zero-padded to 32·height; stats
      // re-derived with the same hex-pair byte-list technique as
      // x_multimodal_features — no PNG anywhere on the oracle side
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               CASE WHEN len = 0 THEN 1 ELSE CAST(CEIL(len / 32.0) AS INTEGER) END AS h,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b),
      p AS (
        SELECT doc_id, h,
               list_concat(bytes, list_transform(range(32 * h - len), x -> 0)) AS px
        FROM e)
      SELECT doc_id AS id, 32 AS width, h AS height, 1 AS channels,
             CAST(32 * h AS BIGINT) AS pixel_len,
             CAST(list_sum(px) AS BIGINT) AS pixel_sum,
             CAST(list_reduce(list_prepend(17, px),
               (a, x) -> (a * 31 + x) % 16777216) AS BIGINT) AS pixel_hash
      FROM p"""),

    // WebP VP8L pixel round-trip (round 15, the PNG gate's sibling):
    // each doc's UTF-8 bytes ride the GREEN channel of a from-spec
    // VP8L lossless image (flat 8-bit prefix code declared through
    // the code-length code — the full normal-code header path) and
    // decode back through prefix-code → ARGB reconstruction. The
    // oracle recomputes the RGBA stream (0, b, 0, 255) stats straight
    // from the text bytes; transforms/cache/backrefs/meta-groups are
    // pinned in WebpSpec with hand-written bitstreams.
    Gate("x_multimodal_webp_decode", (s, d) =>
      Multimodal.decodeImagePixels(
        Multimodal.packTextWebp(docs(s, d), "doc_id", "text", width = 32),
        "id", "media"),
      // webp: the RGBA stream is (0, byte, 0, 255) per pixel — flatten
      // and replay the same rolling hash
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               CASE WHEN len = 0 THEN 1 ELSE CAST(CEIL(len / 32.0) AS INTEGER) END AS h,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b),
      p AS (
        SELECT doc_id, h,
               flatten(list_transform(
                 list_concat(bytes, list_transform(range(32 * h - len), x -> 0)),
                 g -> [0, g, 0, 255])) AS px
        FROM e)
      SELECT doc_id AS id, 32 AS width, h AS height, 4 AS channels,
             CAST(4 * 32 * h AS BIGINT) AS pixel_len,
             CAST(list_sum(px) AS BIGINT) AS pixel_sum,
             CAST(list_reduce(list_prepend(17, px),
               (a, x) -> (a * 31 + x) % 16777216) AS BIGINT) AS pixel_hash
      FROM p"""),

    // LOSSY WebP (VP8 keyframe) round 16 — the ADPCM gate's contract
    // on the image side: per-doc quantizer/filter/B_PRED configs, the
    // in-repo encoder tracks its reconstruction through the decoder's
    // exact inverse transforms, and the gate asserts byte-exact YUV +
    // RGB agreement through the full container walk. Lossy coding has
    // no SQL-replayable byte oracle; the independence pin (byte-exact
    // both directions against the system libwebp) lives in
    // WebpVp8Spec / Vp8EncSpec.
    Gate("x_multimodal_webp_lossy", (s, d) =>
      Multimodal.webpLossyParity(docs(s, d), "doc_id", "text", width = 32),
      // lossy webp: the all-true verdict table (tracked-reconstruction
      // parity, see above) + the height arithmetic
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len FROM documents)
      SELECT doc_id AS id, true AS reconstruction_exact, true AS rgb_exact,
             CASE WHEN len = 0 THEN 1 ELSE CAST(CEIL(len / 32.0) AS INTEGER) END AS height
      FROM b"""),

    // …and with an ALPH chunk: per-doc filter method (id%4) and
    // compression (raw / headerless-VP8L green stream, id%2), muxed
    // VP8X+ALPH+VP8; alpha coding is LOSSLESS so the gate asserts
    // exact alpha recovery alongside tracked-RGB parity.
    Gate("x_multimodal_webp_alpha", (s, d) =>
      Multimodal.webpAlphaParity(docs(s, d), "doc_id", "text", width = 32),
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len FROM documents)
      SELECT doc_id AS id, true AS rgb_exact, true AS alpha_exact,
             CASE WHEN len = 0 THEN 1 ELSE CAST(CEIL(len / 32.0) AS INTEGER) END AS height
      FROM b"""),

    // Animated WebP: film-strip animations built from the text bytes
    // (16x2 lossless tiles stacked down a 16-wide canvas, every
    // fourth frame disposing to background), demuxed + composed per
    // the spec's blend/dispose rules; the oracle replays each
    // frame's COMPOSED canvas RGBA byte-for-byte from the text.
    Gate("x_multimodal_webp_anim", (s, d) =>
      Multimodal.decodeWebpAnimFrames(
        Multimodal.packTextWebpAnim(docs(s, d), "doc_id", "text"),
        "id", "media"),
      // animated webp: replay each frame's COMPOSED canvas from the
      // text bytes — frame k shows tiles {k} ∪ {j<k : j%4≠3} (every
      // fourth frame disposes to background), tile j carries bytes
      // [32j, 32j+32) zero-padded as green rows 2j..2j+1 of a 16-wide
      // RGBA canvas, transparent elsewhere
      """
      WITH b AS (
        SELECT doc_id, least(octet_length(encode(coalesce(text, ''))), 16384) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               CASE WHEN len = 0 THEN 1 ELSE CAST(CEIL(len / 32.0) AS INTEGER) END AS n,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b),
      f AS (
        SELECT doc_id, len, n, bytes, CAST(unnest(range(n)) AS INTEGER) AS k
        FROM e),
      p AS (
        SELECT doc_id, n, k,
               flatten(list_transform(range(16 * 2 * n), p ->
                 CASE WHEN ((p // 32) = k OR ((p // 32) < k AND (p // 32) % 4 != 3))
                      THEN [0, CASE WHEN 32*(p//32) + ((p//16)%2)*16 + (p%16) < len
                                    THEN bytes[CAST(32*(p//32) + ((p//16)%2)*16 + (p%16) + 1 AS INTEGER)]
                                    ELSE 0 END, 0, 255]
                      ELSE [0, 0, 0, 0] END)) AS px
        FROM f)
      SELECT doc_id AS id, k AS frame_idx, 16 AS canvas_width,
             CAST(2*n AS INTEGER) AS canvas_height,
             3 AS loop_count, 0 AS x, CAST(2*k AS INTEGER) AS y, 16 AS width, 2 AS height,
             CAST(10*(k+1) AS INTEGER) AS duration_ms, (k % 2 = 0) AS blend, (k % 4 = 3) AS dispose,
             CAST(16 * 2 * n * 4 AS BIGINT) AS pixel_len,
             CAST(list_sum(px) AS BIGINT) AS pixel_sum,
             CAST(list_reduce(list_prepend(17, px), (a, x) -> (a * 31 + x) % 16777216) AS BIGINT) AS pixel_hash
      FROM p"""),

    // Animated GIF: the film-strip construction on the GIF wire (16x1
    // rows, identity grayscale palette, every fourth frame disposing
    // to background); same composed-canvas replay as the WebP gate.
    Gate("x_multimodal_gif_anim", (s, d) =>
      Multimodal.decodeGifAnimFrames(
        Multimodal.packTextGifAnim(docs(s, d), "doc_id", "text"),
        "id", "media"),
      // animated gif: one 16x1 row per frame (so j = row index = frame
      // index), identity grayscale palette → visible pixels (b,b,b,255)
      """
      WITH b AS (
        SELECT doc_id, least(octet_length(encode(coalesce(text, ''))), 8192) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               CASE WHEN len = 0 THEN 1 ELSE CAST(CEIL(len / 16.0) AS INTEGER) END AS n,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b),
      f AS (
        SELECT doc_id, len, n, bytes, CAST(unnest(range(n)) AS INTEGER) AS k
        FROM e),
      p AS (
        SELECT doc_id, n, k,
               flatten(list_transform(range(16 * n), p ->
                 CASE WHEN ((p // 16) = k OR ((p // 16) < k AND (p // 16) % 4 != 3))
                      THEN [CASE WHEN p < len THEN bytes[CAST(p + 1 AS INTEGER)] ELSE 0 END,
                            CASE WHEN p < len THEN bytes[CAST(p + 1 AS INTEGER)] ELSE 0 END,
                            CASE WHEN p < len THEN bytes[CAST(p + 1 AS INTEGER)] ELSE 0 END, 255]
                      ELSE [0, 0, 0, 0] END)) AS px
        FROM f)
      SELECT doc_id AS id, k AS frame_idx, 16 AS canvas_width,
             CAST(n AS INTEGER) AS canvas_height,
             2 AS loop_count, 0 AS x, k AS y, 16 AS width, 1 AS height,
             CAST(k + 1 AS INTEGER) AS delay_cs,
             CAST(CASE WHEN k % 4 = 3 THEN 2 ELSE 0 END AS INTEGER) AS disposal,
             CAST(16 * n * 4 AS BIGINT) AS pixel_len,
             CAST(list_sum(px) AS BIGINT) AS pixel_sum,
             CAST(list_reduce(list_prepend(17, px), (a, x) -> (a * 31 + x) % 16777216) AS BIGINT) AS pixel_hash
      FROM p"""),

    // TIFF baseline pixel round-trip (round 15): greyscale strips,
    // PackBits RLE, little-endian IFD — same pixel oracle as the PNG
    // gate (the bytes ARE the text); LZW and the big-endian/strip
    // variants are pinned in TiffSpec.
    Gate("x_multimodal_tiff_decode", (s, d) =>
      Multimodal.decodeImagePixels(
        Multimodal.packTextTiff(docs(s, d), "doc_id", "text", width = 32),
        "id", "media"),
      // tiff: greyscale round-trip — identical contract to the PNG gate
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               CASE WHEN len = 0 THEN 1 ELSE CAST(CEIL(len / 32.0) AS INTEGER) END AS h,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b),
      p AS (
        SELECT doc_id, h,
               list_concat(bytes, list_transform(range(32 * h - len), x -> 0)) AS px
        FROM e)
      SELECT doc_id AS id, 32 AS width, h AS height, 1 AS channels,
             CAST(32 * h AS BIGINT) AS pixel_len,
             CAST(list_sum(px) AS BIGINT) AS pixel_sum,
             CAST(list_reduce(list_prepend(17, px),
               (a, x) -> (a * 31 + x) % 16777216) AS BIGINT) AS pixel_hash
      FROM p"""),

    // REAL video-container path: spec-correct MP4 box trees (ftyp +
    // moov(mvhd + trak(tkhd)) + mdat) whose duration and 16.16
    // fixed-point track dimensions derive arithmetically from the
    // text length; Mp4.parse walks the tree back. The oracle needs
    // only octet_length(text).
    Gate("x_multimodal_video_meta", (s, d) =>
      Multimodal.decodeVideoMeta(
        Multimodal.packTextMp4(t(s, d, "documents"), "doc_id", "text"),
        "id", "media"),
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len FROM documents)
      SELECT doc_id AS id, CAST(248 + len AS BIGINT) AS byte_len,
             'video/mp4' AS mime_detected, 'isom' AS brand,
             CAST(len * 40 AS BIGINT) AS duration_ms,
             CAST(16 + len % 640 AS INTEGER) AS width,
             CAST(16 + (len * 7) % 480 AS INTEGER) AS height
      FROM b"""),

    // REAL Matroska/EBML path (the MKV sibling of the MP4 gate):
    // spec-correct EBML trees (EBML header + Segment(Info + Tracks))
    // with fixed 8-byte size vints, so the container overhead is the
    // constant 268 bytes and duration/dims derive arithmetically from
    // the text length; Mkv.parse walks the tree back. The oracle needs
    // only octet_length(text).
    Gate("x_multimodal_mkv_meta", (s, d) =>
      Multimodal.decodeVideoMeta(
        Multimodal.packTextMkv(t(s, d, "documents"), "doc_id", "text"),
        "id", "media"),
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len FROM documents)
      SELECT doc_id AS id, CAST(268 + len AS BIGINT) AS byte_len,
             'video/x-matroska' AS mime_detected, 'matroska' AS brand,
             CAST(len * 20 AS BIGINT) AS duration_ms,
             CAST(16 + (len * 3) % 640 AS INTEGER) AS width,
             CAST(16 + (len * 11) % 480 AS INTEGER) AS height
      FROM b"""),

    // REAL frame-level video path (the MJPEG rung the round-7 verdict
    // named): spec-correct RIFF/AVI containers whose 00dc chunks are
    // real baseline JPEGs (JpegEncoder) of known 16×16 gradients,
    // demuxed by AviCodec and pixel-decoded by JpegCodec. The gate
    // replays each frame's expected mean luminance analytically
    // (higher-order functions over sequence(0,255) — exact integer
    // arithmetic) and asserts every decoded frame lands within the
    // JPEG DC rounding band (±3); the oracle needs only
    // octet_length(text) for the frame counts plus the contract
    // booleans the engine must earn.
    // MP4 sibling of the MJPEG-AVI gate: identical JPEG frames muxed
    // into a spec-legal MP4 with full sample tables; the sample walk
    // must recover per-frame timing (uniform stts at 25 fps → 40 ms
    // steps) and the stss sync set (every third sample), and each
    // sliced sample must decode to the same luma expectation.
    Gate("x_multimodal_mp4_frames", (s, d) => {
      val frames = Multimodal.decodeMp4Frames(
        Multimodal.packTextMjpegMp4(t(s, d, "documents"), "doc_id", "text"),
        "id", "media")
      val cterm = col("frame_idx") * 80 + pmod(col("id"), lit(5)).cast("int") * 16
      val expectedMean = aggregate(
        sequence(lit(0), lit(255)), lit(0L),
        (acc, i) => acc + shiftright(
          lit(17) * floor(i / 16).cast("int") + lit(17) * pmod(i, lit(16)) + cterm,
          2).cast("long")).cast("double") / 256.0
      frames.withColumn("__exp", expectedMean)
        .groupBy(col("id"))
        .agg(count(lit(1)).cast("long").as("n_frames"),
          min(col("width") === 16 && col("height") === 16 &&
            col("channels") === 1).as("dims_ok"),
          (max(abs(col("mean_luma") - col("__exp"))) < 3.0).as("luma_ok"),
          min(col("time_ms") === col("frame_idx").cast("long") * 40).as("time_ok"),
          min(col("keyframe") === (pmod(col("frame_idx"), lit(3)) === 0)).as("key_ok"))
        .select(col("id").as("doc_id"), col("n_frames"),
          col("dims_ok"), col("luma_ok"), col("time_ok"), col("key_ok"))
    },
      // mp4 frames: same frame synthesis as the AVI gate, plus the
      // sample-table contracts (40 ms uniform timing, every-third sync)
      """
      SELECT doc_id,
             CAST(2 + octet_length(encode(coalesce(text, ''))) % 4 AS BIGINT) AS n_frames,
             true AS dims_ok, true AS luma_ok, true AS time_ok, true AS key_ok
      FROM documents"""),

    // FRAGMENTED MP4 (round 17): the same frames in the streaming
    // layout — empty stbl, trex defaults, moof/tfhd(default-base-is-
    // moof)/tfdt/trun(data-offset + per-sample sizes/flags) per two
    // frames. Same contracts: 40 ms steps, every third GLOBAL frame
    // sync.
    Gate("x_multimodal_mp4_frag", (s, d) => {
      val frames = Multimodal.decodeMp4Frames(
        Multimodal.packTextMjpegFmp4(t(s, d, "documents"), "doc_id", "text"),
        "id", "media")
      val cterm = col("frame_idx") * 80 + pmod(col("id"), lit(5)).cast("int") * 16
      val expectedMean = aggregate(
        sequence(lit(0), lit(255)), lit(0L),
        (acc, i) => acc + shiftright(
          lit(17) * floor(i / 16).cast("int") + lit(17) * pmod(i, lit(16)) + cterm,
          2).cast("long")).cast("double") / 256.0
      frames.withColumn("__exp", expectedMean)
        .groupBy(col("id"))
        .agg(count(lit(1)).cast("long").as("n_frames"),
          min(col("width") === 16 && col("height") === 16 &&
            col("channels") === 1).as("dims_ok"),
          (max(abs(col("mean_luma") - col("__exp"))) < 3.0).as("luma_ok"),
          min(col("time_ms") === col("frame_idx").cast("long") * 40).as("time_ok"),
          min(col("keyframe") === (pmod(col("frame_idx"), lit(3)) === 0)).as("key_ok"))
        .select(col("id").as("doc_id"), col("n_frames"),
          col("dims_ok"), col("luma_ok"), col("time_ok"), col("key_ok"))
    },
      // fragmented mp4: same contracts over the moof/trun walk
      """
      SELECT doc_id,
             CAST(2 + octet_length(encode(coalesce(text, ''))) % 4 AS BIGINT) AS n_frames,
             true AS dims_ok, true AS luma_ok, true AS time_ok, true AS key_ok
      FROM documents"""),

    // Matroska sibling: the same JPEG frames as Cluster SimpleBlocks
    // (two per cluster — absolute time must combine the cluster
    // timestamp with each block's relative offset), keyframes every
    // third frame, and the LAST frame as a BlockGroup whose keyframe
    // signal is the absence of a ReferenceBlock.
    Gate("x_multimodal_mkv_frames", (s, d) => {
      val frames = Multimodal.decodeMkvFrames(
        Multimodal.packTextMjpegMkv(t(s, d, "documents"), "doc_id", "text"),
        "id", "media")
      val cterm = col("frame_idx") * 80 + pmod(col("id"), lit(5)).cast("int") * 16
      val expectedMean = aggregate(
        sequence(lit(0), lit(255)), lit(0L),
        (acc, i) => acc + shiftright(
          lit(17) * floor(i / 16).cast("int") + lit(17) * pmod(i, lit(16)) + cterm,
          2).cast("long")).cast("double") / 256.0
      frames.withColumn("__exp", expectedMean)
        .groupBy(col("id"))
        .agg(count(lit(1)).cast("long").as("n_frames"),
          min(col("width") === 16 && col("height") === 16 &&
            col("channels") === 1).as("dims_ok"),
          (max(abs(col("mean_luma") - col("__exp"))) < 3.0).as("luma_ok"),
          min(col("time_ms") === col("frame_idx").cast("long") * 40).as("time_ok"),
          min(col("keyframe") === (pmod(col("frame_idx"), lit(3)) === 0)).as("key_ok"))
        .select(col("id").as("doc_id"), col("n_frames"),
          col("dims_ok"), col("luma_ok"), col("time_ok"), col("key_ok"))
    },
      // mkv frames: same contracts over the cluster/block walk
      """
      SELECT doc_id,
             CAST(2 + octet_length(encode(coalesce(text, ''))) % 4 AS BIGINT) AS n_frames,
             true AS dims_ok, true AS luma_ok, true AS time_ok, true AS key_ok
      FROM documents"""),

    // Matroska LACING (round 17): six frames in ONE cluster as three
    // SimpleBlocks covering all three lacing modes (Xiph 255-runs,
    // fixed-size over two equal copies, EBML vint+delta). Laced
    // frames share their block's time (0/40/80 by pairs) and keyframe
    // signal (only the Xiph block is key); frame 3 is frame 2's copy
    // so its luma replays frame 2's pattern.
    Gate("x_multimodal_mkv_laced", (s, d) => {
      val frames = Multimodal.decodeMkvFrames(
        Multimodal.packTextMjpegMkvLaced(t(s, d, "documents"), "doc_id", "text"),
        "id", "media")
      val fEff = when(col("frame_idx") === 3, lit(2)).otherwise(col("frame_idx"))
      val cterm = fEff * 80 + pmod(col("id"), lit(5)).cast("int") * 16
      val expectedMean = aggregate(
        sequence(lit(0), lit(255)), lit(0L),
        (acc, i) => acc + shiftright(
          lit(17) * floor(i / 16).cast("int") + lit(17) * pmod(i, lit(16)) + cterm,
          2).cast("long")).cast("double") / 256.0
      frames.withColumn("__exp", expectedMean)
        .groupBy(col("id"))
        .agg(count(lit(1)).cast("long").as("n_frames"),
          min(col("width") === 16 && col("height") === 16 &&
            col("channels") === 1).as("dims_ok"),
          (max(abs(col("mean_luma") - col("__exp"))) < 3.0).as("luma_ok"),
          min(col("time_ms") ===
            floor(col("frame_idx") / 2).cast("long") * 40).as("time_ok"),
          min(col("keyframe") === (col("frame_idx") < 2)).as("key_ok"))
        .select(col("id").as("doc_id"), col("n_frames"),
          col("dims_ok"), col("luma_ok"), col("time_ok"), col("key_ok"))
    },
      // mkv lacing: six frames (three laced blocks), contracts boolean
      """
      SELECT doc_id, CAST(6 AS BIGINT) AS n_frames,
             true AS dims_ok, true AS luma_ok, true AS time_ok, true AS key_ok
      FROM documents"""),

    Gate("x_multimodal_mjpeg_frames", (s, d) => {
      val frames = Multimodal.decodeMjpegFrames(
        Multimodal.packTextMjpegAvi(t(s, d, "documents"), "doc_id", "text"),
        "id", "media")
      val cterm = col("frame_idx") * 80 + pmod(col("id"), lit(5)).cast("int") * 16
      val expectedMean = aggregate(
        sequence(lit(0), lit(255)), lit(0L),
        (acc, i) => acc + shiftright(
          lit(17) * floor(i / 16).cast("int") + lit(17) * pmod(i, lit(16)) + cterm,
          2).cast("long")).cast("double") / 256.0
      frames.withColumn("__exp", expectedMean)
        .groupBy(col("id"))
        .agg(count(lit(1)).cast("long").as("n_frames"),
          min(col("width") === 16 && col("height") === 16 &&
            col("channels") === 1).as("dims_ok"),
          (max(abs(col("mean_luma") - col("__exp"))) < 3.0).as("luma_ok"))
        .select(col("id").as("doc_id"), col("n_frames"),
          col("dims_ok"), col("luma_ok"))
    },
      // MJPEG frame contract: frame counts replay from the text length;
      // the dims and luminance-band verdicts are the booleans the decode
      // must earn on every frame.
      """
      SELECT doc_id,
             CAST(2 + octet_length(encode(coalesce(text, ''))) % 4 AS BIGINT) AS n_frames,
             true AS dims_ok, true AS luma_ok
      FROM documents"""),

    // Perceptual image hash near-dup (DCT pHash → 64-bit signature →
    // the simhash pigeonhole banding): payloads are planted-class
    // PNGs (id mod 10 selects a fixed blocky image), so same-class
    // pairs are byte-identical → hamming 0, and the 10 class images
    // are low-frequency-distinct (all cross-class distances > 3,
    // pinned in PhashSpec for every class pair — id-independent, so
    // the guarantee holds at any scale). The oracle knows the exact
    // pair set from ids alone.
    Gate("x_multimodal_phash", (s, d) =>
      graft.ops.Phash.imageNearDups(
        sharedFixture("classpng", s, d)(
          Multimodal.packClassPng(t(s, d, "documents"), "doc_id", classes = 10)),
        "id", "media", maxDist = 3, bands = 4)
        .withColumn("hamming", col("hamming").cast("long")),
      // pHash near-dup contract: the pair set is the same-class id
      // structure; every pair is an identical payload, so hamming must be
      // exactly 0.
      """
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS BIGINT) AS hamming
      FROM documents a JOIN documents b
        ON a.doc_id < b.doc_id AND a.doc_id % 10 = b.doc_id % 10"""),

    // Audio fingerprint near-dup (Wang-2003-style spectral landmarks
    // through the identical-set-collapse + landmark-join pipeline):
    // clips are 6-frame tone SEQUENCES whose per-frame bin-aligned
    // frequency is (7c+3f) mod 13 steps above 500 Hz for class
    // c = id mod 10 — so each class carries exactly 4 distinct
    // landmarks, same-class pairs share all 4, and the mod-13
    // arithmetic makes classes 6 or 7 apart share exactly 3 (the
    // partial-overlap path, NOT just identical sets). At minMatch=3
    // the full pair set and every n_common value replay from id
    // arithmetic alone; AudioFingerprintSpec pins the id-independent
    // class-overlap table.
    Gate("x_audio_fingerprint", (s, d) =>
      graft.ops.AudioFingerprint.audioNearDups(
        sharedFixture("tonewav", s, d)(
          graft.ops.AudioFingerprint.packToneSequenceWav(
            t(s, d, "documents"), "doc_id")),
        "id", "media", minMatch = 3)
        .withColumnRenamed("a_id", "a_doc").withColumnRenamed("b_id", "b_doc"),
      // fingerprint contract: same class → all 4 landmarks shared; classes
      // 6 or 7 apart → exactly 3 (the mod-13 stride arithmetic);
      // everything else is below minMatch.
      """
      SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
             CAST(CASE WHEN a.doc_id % 10 = b.doc_id % 10 THEN 4 ELSE 3 END AS BIGINT) AS n_common
      FROM documents a JOIN documents b
        ON a.doc_id < b.doc_id
        AND (a.doc_id % 10 = b.doc_id % 10
             OR abs(a.doc_id % 10 - b.doc_id % 10) IN (6, 7))"""),

    // Spectral audio features (from-spec radix-2 FFT over Hann
    // frames): payloads are pure 16-bit PCM tones whose frequency is
    // id-derived AND bin-aligned (multiples of 250 Hz on a
    // 15.625 Hz grid), so the dominant frequency the FFT must find —
    // and the centroid/flatness verdicts — replay from the id alone.
    Gate("x_multimodal_spectral", (s, d) => {
      val tones = graft.ops.Spectral.packSineWav(t(s, d, "documents"), "doc_id")
      val freq = lit(500.0) + pmod(col("id"), lit(16)).cast("double") * 250.0
      graft.ops.Spectral.spectralDf(tones, "id", "media")
        .select(col("id").as("doc_id"),
          (lit(500) + pmod(col("id"), lit(16)).cast("int") * lit(250)).as("freq_hz"),
          col("n_frames").cast("long").as("n_frames"),
          (abs(col("peak_hz") - freq) <= 16.0).as("peak_ok"),
          (abs(col("centroid_hz") - freq) <= 50.0).as("centroid_ok"),
          (col("flatness") < 0.5).as("tonal"))
    },
      // spectral contract: tone frequency and frame count replay from the
      // id; the peak/centroid/flatness verdicts are what the FFT must
      // earn.
      """
      SELECT doc_id, CAST(500 + (doc_id % 16) * 250 AS INTEGER) AS freq_hz,
             CAST(3 AS BIGINT) AS n_frames,
             true AS peak_ok, true AS centroid_ok, true AS tonal
      FROM documents"""),

    // REAL audio path: spec-correct 8-bit PCM WAVs built from each
    // doc's bytes, fully decoded back to samples (AudioPcm), then the
    // classic integer clip features — peak, energy, zero crossings —
    // which the oracle re-derives from the text bytes directly
    // (sample = (byte − 128) · 256; a sign change is b crossing 128).
    Gate("x_multimodal_audio", (s, d) =>
      Multimodal.decodeAudioFeatures(
        Multimodal.packTextWav(t(s, d, "documents"), "doc_id", "text"),
        "id", "media"),
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b)
      SELECT doc_id AS id, 1 AS channels, 8000 AS sample_rate, 8 AS bits,
             CAST(len AS BIGINT) AS n_samples,
             CAST(coalesce(256 * list_max(list_transform(bytes, v -> abs(v - 128))), 0) AS BIGINT) AS peak,
             CAST(coalesce(65536 * list_sum(list_transform(bytes, v -> (v - 128) * (v - 128))), 0) AS BIGINT) AS sum_sq,
             CAST(coalesce(list_sum(list_transform(range(len - 1),
               i -> CASE WHEN (bytes[CAST(i+1 AS INTEGER)] < 128) <> (bytes[CAST(i+2 AS INTEGER)] < 128)
                         THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
      FROM e"""),

    // COMPRESSED audio path: the SAME sample values as
    // x_multimodal_audio ((byte−128)·256, mono) but carried in real
    // from-spec FLAC streams (fixed prediction + Rice residuals,
    // per-frame CRC-8/CRC-16, STREAMINFO MD5 of the raw samples;
    // block size 256 so typical docs span several frames). The oracle
    // replays every feature from the text bytes — FLAC is lossless,
    // so one wrong sample anywhere in encode OR decode (prediction,
    // Rice, channel, CRC, MD5 layers) hash-mismatches. Decode rides
    // the AudioPcm.decodeAny dispatch the fingerprint/spectral ops
    // share, so this gate also certifies their compressed-input path.
    Gate("x_multimodal_flac", (s, d) =>
      Multimodal.decodeAudioFeatures(
        Multimodal.packTextFlac(t(s, d, "documents"), "doc_id", "text"),
        "id", "media"),
      // identical derivation to x_multimodal_audio (FLAC is lossless —
      // the decoded samples are bit-equal to the WAV path's), except the
      // stream carries 16-bit samples
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b)
      SELECT doc_id AS id, 1 AS channels, 8000 AS sample_rate, 16 AS bits,
             CAST(len AS BIGINT) AS n_samples,
             CAST(coalesce(256 * list_max(list_transform(bytes, v -> abs(v - 128))), 0) AS BIGINT) AS peak,
             CAST(coalesce(65536 * list_sum(list_transform(bytes, v -> (v - 128) * (v - 128))), 0) AS BIGINT) AS sum_sq,
             CAST(coalesce(list_sum(list_transform(range(len - 1),
               i -> CASE WHEN (bytes[CAST(i+1 AS INTEGER)] < 128) <> (bytes[CAST(i+2 AS INTEGER)] < 128)
                         THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
      FROM e"""),

    // Ogg container rung (metadata tier, the MKV trick for audio):
    // real RFC 3533 pages with VERIFIED CRC-32s carrying a
    // spec-correct Vorbis identification header; channels, rate and
    // the granule-position duration derive arithmetically from the
    // text length and the container overhead is the fixed
    // 86 + ⌊len/255⌋ bytes, so the oracle replays every field from
    // octet_length(text) alone. Also certifies the decodeAudioMeta
    // content-sniff ladder (RIFF/WAVE → FLAC STREAMINFO → Ogg).
    Gate("x_multimodal_ogg_meta", (s, d) =>
      Multimodal.decodeAudioMeta(
        Multimodal.packTextOggVorbis(t(s, d, "documents"), "doc_id", "text"),
        "id", "media"),
      // Ogg metadata contract: container overhead is the packer's fixed
      // 86 + ⌊len/255⌋ bytes (58-byte id page + 27-byte data-page header
      // + one lacing byte per started 255-byte segment), channels/rate
      // are the declared len-derived functions, and duration is the
      // granule count 16·len over the rate in integer ms (floor division
      // on both engines)
      """
      WITH b AS (
        SELECT doc_id, least(octet_length(encode(coalesce(text, ''))), 65025) AS len
        FROM documents)
      SELECT doc_id AS id,
             CAST(86 + len + len // 255 AS BIGINT) AS byte_len,
             'audio/ogg' AS mime_detected,
             CAST(1 + len % 2 AS INTEGER) AS channels,
             CAST(8000 * (1 + len % 3) AS INTEGER) AS sample_rate,
             CAST((len * 16 * 1000) // (8000 * (1 + len % 3)) AS BIGINT) AS duration_ms
      FROM b"""),

    // MPEG-audio frame-sequence rung (metadata tier, the Ogg trick
    // for MP3 — the most common audio wire format in scraped
    // corpora): real MPEG-1 Layer III CBR streams with an ID3v2 tag
    // (syncsafe size, the skip path is load-bearing), per-frame
    // VERIFIED ISO 11172-3 CRC-16s over header tail + side-info
    // span, and a conditional ID3v1 trailer; rate and channel mode
    // derive from the text length and the frame geometry is the
    // spec's ⌊144·br/sr⌋, so the oracle replays byte_len / channels /
    // rate / frame-count-exact duration from octet_length(text)
    // alone. Also certifies the decodeAudioMeta sniff ladder's
    // fourth rung (RIFF/WAVE → FLAC → Ogg → MPEG).
    Gate("x_multimodal_mp3_meta", (s, d) =>
      Multimodal.decodeAudioMeta(
        Multimodal.packTextMp3(t(s, d, "documents"), "doc_id", "text"),
        "id", "media"),
      // MP3 metadata contract: the packer's fixed geometry — ID3v2 tag
      // of 10 + len%7 bytes, ⌊144·128000/rate⌋-byte frames each holding
      // frame_len − 6 data bytes, conditional 128-byte ID3v1 trailer —
      // with rate/channels the declared len-derived functions and
      // duration the exact per-frame sample sum (floor division on
      // both engines)
      """
      WITH b AS (
        SELECT doc_id, least(octet_length(encode(coalesce(text, ''))), 65536) AS len
        FROM documents),
      g AS (
        SELECT doc_id, len,
               CASE len % 3 WHEN 0 THEN 32000 WHEN 1 THEN 44100 ELSE 48000 END AS rate
        FROM b),
      h AS (
        SELECT doc_id, len, rate, 144 * 128000 // rate AS frame_len FROM g),
      i AS (
        SELECT doc_id, len, rate, frame_len,
               GREATEST(1, (len + frame_len - 7) // (frame_len - 6)) AS n_frames
        FROM h)
      SELECT doc_id AS id,
             CAST(10 + len % 7 + n_frames * frame_len +
                  CASE WHEN len % 5 = 0 THEN 128 ELSE 0 END AS BIGINT) AS byte_len,
             'audio/mpeg' AS mime_detected,
             CAST(CASE WHEN len % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS channels,
             CAST(rate AS INTEGER) AS sample_rate,
             CAST((n_frames * 1152 * 1000) // rate AS BIGINT) AS duration_ms
      FROM i"""),

    // Zstandard rung (RFC 8878): payloads are compressed by zstd-jni
    // — the reference C implementation, an independent codebase (the
    // BMP/GIF ImageIO discipline) — at per-doc levels 1/3/19, with
    // content checksums on; the from-spec ZstdCodec must reproduce
    // the exact original bytes (n_bytes + md5 over the decoded
    // output), which the oracle replays from the text column alone.
    // One wrong byte anywhere in the FSE/Huffman/sequence machinery
    // hash-mismatches.
    Gate("x_multimodal_zstd", (s, d) =>
      Multimodal.decodeZstdText(
        Multimodal.packTextZstd(t(s, d, "documents"), "doc_id", "text"),
        "id", "media")
        .select(col("id"), col("decoded"), col("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest")),
      // zstd contract: decode must reproduce the document's exact
      // UTF-8 bytes — length and md5 replay from the text column
      """
      SELECT doc_id AS id, true AS decoded,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // zstd DICTIONARY frames (round 15 continuation): each text
    // compressed by the reference zstd (zstd-jni) at level 19
    // against a raw-content dictionary cut from the text's own
    // prefix — the encoder leans hard on dictionary-window matches,
    // so the byte-exact round trip pins prefix reach, repeat offsets
    // into the prefix, and the frame floor. Trained STRUCTURED
    // dictionaries (entropy seeding, id matching, wrong-dict
    // refusal) are pinned in ZstdCodecSpec.
    Gate("x_zstd_dict", (s, d) =>
      graft.ops.ZstdCodec.decodeDictText(
        graft.ops.ZstdCodec.packTextZstdDict(t(s, d, "documents"), "doc_id", "text"),
        "id", "payload", "dict")
        .select(col("id"), col("decoded"), col("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest")),
      // zstd dictionary frames: the same byte-exact identity through
      // the dictionary-window decode
      """
      SELECT doc_id AS id, true AS decoded,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // xz rung: the LZMA2 format release tarballs and HF shards ship
    // in — XZ for Java encodes at presets 0/6/9 with the check type
    // cycling CRC32/CRC64/SHA-256 by id; the from-spec range-coder
    // stack decodes with every container CRC and the per-block
    // integrity check verified. Byte-exact by length + md5.
    Gate("x_multimodal_xz", (s, d) =>
      graft.ops.XzCodec.decodeXzText(
        graft.ops.XzCodec.packTextXz(t(s, d, "documents"), "doc_id", "text"))
        .select(col("id"), col("decoded"), col("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest")),
      // xz contract: same decoded-byte identity
      """
      SELECT doc_id AS id, true AS decoded,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // .lzma rung (round 13): the legacy ALONE format that predates
    // the xz container — old release tarballs and 7-Zip exports
    // still carry it. XZ for Java's LZMAOutputStream encodes (even
    // ids the known-size header, odd the unknown-size form whose
    // end-of-stream marker terminates); the same from-spec LZMA core
    // decodes through the alone header/termination discipline.
    Gate("x_multimodal_lzma", (s, d) =>
      graft.ops.XzCodec.decodeLzmaText(
        graft.ops.XzCodec.packTextLzma(t(s, d, "documents"), "doc_id", "text"))
        .select(col("id"), col("decoded"), col("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest")),
      // lzma-alone contract: same decoded-byte identity
      """
      SELECT doc_id AS id, true AS decoded,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // Vorbis rung (round 14): the web's dominant free compressed
    // audio, decoded by the from-spec Vorbis I stack (Ogg packet
    // demux with page CRCs, codebook huffman + VQ, floor1 curve
    // synthesis, residue-2 cascade, IMDCT, window lapping, granule
    // truncation). Fixtures come from the in-repo spec-legal encoder
    // (the Mkv/Pdf discipline — no Vorbis implementation exists on
    // this classpath; VorbisSpec pins decoder PCM against an
    // INDEPENDENT closed-form IMDCT). The verdict surface: stream
    // facts and the dominant spectral BAND of a steady 256-sample
    // window — the planted MDCT bin k=(id%13)·8+3 keeps both leakage
    // bins k,k+1 inside band id%13, so dominance is exact, not
    // tolerance-tuned.
    Gate("x_multimodal_vorbis", (s, d) => {
      import s.implicits._
      // fan out before the per-doc encode+decode+DFT kernel: the
      // documents scan is one split at small SFs and the kernel is
      // the gate's cost, not the scan
      graft.ops.Vorbis.packTonesOgg(docs(s, d), "doc_id")
        .as[(Long, Array[Byte])]
        .map { case (id, payload) =>
          graft.ops.AudioPcm.decodeAny(payload) match {
            case Some(clip) if clip.samples.length >= 320 =>
              val seg = clip.samples.slice(64, 320).map(_.toDouble)
              val bp = new Array[Double](16)
              var bin = 1
              while (bin < 128) {
                var re = 0.0
                var im = 0.0
                var t = 0
                while (t < seg.length) {
                  val ph = 2 * math.Pi * bin * t / 256.0
                  re += seg(t) * math.cos(ph)
                  im -= seg(t) * math.sin(ph)
                  t += 1
                }
                bp(bin / 8) += re * re + im * im
                bin += 1
              }
              (id, true, clip.channels, clip.sampleRate,
                clip.samples.length.toLong, bp.indexOf(bp.max))
            case _ => (id, false, 0, 0, 0L, -1)
          }
        }
        .toDF("doc_id", "ok", "channels", "sample_rate", "n_samples", "band")
    },
      // vorbis contract: stream facts + the granule-truncated sample
      // count + the planted dominant band, all id arithmetic
      """
      SELECT doc_id, true AS ok, 1 AS channels,
             CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
             CAST((3 + doc_id % 3) * 128 - doc_id % 5 AS BIGINT) AS n_samples,
             CAST(doc_id % 13 AS INTEGER) AS band
      FROM documents"""),

    // bzip2 rung: the block-sorting format Wikipedia dumps ship in,
    // commons-compress encoded at block sizes 1/5/9 by id CAPPED at
    // input size (sub-100 kB docs all get level-1 headers; Bzip2Spec
    // pins from-spec decoding of 5/9-declared streams), decoded by
    // the from-spec BWT/MTF/Huffman stack with every block CRC and
    // the combined stream CRC verified — byte-exact by length + md5.
    Gate("x_multimodal_bzip2", (s, d) =>
      graft.ops.Bzip2Codec.decodeBzip2Text(
        graft.ops.Bzip2Codec.packTextBzip2(t(s, d, "documents"), "doc_id", "text"))
        .select(col("id"), col("decoded"), col("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest")),
      // bzip2 contract: same decoded-byte identity
      """
      SELECT doc_id AS id, true AS decoded,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // snappy/lz4 rung: the parquet- and shuffle-codec block formats,
    // reference-library compressed (snappy-java even ids; lz4-java
    // fast/high odd ids), decoded by the from-spec block walkers —
    // byte-exact by length + md5, codec label replayed from id.
    Gate("x_multimodal_short", (s, d) =>
      graft.ops.ShortCodecs.decodeShortText(
        graft.ops.ShortCodecs.packTextShort(t(s, d, "documents"), "doc_id", "text"))
        .select(col("id"), col("codec"), col("decoded"), col("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest")),
      // snappy/lz4 contract: same decoded-byte identity, codec by id
      """
      SELECT doc_id AS id,
             CASE WHEN doc_id % 2 = 0 THEN 'snappy' ELSE 'lz4' END AS codec,
             true AS decoded,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // framed stream layers (round 14): snappy framing (even ids) and
    // LZ4 frames (odd) written by the INDEPENDENT reference stream
    // writers (snappy-java / lz4-java), sniffed — not trusted from a
    // column — and decoded by the from-spec frame walks with every
    // checksum verified; byte-exact by length + md5.
    Gate("x_multimodal_framed", (s, d) =>
      graft.ops.ShortCodecs.decodeFramedText(
        graft.ops.ShortCodecs.packTextFramed(t(s, d, "documents"), "doc_id", "text"))
        .select(col("id"), col("codec"), col("decoded"), col("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest")),
      // framed-layer contract: same decoded-byte identity, codec by
      // parity re-derived through sniff
      """
      SELECT doc_id AS id,
             CASE WHEN doc_id % 2 = 0 THEN 'snappy-framed' ELSE 'lz4-framed' END AS codec,
             true AS decoded,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // gzip rung (RFC 1952): the x_multimodal_zstd contract with the
    // JDK's zlib as the independent encoder — levels 1/6/9 plus a
    // HUFFMAN_ONLY stratum, CRC-32 + ISIZE verified by the from-spec
    // decoder, byte-exact text round-trip proven by length + md5.
    Gate("x_multimodal_gzip", (s, d) =>
      Multimodal.decodeGzipText(
        Multimodal.packTextGzip(t(s, d, "documents"), "doc_id", "text"),
        "id", "media")
        .select(col("id"), col("decoded"), col("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest")),
      // gzip contract: identical shape — the compressed wire format
      // differs, the decoded bytes must not
      """
      SELECT doc_id AS id, true AS decoded,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // brotli rung (RFC 7932, round 13): the remaining major HTTP
    // content-encoding. No independent JVM encoder exists on the
    // classpath (unlike zstd-jni/XZ), so the payloads come from the
    // in-repo conforming stream builder — compressed flat-literal
    // framing for even ids, uncompressed meta-blocks for odd — and
    // the INDEPENDENCE pin lives in BrotliSpec: the reference C
    // implementation's own streams across qualities 0-11 (static
    // dictionary + word transforms included) must decode
    // byte-exactly, and the builder framings used here are
    // md5-pinned to the exact bytes verified against that reference.
    Gate("x_multimodal_brotli", (s, d) =>
      graft.ops.Brotli.decodeBrotliText(
        graft.ops.Brotli.packTextBrotli(t(s, d, "documents"), "doc_id", "text"),
        "id", "media")
        .select(col("id"), col("decoded"), col("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest")),
      // brotli contract: same decoded-byte identity
      """
      SELECT doc_id AS id, true AS decoded,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // zip ingest: documents sharded into 32 archives — even buckets
    // stored by our writer, odd buckets DEFLATEd by the JDK's
    // independent zip writer — re-read through the central-directory
    // walk with every member CRC-32 verified; names/methods/sizes/
    // digests all replay from corpus columns.
    Gate("x_zip_members", (s, d) =>
      graft.ops.Zip.members(
        graft.ops.Zip.packDocsZip(t(s, d, "documents"), "doc_id", "text"),
        "file_id", "payload")
        .select(col("file_id").cast("long").as("file_id"), col("name"),
          col("method").cast("long").as("method"), col("size"),
          md5(col("data")).as("digest")),
      // zip member table re-derived: stored vs deflate by bucket parity
      """
      SELECT doc_id % 32 AS file_id, 'doc/' || doc_id || '.txt' AS name,
             CAST(CASE WHEN (doc_id % 32) % 2 = 0 THEN 0 ELSE 8 END AS BIGINT) AS method,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS size,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // Avro ingest (verdict r10 #6): documents sharded into 32 object
    // container files cycling ALL FOUR write codecs by bucket (null /
    // deflate / snappy / zstandard), decoded back through the
    // from-spec container walk + binary datum decoder with sync
    // markers verified per block; every field, the codec choice, and
    // the text bytes replay from corpus columns. The Apache reference
    // library cross-pin (both directions, all six read codecs) lives
    // in AvroSpec.
    Gate("x_avro_roundtrip", (s, d) =>
      graft.ops.Avro.unpackDocsAvro(
        graft.ops.Avro.packDocsAvro(t(s, d, "documents"),
          "doc_id", "source", "lang", "text"))
        .select(col("doc_id"), col("codec"), col("source"), col("lang"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          md5(col("text")).as("digest")),
      // avro contract: codec cycles with the shard bucket (doc_id%32)%4
      // in the packer's declared order; fields and text bytes replay
      // from corpus columns directly
      """
      SELECT doc_id,
             CASE (doc_id % 32) % 4 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
                  WHEN 2 THEN 'snappy' ELSE 'zstandard' END AS codec,
             coalesce(source, '') AS source, coalesce(lang, '') AS lang,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // TFRecord ingest (round 12): documents sharded into 8 real
    // TFRecord files of tf.train.Example records — masked-CRC-32C
    // framing verified per record, protobuf wire walk, with even
    // shards writing the packed repeated-scalar form and odd shards
    // the unpacked per-element form (both decoder paths
    // load-bearing). The long-format source rows pivot back to one
    // row per record; every field and the per-shard record order
    // replay from corpus columns. The JDK CRC32C cross-pin and the
    // hostile-bytes ladder live in TfRecordSpec.
    Gate("x_tfrecord_docs", (s, d) => {
      val packed = graft.ops.TfRecord.packDocsTfr(
        t(s, d, "documents"), "doc_id", "source", "lang", "text")
      graft.ops.TfRecord.rows(packed, "file_id", "payload")
        .groupBy(col("file_id"), col("rec_index"))
        .agg(
          max(when(col("feature") === "doc_id", element_at(col("ints"), 1))).as("doc_id"),
          max(when(col("feature") === "source", col("text"))).as("source"),
          max(when(col("feature") === "lang", col("text"))).as("lang"),
          max(when(col("feature") === "text", col("text"))).as("text"))
        .select(col("doc_id"), col("rec_index").as("seq"),
          col("source"), col("lang"), col("text"))
    },
      // tfrecord contract: per-shard record order is id order within
      // the doc_id % 8 bucket; fields replay from corpus columns
      """
      WITH ranked AS (
        SELECT doc_id, coalesce(source, '') AS source, coalesce(lang, '') AS lang,
               coalesce(text, '') AS text,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1
                    AS INTEGER) AS seq
        FROM documents)
      SELECT doc_id, seq, source, lang, text FROM ranked"""),

    // TFRecord float path (round 12): the embeddings table through
    // FloatList Examples — every float replays through the same
    // exact-IEEE floor(v * 2^30) serialization as x_safetensors, so
    // one wrong bit anywhere in the fixed32 little-endian wire
    // layout hash-mismatches.
    Gate("x_tfrecord_embed", (s, d) => {
      val packed = graft.ops.TfRecord.packVecsTfr(
        t(s, d, "embeddings"), "vec_id", "embedding")
      graft.ops.TfRecord.rows(packed, "file_id", "payload")
        .groupBy(col("file_id"), col("rec_index"))
        .agg(
          max(when(col("feature") === "vec_id", element_at(col("ints"), 1))).as("vec_id"),
          max(when(col("feature") === "embedding", size(col("floats"))))
            .cast("long").as("dim"),
          max(when(col("feature") === "embedding",
            array_join(transform(col("floats"),
              v => floor(v.cast("double") * lit(1073741824.0d)).cast("long").cast("string")),
              ","))).as("values"))
        .select(col("vec_id"), col("dim"), col("values"))
    },
      // tfrecord float contract: the x_npz serialization over the
      // fixed32 wire layout
      """
      SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
             array_to_string(list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1073741824) AS BIGINT)), ',') AS values
      FROM embeddings WHERE embedding IS NOT NULL"""),

    // Bilinear resize (round 12): the standard vision-preprocessing
    // filter in EXACT integer arithmetic (half-pixel centers, edge
    // clamp, half-up rounding — no floating point anywhere), so the
    // oracle re-derives all 16 output pixels of a 2×2 → 4×4 upscale
    // from the planted corners with its own copy of the quarter-unit
    // weight table.
    Gate("x_image_bilinear", (s, d) => {
      import s.implicits._
      t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          val p = Array((id % 256).toByte, ((id + 37) % 256).toByte,
            ((id + 91) % 256).toByte, ((id + 160) % 256).toByte)
          val img = graft.ops.PngCodec.decode(
            graft.ops.PngCodec.encode(graft.ops.PngCodec.Image(2, 2, 1, p))).get
          val r = graft.ops.PngCodec.resizeBilinear(img, 4, 4)
          for (y <- 0 until 4; x <- 0 until 4)
            yield (id, x, y, r.pixels(y * 4 + x) & 0xFF)
        }
        .toDF("doc_id", "x", "y", "px")
    },
      // bilinear contract: the oracle's own quarter-unit weight table
      // over the four planted corners, integer-divided exactly as the
      // kernel rounds
      """
      WITH g AS (SELECT doc_id, doc_id % 256 AS a, (doc_id + 37) % 256 AS b,
                        (doc_id + 91) % 256 AS c, (doc_id + 160) % 256 AS dd
                 FROM documents),
      w AS (SELECT wx.x, wx.qx0, wy.y, wy.qy0
            FROM (VALUES (0, 4), (1, 3), (2, 1), (3, 0)) wx(x, qx0),
                 (VALUES (0, 4), (1, 3), (2, 1), (3, 0)) wy(y, qy0))
      SELECT doc_id, x, y,
             CAST((qx0 * qy0 * a + (4 - qx0) * qy0 * b +
                   qx0 * (4 - qy0) * c + (4 - qx0) * (4 - qy0) * dd + 8) // 16
                  AS INTEGER) AS px
      FROM g, w"""),

    // CBOR (round 12): the third wire-protocol family (RFC 8949,
    // beside Avro's schema'd binary and protobuf's tagged wire) —
    // one CBOR document per row from id arithmetic, definite and
    // indefinite strings/containers alternating by id parity, the
    // float width cycling through half/single/double, a tagged item
    // for major type 6; every flattened (path, kind, value) row
    // replays. The RFC Appendix A vector table is pinned in CborSpec.
    Gate("x_cbor_decode", (s, d) => {
      val packed = graft.ops.Cbor.packDocsCbor(t(s, d, "documents"), "doc_id")
      graft.ops.Cbor.rows(packed, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("path"), col("kind"), col("value"))
    },
      // cbor contract: the flattened document is pure id arithmetic
      """
      WITH d AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL)
      SELECT doc_id, '$' AS path, 'map' AS kind, '7' AS value FROM d
      UNION ALL SELECT doc_id, '$.i', 'uint', CAST(doc_id AS VARCHAR) FROM d
      UNION ALL SELECT doc_id, '$.n', 'nint', CAST(-(doc_id % 100) - 1 AS VARCHAR) FROM d
      UNION ALL SELECT doc_id, '$.t', 'text', 'doc' || doc_id FROM d
      UNION ALL SELECT doc_id, '$.b', 'bytes',
        printf('%02x%02x', doc_id % 256, (doc_id * 7) % 256) FROM d
      UNION ALL SELECT doc_id, '$.f',
        CASE doc_id % 3 WHEN 0 THEN 'f16' WHEN 1 THEN 'f32' ELSE 'f64' END,
        CASE doc_id % 3 WHEN 0 THEN '1.5' WHEN 1 THEN '0.25' ELSE '2.5' END FROM d
      UNION ALL SELECT doc_id, '$.a', 'array', '3' FROM d
      UNION ALL SELECT doc_id, '$.a[0]', 'simple', 'true' FROM d
      UNION ALL SELECT doc_id, '$.a[1]', 'simple', 'null' FROM d
      UNION ALL SELECT doc_id, '$.a[2]', 'uint', CAST(doc_id % 5 AS VARCHAR) FROM d
      UNION ALL SELECT doc_id, '$.g', 'tag', '42' FROM d
      UNION ALL SELECT doc_id, '$.g!', 'text', 't' || doc_id FROM d"""),

    // MessagePack (round 12): CBOR's sibling binary-JSON wire format
    // (Redis dumps, Fluentd logs) — the long string on odd ids
    // forces str8 beside fixstr, the float width cycles, and a
    // fixext4 covers the ext family; every flattened row replays.
    Gate("x_msgpack_decode", (s, d) => {
      val packed = graft.ops.MsgPack.packDocsMsgPack(t(s, d, "documents"), "doc_id")
      graft.ops.MsgPack.rows(packed, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("path"), col("kind"), col("value"))
    },
      // msgpack contract: the flattened document is pure id arithmetic
      """
      WITH d AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL)
      SELECT doc_id, '$' AS path, 'map' AS kind, '7' AS value FROM d
      UNION ALL SELECT doc_id, '$.i', 'uint', CAST(doc_id AS VARCHAR) FROM d
      UNION ALL SELECT doc_id, '$.n', 'int', CAST(-(doc_id % 100) - 1 AS VARCHAR) FROM d
      UNION ALL SELECT doc_id, '$.t', 'str',
        'doc' || doc_id || CASE WHEN doc_id % 2 = 0 THEN '' ELSE repeat('x', 32) END FROM d
      UNION ALL SELECT doc_id, '$.b', 'bin',
        printf('%02x%02x', doc_id % 256, (doc_id * 7) % 256) FROM d
      UNION ALL SELECT doc_id, '$.f',
        CASE WHEN doc_id % 3 = 0 THEN 'f32' ELSE 'f64' END,
        CASE WHEN doc_id % 3 = 0 THEN '0.25' ELSE '2.5' END FROM d
      UNION ALL SELECT doc_id, '$.a', 'array', '3' FROM d
      UNION ALL SELECT doc_id, '$.a[0]', 'bool', 'true' FROM d
      UNION ALL SELECT doc_id, '$.a[1]', 'nil', 'nil' FROM d
      UNION ALL SELECT doc_id, '$.a[2]', 'uint', CAST(doc_id % 5 AS VARCHAR) FROM d
      UNION ALL SELECT doc_id, '$.e', 'ext',
        '7:' || printf('%02x%02x%02x%02x', doc_id % 256, (doc_id * 3) % 256,
                       (doc_id * 5) % 256, (doc_id * 11) % 256) FROM d"""),

    // Compression-ratio signal (round 12): the deflate entropy proxy
    // over two planted extremes — 1000 chars of repeated phrase
    // (template spam shape, ratio far below 0.3) vs 800 chars of
    // xorshift-derived printable noise (encoded-junk shape, far
    // above 0.6). The ratio itself is implementation-defined (a
    // deflate length), so the gate's contract is the BUCKET — wide
    // margins on both sides — while determinism, bounds, and
    // monotonicity are pinned exactly in the spec.
    Gate("x_compression_ratio", (s, d) => {
      val packed = {
        import s.implicits._
        docs(s, d).select(col("doc_id").cast("long")).as[Long]
          .mapPartitions(_.map { id =>
            val text = if (id % 2 == 0) "tokenize the corpus " * 50
            else {
              val b = new StringBuilder(800)
              var st = id * 2654435761L + 1
              (1 to 800).foreach { _ =>
                st ^= st << 13; st ^= st >>> 7; st ^= st << 17
                b.append((33 + java.lang.Math.floorMod(st, 94L)).toChar)
              }
              b.toString
            }
            (id, text)
          })
          .toDF("doc_id", "text")
      }
      packed.select(col("doc_id"),
        when(TextAnalysis.compressionRatio(col("text")) < 0.3, "repetitive")
          .when(TextAnalysis.compressionRatio(col("text")) > 0.6, "dense")
          .otherwise("mid").as("entropy_class"))
    },
      // compression-ratio contract: bucket by the planted extreme
      """
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'repetitive' ELSE 'dense' END AS entropy_class
      FROM documents"""),

    // EXIF orientation application (round 12): the pixel transform
    // every image pipeline runs right after reading the tag (and
    // must run BEFORE pHash/dedup, or the same photo in portrait and
    // landscape hashes apart). A 5×3 asymmetric gray PNG (lossless,
    // so pixels are exact) with px(x,y) = (id + 3x + 7y) % 256 goes
    // through all eight orientations by id%8+1; output dims and
    // three corner samples replay through the oracle's own copy of
    // the dest→src maps. The full 8-way pixel maps are pinned in
    // ExifSpec.
    Gate("x_exif_orient", (s, d) => {
      val packed = {
        import s.implicits._
        t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
          .mapPartitions(_.map { id =>
            val w = 5; val h = 3
            val px = new Array[Byte](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { px(y * w + x) = ((id + 3 * x + 7 * y) % 256).toByte; x += 1 }
              y += 1
            }
            val img = graft.ops.PngCodec.decode(
              graft.ops.PngCodec.encode(graft.ops.PngCodec.Image(w, h, 1, px))).get
            val o = (id % 8 + 1).toInt
            val r = graft.ops.Exif.applyOrientation(img, o)
            def p(x: Int, y: Int) = r.pixels(y * r.width + x) & 0xFF
            (id, o, r.width, r.height,
              p(0, 0), p(r.width - 1, 0), p(0, r.height - 1))
          })
          .toDF("doc_id", "orientation", "w", "h", "p00", "pw0", "p0h")
      }
      packed
    },
      // orientation contract: the oracle carries its own copy of the
      // eight dest→src corner maps as 3*sx + 7*sy constants over the
      // 5×3 plant
      """
      WITH o AS (SELECT doc_id, CAST(doc_id % 8 + 1 AS INTEGER) AS orientation
                 FROM documents)
      SELECT doc_id, orientation,
        CAST(CASE WHEN orientation >= 5 THEN 3 ELSE 5 END AS INTEGER) AS w,
        CAST(CASE WHEN orientation >= 5 THEN 5 ELSE 3 END AS INTEGER) AS h,
        CAST((doc_id + CASE orientation WHEN 1 THEN 0 WHEN 2 THEN 12 WHEN 3 THEN 26
              WHEN 4 THEN 14 WHEN 5 THEN 0 WHEN 6 THEN 14 WHEN 7 THEN 26
              ELSE 12 END) % 256 AS INTEGER) AS p00,
        CAST((doc_id + CASE orientation WHEN 1 THEN 12 WHEN 2 THEN 0 WHEN 3 THEN 14
              WHEN 4 THEN 26 WHEN 5 THEN 14 WHEN 6 THEN 0 WHEN 7 THEN 12
              ELSE 26 END) % 256 AS INTEGER) AS pw0,
        CAST((doc_id + CASE orientation WHEN 1 THEN 14 WHEN 2 THEN 26 WHEN 3 THEN 12
              WHEN 4 THEN 0 WHEN 5 THEN 12 WHEN 6 THEN 26 WHEN 7 THEN 14
              ELSE 0 END) % 256 AS INTEGER) AS p0h
      FROM o"""),

    // Format sniffing (round 12): the magic-byte dispatcher a mixed
    // corpus scan runs first — id%16 cycles sixteen planted format
    // prefixes (including the three RIFF siblings, which must
    // disambiguate on the form tag, and tar's offset-257 signature)
    // and the label replays from id arithmetic. Real-artifact sniffs
    // (the repo's own packers' outputs) are pinned in SniffSpec.
    Gate("x_sniff_formats", (s, d) => {
      val packed = {
        import s.implicits._
        t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
          .mapPartitions(_.map { id =>
            def a(s: String) = s.getBytes("US-ASCII")
            val bytes: Array[Byte] = (id % 16) match {
              case 0 => Array[Byte](0x89.toByte) ++ a("PNG\r\n") ++ Array[Byte](0x1A, 0x0A)
              case 1 => Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)
              case 2 => a("GIF89a")
              case 3 => a("BM") ++ new Array[Byte](12)
              case 4 => a("RIFF") ++ new Array[Byte](4) ++ a("WEBP")
              case 5 => a("RIFF") ++ new Array[Byte](4) ++ a("WAVE")
              case 6 => a("RIFF") ++ new Array[Byte](4) ++ a("AVI ")
              case 7 => a("II") ++ Array[Byte](42, 0)
              case 8 => a("fLaC")
              case 9 => Array[Byte](0x1F, 0x8B.toByte)
              case 10 => Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte)
              case 11 => a("PK") ++ Array[Byte](3, 4)
              case 12 => new Array[Byte](257) ++ a("ustar")
              case 13 => a("WARC/1.0\r\n")
              case 14 => a("%PDF-1.7\n")
              case _ => a(s"hello document $id")
            }
            (id, bytes)
          })
          .toDF("doc_id", "payload")
      }
      graft.ops.Sniff.formats(packed, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("format"))
    },
      """
      SELECT doc_id,
             CASE doc_id % 16
               WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
               WHEN 3 THEN 'bmp' WHEN 4 THEN 'webp' WHEN 5 THEN 'wav'
               WHEN 6 THEN 'avi' WHEN 7 THEN 'tiff' WHEN 8 THEN 'flac'
               WHEN 9 THEN 'gzip' WHEN 10 THEN 'zstd' WHEN 11 THEN 'zip'
               WHEN 12 THEN 'tar' WHEN 13 THEN 'warc' WHEN 14 THEN 'pdf'
               ELSE 'text'
             END AS format
      FROM documents"""),

    // Universal decode (round 13): the Sniff dispatcher COMPOSED with
    // the codec ladder over a deliberately mixed-format corpus — the
    // "extensionless object-store dump" seam. Nine payload classes by
    // id: plain text, each single compression wrapper
    // (gzip/zstd/xz/bzip2, all INDEPENDENT encoders: JDK zlib,
    // zstd-jni, XZ for Java, commons-compress), a ZIP with a text
    // member and a directory entry, a real PDF (both writer layouts
    // by id), NESTED wrappers zstd-inside-gzip proving the re-sniff
    // loop, and a real PNG with no text surface. Chain, verdict, and
    // text all replay from corpus columns.
    Gate("x_decode_any", (s, d) => {
      val packed = {
        import s.implicits._
        // per-row gzip/zstd/xz/… encodes: fan the 1-split scan out so
        // the pack uses the machine (no-op at real volumes)
        graft.ops.Partitioning.fanOut(t(s, d, "documents"))
          .select(col("doc_id").cast("long"),
            concat(lit("doc "), col("doc_id"), lit(": "),
              coalesce(col("text"), lit(""))).as("__t"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            def gz(b: Array[Byte]): Array[Byte] = {
              val bos = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(bos)
              g.write(b); g.close(); bos.toByteArray
            }
            def zst(b: Array[Byte]): Array[Byte] = {
              val ctx = new com.github.luben.zstd.ZstdCompressCtx()
              try ctx.setLevel(3).compress(b) finally ctx.close()
            }
            val payload: Array[Byte] = (id % 10) match {
              case 0 => bytes
              case 1 => gz(bytes)
              case 2 => zst(bytes)
              case 3 =>
                val opts = new org.tukaani.xz.LZMA2Options(0)
                val bos = new java.io.ByteArrayOutputStream()
                val z = new org.tukaani.xz.XZOutputStream(bos, opts)
                z.write(bytes); z.close(); bos.toByteArray
              case 4 =>
                val bos = new java.io.ByteArrayOutputStream()
                val z = new org.apache.commons.compress.compressors.bzip2
                  .BZip2CompressorOutputStream(bos, 1)
                z.write(bytes); z.close(); bos.toByteArray
              case 5 => graft.ops.Zip.zipOf(Seq(
                "dir/" -> Array.emptyByteArray, "doc.txt" -> bytes))
              case 6 =>
                // id%10==6 forces id even, so the layout bit must come
                // from a digit that VARIES within the class: both
                // writer layouts (classic xref vs 1.5 xref-stream)
                // alternate by the tens digit
                if ((id / 10) % 2 == 0) graft.ops.Pdf.pdfOf(text, flate = true)
                else graft.ops.Pdf.pdfOf15(text, flate = true)
              case 7 => gz(zst(bytes))
              case 8 => graft.ops.PngCodec.encode(graft.ops.PngCodec.Image(
                1, 1, 1, Array((id % 256).toByte)))
              case _ => gz(graft.ops.Tar.tarOf(Seq("doc.txt" -> bytes)))
            }
            (id, payload)
          })
          .toDF("doc_id", "payload")
      }
      graft.ops.DecodeAny.decode(packed, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("chain"), col("ok"), col("text"))
    },
      // sniff contract: the label is pure id arithmetic
      // universal decode: chain, verdict, and text replay per id class
      // (the png class is recognized but has no text surface)
      """
      WITH p AS (SELECT doc_id,
                        'doc ' || doc_id || ': ' || coalesce(text, '') AS t,
                        doc_id % 10 AS v
                 FROM documents)
      SELECT doc_id,
             CASE v WHEN 0 THEN 'text' WHEN 1 THEN 'gzip>text'
                    WHEN 2 THEN 'zstd>text' WHEN 3 THEN 'xz>text'
                    WHEN 4 THEN 'bzip2>text' WHEN 5 THEN 'zip'
                    WHEN 6 THEN 'pdf' WHEN 7 THEN 'gzip>zstd>text'
                    WHEN 8 THEN 'png' ELSE 'gzip>tar' END AS chain,
             true AS ok,
             CASE WHEN v = 8 THEN NULL ELSE t END AS text
      FROM p"""),

    // Audio segmentation (round 12): the energy-gate VAD baseline —
    // one real 16-bit WAV per document with an id-arithmetic silence
    // layout, split back into voiced segments at silence gaps.
    // Constant planted amplitudes make every window RMS exact (sqrt
    // of a perfect square), so start/end ms, window counts, AND the
    // rms doubles all replay with no float slack.
    Gate("x_audio_segments", (s, d) => {
      val packed = graft.ops.AudioSegments.packSegmentsWav(t(s, d, "documents"), "doc_id")
      graft.ops.AudioSegments.segments(packed, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("seg"), col("start_ms"),
          col("end_ms"), col("n_windows"), col("rms"))
    },
      // audio segments contract: the silence layout is pure doc_id
      // arithmetic — segment s starts after one lead window, the
      // previous segments' durations, and s gaps; rms is the planted
      // amplitude exactly
      """
      WITH p AS (
        SELECT doc_id, pv.s,
               CAST((doc_id + pv.s) % 4 + 1 AS BIGINT) AS dur,
               CAST(doc_id % 2 + 1 AS BIGINT) AS gap
        FROM documents, (VALUES (0), (1), (2)) pv(s)
        WHERE pv.s <= doc_id % 3),
      c AS (
        SELECT doc_id, s, dur, gap,
               1 + COALESCE(SUM(dur) OVER (PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + s * gap AS sw
        FROM p)
      SELECT doc_id, CAST(s AS INTEGER) AS seg,
             CAST(sw * 25 AS BIGINT) AS start_ms,
             CAST((sw + dur) * 25 AS BIGINT) AS end_ms,
             CAST(dur AS INTEGER) AS n_windows,
             CAST(4000 + 1000 * s AS DOUBLE) AS rms
      FROM c"""),

    // EXIF metadata (round 12): one real JPEG per document (the
    // repo's own encoder) with a planted Exif APP1 — byte order
    // II/MM by id%2, GPS present unless id%3 == 0 — read back
    // through the TIFF IFD walk with the value-or-offset rule and
    // the RATIONAL d/m/s → signed-decimal-degrees reduction; every
    // field replays from doc_id arithmetic. Both-endian round trips,
    // the inline-ASCII rung, and the hostile ladder live in ExifSpec.
    Gate("x_exif_meta", (s, d) => {
      val packed = sharedFixture("exif", s, d)(
        graft.ops.Exif.packJpegExif(t(s, d, "documents"), "doc_id"))
      graft.ops.Exif.decodeMeta(packed, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("has_exif"), col("endian"),
          col("orientation"), col("make"), col("model"), col("datetime"),
          col("has_gps"), round(col("lat"), 6).as("lat"),
          round(col("lon"), 6).as("lon"))
    },
      // exif contract: every field replays from doc_id arithmetic; the
      // d/m/s rationals reduce left-associatively (deg + min/60 +
      // sec/3600) in both engines so the doubles are bit-identical
      """
      SELECT doc_id, true AS has_exif,
             CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
             doc_id % 8 + 1 AS orientation,
             'Maker ' || (doc_id % 5) AS make,
             'Model ' || (doc_id % 3) AS model,
             lpad(CAST(2000 + doc_id % 30 AS VARCHAR), 4, '0') || ':' ||
               lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || ' ' ||
               lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS datetime,
             doc_id % 3 <> 0 AS has_gps,
             CASE WHEN doc_id % 3 = 0 THEN NULL ELSE round(
               (doc_id % 90 + (doc_id % 60) / 60.0 + (doc_id % 6000) / 100.0 / 3600.0)
               * (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END), 6) END AS lat,
             CASE WHEN doc_id % 3 = 0 THEN NULL ELSE round(
               (doc_id % 180 + ((doc_id * 7) % 60) / 60.0 + ((doc_id * 13) % 6000) / 100.0 / 3600.0)
               * (CASE WHEN doc_id % 4 < 2 THEN 1 ELSE -1 END), 6) END AS lon
      FROM documents"""),

    // EXIF in WebP containers (round 16): the same planted-Exif
    // arithmetic rides a WebP EXIF chunk (VP8X flag + real VP8L
    // image), every third id keeping the JPEG-style Exif\0\0 prefix
    // that some writers emit; the reader walks the RIFF chunks and
    // strips the prefix — so both wild wire variants decode to the
    // same oracle rows as the JPEG gate.
    Gate("x_exif_webp", (s, d) => {
      val packed = graft.ops.Exif.packWebpExif(t(s, d, "documents"), "doc_id")
      graft.ops.Exif.decodeMeta(packed, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("has_exif"), col("endian"),
          col("orientation"), col("make"), col("model"), col("datetime"),
          col("has_gps"), round(col("lat"), 6).as("lat"),
          round(col("lon"), 6).as("lon"))
    },
      // exif-in-webp: the same planted arithmetic as x_exif_meta
      """
      SELECT doc_id, true AS has_exif,
             CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
             doc_id % 8 + 1 AS orientation,
             'Maker ' || (doc_id % 5) AS make,
             'Model ' || (doc_id % 3) AS model,
             lpad(CAST(2000 + doc_id % 30 AS VARCHAR), 4, '0') || ':' ||
               lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || ' ' ||
               lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS datetime,
             doc_id % 3 <> 0 AS has_gps,
             CASE WHEN doc_id % 3 = 0 THEN NULL ELSE round(
               (doc_id % 90 + (doc_id % 60) / 60.0 + (doc_id % 6000) / 100.0 / 3600.0)
               * (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END), 6) END AS lat,
             CASE WHEN doc_id % 3 = 0 THEN NULL ELSE round(
               (doc_id % 180 + ((doc_id * 7) % 60) / 60.0 + ((doc_id * 13) % 6000) / 100.0 / 3600.0)
               * (CASE WHEN doc_id % 4 < 2 THEN 1 ELSE -1 END), 6) END AS lon
      FROM documents"""),

    // EXIF GPS scrub (round 12): the privacy op — stripGps REBUILDS
    // the APP1 without the GPS IFD (patching in place would shift
    // every absolute offset), and the re-decode must show the safe
    // tags intact and the coordinates gone on every image.
    Gate("x_exif_strip", (s, d) => {
      val packed = sharedFixture("exif", s, d)(
        graft.ops.Exif.packJpegExif(t(s, d, "documents"), "doc_id"))
      val stripped = graft.ops.Exif.stripGpsDf(packed, "doc_id", "payload")
      graft.ops.Exif.decodeMeta(stripped, "id", "payload")
        .select(col("id").as("doc_id"), col("has_exif"), col("endian"),
          col("orientation"), col("make"), col("datetime"),
          col("has_gps"), col("lat"), col("lon"))
    },
      // exif strip contract: the rebuild keeps the safe tags (endian,
      // orientation, make, datetime) and the coordinates are GONE
      """
      SELECT doc_id, true AS has_exif,
             CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
             doc_id % 8 + 1 AS orientation,
             'Maker ' || (doc_id % 5) AS make,
             lpad(CAST(2000 + doc_id % 30 AS VARCHAR), 4, '0') || ':' ||
               lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || ' ' ||
               lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS datetime,
             false AS has_gps,
             CAST(NULL AS DOUBLE) AS lat, CAST(NULL AS DOUBLE) AS lon
      FROM documents"""),

    // WebDataset ingest (round 12): documents packed into 8 real tar
    // shards in the WebDataset sample layout — each doc a two-part
    // sample (doc<id>.txt + doc<id>.meta.json, the multi-dot part
    // name making the first-dot key rule load-bearing) — and grouped
    // back by the scan-local adjacency pass; key, per-shard sample
    // order, part-name set, text bytes, and the JSON metadata all
    // replay from corpus columns.
    Gate("x_webdataset", (s, d) => {
      val packed = graft.ops.WebDataset.packDocsWds(
        t(s, d, "documents"), "doc_id", "source", "lang", "text")
      val meta = get_json_object(
        decode(element_at(col("parts"), "meta.json"), "UTF-8"), _: String)
      graft.ops.WebDataset.samples(packed, "file_id", "payload")
        .select(
          regexp_extract(col("key"), "doc(\\d+)", 1).cast("long").as("doc_id"),
          col("sample_index").as("seq"),
          array_join(sort_array(map_keys(col("parts"))), ",").as("exts"),
          decode(element_at(col("parts"), "txt"), "UTF-8").as("text"),
          meta("$.lang").as("lang"),
          meta("$.source").as("source"))
    },
      // webdataset contract: per-shard sample order is id order within
      // the doc_id % 8 bucket; both parts replay from corpus columns
      """
      WITH ranked AS (
        SELECT doc_id, coalesce(source, '') AS source, coalesce(lang, '') AS lang,
               coalesce(text, '') AS text,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1
                    AS INTEGER) AS seq
        FROM documents)
      SELECT doc_id, seq, 'meta.json,txt' AS exts, text, lang, source FROM ranked"""),

    // tar.gz ingest (POSIX ustar over the gzip rung): documents
    // sharded into 32 archives — a doc/ directory entry then
    // doc/<id>.txt members — and re-read through verified header
    // checksums; names, sizes, and content digests all replay from
    // corpus columns.
    Gate("x_tar_members", (s, d) =>
      graft.ops.Tar.members(
        graft.ops.Tar.packDocsTarGz(t(s, d, "documents"), "doc_id", "text"),
        "file_id", "payload")
        .select(col("file_id").cast("long").as("file_id"), col("name"),
          col("typeflag"), col("size"), md5(col("data")).as("digest")),
      // tar member table re-derived: per-doc text files plus one doc/
      // directory row per occupied archive
      """
      SELECT doc_id % 32 AS file_id, 'doc/' || doc_id || '.txt' AS name,
             '0' AS typeflag,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS size,
             md5(coalesce(text, '')) AS digest
      FROM documents
      UNION ALL
      SELECT DISTINCT doc_id % 32, 'doc/', '5', CAST(0 AS BIGINT), md5('')
      FROM documents"""),

    // safetensors (round 11): the embeddings table packed into 8
    // real .safetensors shards (one F32 rank-1 tensor per vector,
    // id-ordered offsets, a __metadata__ map) and decoded back —
    // name, dtype, shape, AND every float value replay from the
    // embeddings table, so one wrong byte anywhere in the header
    // geometry or the little-endian data layout hash-mismatches.
    // Arrow IPC (round 15): the embeddings table sharded into real
    // multi-batch Arrow streams (schema + record batches + EOS) and
    // decoded back through arrow-vector — every key and float replays.
    Gate("x_arrow_embed", (s, d) => {
      val packed = sharedFixture("arrow", s, d)(
        graft.ops.ArrowIpc.packVecs(t(s, d, "embeddings"), "vec_id", "embedding",
          groups = 8, batchRows = 64))
      graft.ops.ArrowIpc.decodeVecRows(packed, "shard", "payload", "vec_id", "embedding")
        .select(col("key").as("vec_id"), col("dim"),
          array_join(transform(col("values"),
            v => floor(v.cast("double") * lit(1073741824.0d)).cast("long").cast("string")),
            ",").as("values"))
    },
      // arrow ipc: the same every-float replay through the stream
      // reader
      """
      SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
             array_to_string(list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1073741824) AS BIGINT)), ',') AS values
      FROM embeddings WHERE embedding IS NOT NULL"""),

    // Arrow IPC compressed bodies (round 15 continuation): the same
    // embedding replay, but the shards carry real body compression —
    // LZ4_FRAME on even shards, ZSTD on odd — decompressed
    // buffer-by-buffer on read. pyarrow's default feather-v2 layout
    // is exactly this wire shape.
    Gate("x_arrow_compressed", (s, d) => {
      val packed = sharedFixture("arrowz", s, d)(
        graft.ops.ArrowIpc.packVecsCompressedRef(t(s, d, "embeddings"), "vec_id", "embedding",
          groups = 8, batchRows = 64))
      graft.ops.ArrowIpc.decodeVecRows(packed, "shard", "payload", "vec_id", "embedding")
        .select(col("key").as("vec_id"), col("dim"),
          array_join(transform(col("values"),
            v => floor(v.cast("double") * lit(1073741824.0d)).cast("long").cast("string")),
            ",").as("values"))
    },
      // arrow ipc compressed bodies: identical replay — the compression
      // layer must be byte-transparent
      """
      SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
             array_to_string(list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1073741824) AS BIGINT)), ',') AS values
      FROM embeddings WHERE embedding IS NOT NULL"""),

    // Arrow IPC dictionary encoding (round 15 continuation): the
    // documents (doc_id, source) pairs written as a DictionaryBatch
    // followed by int32 index columns and resolved on read. Every
    // (id, source) pair replays from the corpus, so a single
    // off-by-one in index resolution hash-mismatches.
    Gate("x_arrow_dict", (s, d) => {
      val packed = graft.ops.ArrowIpc.packDocsDictRef(t(s, d, "documents"),
        "doc_id", "source", groups = 8, batchRows = 256)
      graft.ops.ArrowIpc.decodeKeyStrRows(packed, "shard", "payload", "doc_id", "source")
        .select(col("key").as("doc_id"), col("value").as("source"))
    },
      """
      SELECT doc_id, coalesce(source, '') AS source
      FROM documents WHERE doc_id IS NOT NULL"""),

    Gate("x_safetensors", (s, d) => {
      val packed = graft.ops.Safetensors.packVecs(
        t(s, d, "embeddings"), "vec_id", "embedding")
      graft.ops.Safetensors.decodeTensors(packed, "file_id", "payload")
        .select(regexp_extract(col("name"), "vec_(\\d+)", 1).cast("long").as("vec_id"),
          col("dtype"), element_at(col("shape"), 1).as("dim"),
          // The raw float array is the contract, but the external
          // harness cannot sort/hash an array cell — serialize each
          // value through the exact-IEEE integer encoding
          // floor(v * 2^30): a power-of-two multiply is exact in
          // binary floating point, so the string replays the float
          // bits deterministically on BOTH engines (no decimal
          // formatting in the comparison path).
          array_join(transform(col("values"),
            v => floor(v.cast("double") * lit(1073741824.0d)).cast("long").cast("string")),
            ",").as("values"))
    },
      // safetensors: metadata + every float value replay from the
      // embeddings table
      """
      SELECT vec_id, 'F32' AS dtype,
             CAST(len(embedding) AS BIGINT) AS dim,
             array_to_string(list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1073741824) AS BIGINT)), ',') AS values
      FROM embeddings WHERE embedding IS NOT NULL"""),

    // WebP/TIFF dimensions (round 11): the image sniff ladder's two
    // new rungs — id%4 cycles VP8L (14-bit packed dims), VP8X
    // (24-bit canvas), TIFF little-endian SHORT entries and TIFF
    // big-endian LONG entries; mime/width/height replay from doc_id
    // arithmetic. The VP8 lossy keyframe rung and the refusal
    // ladder are pinned in OpsSpec.
    Gate("x_image_meta_webp_tiff", (s, d) => {
      val packed = {
        import s.implicits._
        t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
          .map { id =>
            val w = (id % 300).toInt + 1
            val h = (id % 200).toInt + 1
            def webp(fourcc: String, data: Array[Byte]): Array[Byte] =
              "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
                "WEBP".getBytes("US-ASCII") ++ fourcc.getBytes("US-ASCII") ++
                Array[Byte](data.length.toByte, 0, 0, 0) ++ data
            val bytes = (id % 4) match {
              case 0 =>
                val wm = w - 1; val hm = h - 1
                webp("VP8L", Array[Byte](0x2F, (wm & 0xFF).toByte,
                  (((wm >> 8) & 0x3F) | ((hm & 0x3) << 6)).toByte,
                  ((hm >> 2) & 0xFF).toByte, ((hm >> 10) & 0x0F).toByte))
              case 1 =>
                webp("VP8X", Array[Byte](0, 0, 0, 0,
                  ((w - 1) & 0xFF).toByte, (((w - 1) >> 8) & 0xFF).toByte,
                  (((w - 1) >> 16) & 0xFF).toByte,
                  ((h - 1) & 0xFF).toByte, (((h - 1) >> 8) & 0xFF).toByte,
                  (((h - 1) >> 16) & 0xFF).toByte))
              case 2 =>
                def ent(tag: Int, v: Int): Array[Byte] =
                  Array[Byte]((tag & 0xFF).toByte, (tag >> 8).toByte, 3, 0,
                    1, 0, 0, 0, (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, 0, 0)
                "II".getBytes("US-ASCII") ++ Array[Byte](0x2A, 0, 8, 0, 0, 0, 2, 0) ++
                  ent(256, w) ++ ent(257, h) ++ Array[Byte](0, 0, 0, 0)
              case _ =>
                def ent(tag: Int, v: Int): Array[Byte] =
                  Array[Byte]((tag >> 8).toByte, (tag & 0xFF).toByte, 0, 4,
                    0, 0, 0, 1, ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
                    ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
                "MM".getBytes("US-ASCII") ++ Array[Byte](0, 0x2A, 0, 0, 0, 8, 0, 2) ++
                  ent(256, w) ++ ent(257, h) ++ Array[Byte](0, 0, 0, 0)
            }
            (id, bytes)
          }
          .toDF("doc_id", "__payload")
          .select(col("doc_id"), struct(col("__payload").as("payload")).as("media"))
      }
      Multimodal.decodeImageMeta(packed, "doc_id", "media")
        .select(col("id").as("doc_id"), col("mime_detected"),
          col("width"), col("height"))
    },
      """
      SELECT doc_id,
             CASE WHEN doc_id % 4 < 2 THEN 'image/webp' ELSE 'image/tiff' END
               AS mime_detected,
             CAST((doc_id % 300) + 1 AS INTEGER) AS width,
             CAST((doc_id % 200) + 1 AS INTEGER) AS height
      FROM documents"""),

    // HEIF-family metadata rung (round 16): spec-legal AVIF / HEIC
    // containers from the in-repo builder (its full build grid was
    // cross-parsed by the system libheif AND libavif with zero
    // disagreements — HeifSpec), dims/rotation/alpha from doc_id
    // arithmetic; id%2 picks the format, id%4 the rotation (90/270
    // swap the DISPLAYED dims the mime rung reports), id%3==0 adds
    // an alpha aux item.
    Gate("x_image_meta_avif_heic", (s, d) => {
      val packed = {
        import s.implicits._
        t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
          .map { id =>
            val w = (id % 300).toInt + 1
            val h = (id % 200).toInt + 1
            (id, ops.Heif.build(avif = id % 2 == 0, w, h,
              rotationCcw = ((id % 4) * 90).toInt,
              mirrorAxis = if (id % 5 == 0) Some((id % 2).toInt) else None,
              withAlpha = id % 3 == 0))
          }
          .toDF("doc_id", "__payload")
          .select(col("doc_id"), struct(col("__payload").as("payload")).as("media"))
      }
      Multimodal.decodeImageMeta(packed, "doc_id", "media")
        .select(col("id").as("doc_id"), col("mime_detected"),
          col("width"), col("height"))
    },
      // avif/heic dims: mime from id parity, DISPLAYED dims swap under
      // 90/270 rotation (id%4 picks the quarter-turn)
      """
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image/avif' ELSE 'image/heic' END
               AS mime_detected,
             CAST(CASE WHEN doc_id % 4 IN (1, 3) THEN (doc_id % 200) + 1
                       ELSE (doc_id % 300) + 1 END AS INTEGER) AS width,
             CAST(CASE WHEN doc_id % 4 IN (1, 3) THEN (doc_id % 300) + 1
                       ELSE (doc_id % 200) + 1 END AS INTEGER) AS height
      FROM documents"""),

    // ICC profile metadata (round 17): the JDK's own sRGB profile
    // (java.awt.color.ICC_Profile — the independent reference
    // implementation) embedded per container by id%4 — JPEG APP2 in
    // 1-3 segments (reassembly exercised), PNG iCCP (in-repo zlib
    // both directions), WebP VP8X+ICCP — and a no-profile JPEG; the
    // parsed header fields replay the sRGB constants. Description
    // text and the JDK getter cross-check are pinned in IccSpec.
    Gate("x_image_icc", (s, d) => {
      // fixture memo (round 18): the per-row JPEG+PNG+WebP encodes are
      // fixture cost, not the operator — stage them to parquet once per
      // JVM so the benched repeats measure scan + ICC decode only
      val dir = sharedDir("image_icc", d) {
        import s.implicits._
        val dest = java.nio.file.Files.createTempDirectory("graft-icc-fix")
          .toFile.getAbsolutePath
        // the JDK serializes the profile on every getData call —
        // fetch once, ship in the closure (kilobytes)
        val profile = java.awt.color.ICC_Profile.getInstance(
          java.awt.color.ColorSpace.CS_sRGB).getData
        t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
          .map { id =>
            val px = Array.tabulate(16 * 16)(i => ((i + id) % 251).toByte)
            val img = ops.PngCodec.Image(16, 16, 1, px)
            val payload = (id % 4) match {
              case 0 => ops.Icc.embedJpeg(
                ops.JpegEncoder.encode(img, quality = 90), profile,
                segments = 1 + (id % 3).toInt)
              case 1 => ops.Icc.embedPng(ops.PngCodec.encode(img), profile)
              case 2 => ops.Icc.embedWebp(ops.WebpCodec.encodeGreen(16, 16, px),
                profile, 16, 16)
              case _ => ops.JpegEncoder.encode(img, quality = 90)
            }
            (id, payload)
          }
          .toDF("doc_id", "__payload")
          .select(col("doc_id"), struct(col("__payload").as("payload")).as("media"))
          .write.parquet(dest + "/packed")
        dest + "/packed"
      }
      Multimodal.decodeImageIcc(s.read.parquet(dir), "doc_id", "media")
        .select(col("id").as("doc_id"), col("container"), col("icc_present"),
          col("profile_size"), col("icc_version"), col("device_class"),
          col("color_space"), col("pcs"), col("rendering_intent"))
    },
      // icc metadata: the JDK sRGB profile's header constants per
      // container (id%4==3 carries none)
      """
      SELECT doc_id,
             CASE doc_id % 4 WHEN 1 THEN 'png' WHEN 2 THEN 'webp'
                             ELSE 'jpeg' END AS container,
             doc_id % 4 <> 3 AS icc_present,
             CASE WHEN doc_id % 4 = 3 THEN NULL
                  ELSE CAST(6876 AS BIGINT) END AS profile_size,
             CASE WHEN doc_id % 4 = 3 THEN NULL ELSE '2.3' END AS icc_version,
             CASE WHEN doc_id % 4 = 3 THEN NULL ELSE 'mntr' END AS device_class,
             CASE WHEN doc_id % 4 = 3 THEN NULL ELSE 'RGB ' END AS color_space,
             CASE WHEN doc_id % 4 = 3 THEN NULL ELSE 'XYZ ' END AS pcs,
             CASE WHEN doc_id % 4 = 3 THEN NULL
                  ELSE CAST(0 AS INTEGER) END AS rendering_intent
      FROM documents"""),

    // HEIF GRID (tiled) primaries (round 17 — the iPhone default
    // layout): item 1 is a `grid` whose ImageGrid payload (rows/cols/
    // output dims) lives in mdat or idat (id%5 picks), tiles arrive by
    // dimg reference; dims come from the grid's ispe — or, when
    // id%3==0 drops it, from the ImageGrid config (the fallback path)
    // — with the grid's irot applied (id%4>=2 rotates 90°). The
    // builder's full case grid was cross-parsed by the system libheif
    // AND libavif with zero disagreements (HeifDiff, round 17).
    Gate("x_image_meta_grid", (s, d) => {
      val packed = {
        import s.implicits._
        t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
          .map { id =>
            val rows = (id % 3).toInt + 1
            val cols = (id % 4).toInt + 1
            val ow = (cols - 1) * 512 + (id % 512).toInt + 1
            val oh = (rows - 1) * 512 + (id % 509).toInt + 1
            (id, ops.Heif.buildGrid(avif = id % 2 == 0, 512, 512, rows, cols,
              ow, oh, gridIspe = id % 3 != 0, inIdat = id % 5 == 0,
              rotationCcw = if (id % 4 >= 2) 90 else 0,
              wideFields = id % 7 == 0))
          }
          .toDF("doc_id", "__payload")
          .select(col("doc_id"), struct(col("__payload").as("payload")).as("media"))
      }
      Multimodal.decodeImageMeta(packed, "doc_id", "media")
        .select(col("id").as("doc_id"), col("mime_detected"),
          col("width"), col("height"))
    },
      // heif grid: output-canvas dims from doc_id arithmetic, swapped
      // under the 90° rotation half
      """
      WITH dims AS (
        SELECT doc_id,
               (doc_id % 4) * 512 + (doc_id % 512) + 1 AS ow,
               (doc_id % 3) * 512 + (doc_id % 509) + 1 AS oh
        FROM documents)
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image/avif' ELSE 'image/heic' END
               AS mime_detected,
             CAST(CASE WHEN doc_id % 4 >= 2 THEN oh ELSE ow END AS INTEGER) AS width,
             CAST(CASE WHEN doc_id % 4 >= 2 THEN ow ELSE oh END AS INTEGER) AS height
      FROM dims"""),

    // SVG + netpbm dimensions (round 11): id%4 cycles SVG with
    // width/height attrs (px suffix), SVG with only a viewBox
    // (floored), P6 with a comment in the header, and P5 — all
    // replaying dims from doc_id arithmetic.
    Gate("x_image_meta_svg_pnm", (s, d) => {
      val id = col("doc_id")
      val w = (pmod(id, lit(300)) + 1).cast("int")
      val h = (pmod(id, lit(200)) + 1).cast("int")
      val payload = when(pmod(id, lit(4)) === 0,
          concat(lit("<svg xmlns=\"http://www.w3.org/2000/svg\" width=\""), w,
            lit("px\" height=\""), h, lit("\"><rect/></svg>")))
        .when(pmod(id, lit(4)) === 1,
          concat(lit("<?xml version=\"1.0\"?>\n<svg viewBox=\"0 0 "), w,
            lit(".0 "), h, lit("\"><g/></svg>")))
        .when(pmod(id, lit(4)) === 2,
          concat(lit("P6 # planted comment\n"), w, lit(" "), h, lit(" 255\n")))
        .otherwise(concat(lit("P5\n"), w, lit("\n"), h, lit("\n255\n")))
      Multimodal.decodeImageMeta(
        docs(s, d).select(id,
          struct(encode(payload, "UTF-8").as("payload")).as("media")),
        "doc_id", "media")
        .select(col("id").as("doc_id"), col("mime_detected"),
          col("width"), col("height"))
    },
      // svg/pnm dims: mime + dimensions from doc_id arithmetic
      """
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'image/svg+xml' WHEN 1 THEN 'image/svg+xml'
               WHEN 2 THEN 'image/x-portable-pixmap'
               ELSE 'image/x-portable-graymap' END AS mime_detected,
             CAST((doc_id % 300) + 1 AS INTEGER) AS width,
             CAST((doc_id % 200) + 1 AS INTEGER) AS height
      FROM documents"""),

    // Audio tags (round 11): even ids REAL mp3s with ID3v2 tags
    // (v2.3 big-endian / v2.4 syncsafe frame sizes by id/2 parity,
    // text encodings cycling latin1/utf-8/utf-16), odd ids fLaC
    // streams with a VORBIS_COMMENT block (mixed-case keys — the
    // case-insensitivity rule is load-bearing) — title/artist/album
    // replay from doc_id arithmetic either way.
    Gate("x_audio_tags", (s, d) => {
      val packed = {
        import s.implicits._
        t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
          .map { id =>
            val title = s"Title $id"; val artist = s"Artist ${id % 7}"
            val album = s"Album ${id % 5}"
            val bytes =
              if (id % 2 == 0) graft.ops.AudioTags.packTagsMp3(id, title, artist, album)
              else graft.ops.AudioTags.packTagsFlac(title, artist, album)
            (id, bytes)
          }
          .toDF("doc_id", "payload")
      }
      graft.ops.AudioTags.decodeTags(packed, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("format"), col("title"),
          col("artist"), col("album"))
    },
      // audio tags: format by parity, tags from doc_id arithmetic
      """
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'mp3' ELSE 'flac' END AS format,
             'Title ' || doc_id AS title,
             'Artist ' || (doc_id % 7) AS artist,
             'Album ' || (doc_id % 5) AS album
      FROM documents"""),

    // GGUF metadata (round 11; third tensor + data section round 13;
    // fourth — the 4/5-bit quant block — round 14): one file per
    // document planting the common KV types
    // (string/u32/u64/bool/f32/i32-array), the alignment key, and
    // four tensor infos with 32-aligned offsets — every kv and
    // tensor row replays from doc_id arithmetic.
    Gate("x_gguf_meta", (s, d) => {
      val packed = sharedFixture("gguf", s, d)(
        graft.ops.Gguf.packDocsGguf(t(s, d, "documents"), "doc_id"))
      graft.ops.Gguf.decodeMeta(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("kind"), col("key"),
          col("type_id"), col("value"), col("offset"))
    },
      """
      SELECT doc_id, kind, key, CAST(type_id AS INTEGER) AS type_id, value,
             CAST(off AS BIGINT) AS "offset" FROM (
        SELECT doc_id, 'kv' AS kind, 'general.name' AS key, 8 AS type_id,
               'doc ' || doc_id AS value, 0 AS off FROM documents
        UNION ALL
        SELECT doc_id, 'kv', 'general.alignment', 4, '32', 0 FROM documents
        UNION ALL
        SELECT doc_id, 'kv', 'planted.count', 10, CAST(doc_id AS VARCHAR), 0 FROM documents
        UNION ALL
        SELECT doc_id, 'kv', 'planted.flag', 7,
               CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END, 0 FROM documents
        UNION ALL
        SELECT doc_id, 'kv', 'planted.ratio', 6,
               CASE doc_id % 4 WHEN 0 THEN '0.0' WHEN 1 THEN '0.25'
                    WHEN 2 THEN '0.5' ELSE '0.75' END, 0 FROM documents
        UNION ALL
        SELECT doc_id, 'kv', 'planted.langs', 9,
               '[' || (doc_id % 5) || ',' || (doc_id % 5 + 1) || ']', 0 FROM documents
        UNION ALL
        SELECT doc_id, 'tensor', 'tok_embd.weight', 0,
               '[64,' || (doc_id % 7 + 1) || ']', 0 FROM documents
        UNION ALL
        SELECT doc_id, 'tensor', 'blk.0.attn_q.weight', 8,
               '[32]', 256 * (doc_id % 7 + 1) FROM documents
        UNION ALL
        SELECT doc_id, 'tensor', 'output_norm.weight', 1,
               '[16]', 256 * (doc_id % 7 + 1) + 64 FROM documents
        UNION ALL
        SELECT doc_id, 'tensor', 'blk.0.ffn_up.weight',
               CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 6 ELSE 7 END,
               '[32]', 256 * (doc_id % 7 + 1) + 96 FROM documents
        UNION ALL
        SELECT doc_id, 'tensor', 'blk.0.ffn_down.weight',
               CASE doc_id % 6 WHEN 0 THEN 12 WHEN 1 THEN 14 WHEN 2 THEN 10
                               WHEN 3 THEN 11 WHEN 4 THEN 13 ELSE 15 END,
               '[256]', 256 * (doc_id % 7 + 1) + 128 FROM documents)"""),

    // GGUF tensor dequantization (round 13; Q4/Q5 round 14; the full
    // K-quant ladder round 15): the packer's data section carries an
    // F32 matrix, one Q8_0 block (fp16 scale 0.5 exact, int8
    // quants), an F16 vector, one block of the classic 4/5-bit
    // formats cycling Q4_0/Q4_1/Q5_0/Q5_1 by id (d = 0.5, m = 0.25,
    // split-half nibble packing, qh high-bit word), and one
    // super-block cycling ALL SIX K-quant formats by id%6
    // (Q4_K/Q6_K/Q2_K/Q3_K/Q5_K/Q8_K — scale/min packings, kmask
    // scale interleave, hmask high bits, group sums) — all
    // quarter-unit id-derived, so the dequantized floats replay
    // through the same exact-IEEE floor(v * 2^30) serialization as
    // x_safetensors and the oracle is pure integer arithmetic. The
    // half-float codec, block walk, and IQ refusals are pinned in
    // GgufSpec.
    Gate("x_gguf_tensors", (s, d) => {
      val packed = sharedFixture("gguf", s, d)(
        graft.ops.Gguf.packDocsGguf(t(s, d, "documents"), "doc_id"))
      graft.ops.Gguf.decodeTensorValues(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("name"), col("type_id"),
          col("n_values"),
          array_join(transform(col("values"),
            v => floor(v.cast("double") * lit(1073741824.0d)).cast("long").cast("string")),
            ",").as("values"))
    },
      """
      SELECT doc_id, 'tok_embd.weight' AS name, 0 AS type_id,
             CAST(64 * (doc_id % 7 + 1) AS BIGINT) AS n_values,
             array_to_string(list_transform(range(64 * (doc_id % 7 + 1)),
               i -> CAST(((doc_id + i) % 17 - 8) * 268435456 AS BIGINT)), ',') AS values
      FROM documents
      UNION ALL
      SELECT doc_id, 'blk.0.attn_q.weight', 8, 32,
             array_to_string(list_transform(range(32),
               i -> CAST(((doc_id + i) % 255 - 127) * 536870912 AS BIGINT)), ',')
      FROM documents
      UNION ALL
      SELECT doc_id, 'output_norm.weight', 1, 16,
             array_to_string(list_transform(range(16),
               i -> CAST(((doc_id + i) % 9 - 4) * 268435456 AS BIGINT)), ',')
      FROM documents
      UNION ALL
      SELECT doc_id, 'blk.0.ffn_up.weight',
             CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 6 ELSE 7 END,
             32,
             array_to_string(list_transform(range(32), i ->
               CAST(CASE doc_id % 4
                 WHEN 0 THEN ((doc_id + i) % 16 - 8) * 536870912
                 WHEN 1 THEN ((doc_id + i) % 16) * 536870912 + 268435456
                 WHEN 2 THEN ((doc_id + i) % 32 - 16) * 536870912
                 ELSE ((doc_id + i) % 32) * 536870912 + 268435456
               END AS BIGINT)), ',')
      FROM documents
      UNION ALL
      SELECT doc_id, 'blk.0.ffn_down.weight',
             CASE doc_id % 6 WHEN 0 THEN 12 WHEN 1 THEN 14 WHEN 2 THEN 10
                             WHEN 3 THEN 11 WHEN 4 THEN 13 ELSE 15 END,
             256,
             array_to_string(list_transform(range(256), i ->
               CAST(CASE doc_id % 6
                 WHEN 0 THEN ((doc_id + 5 * (i // 32)) % 64) * ((doc_id + i) % 16) * 536870912
                             - ((doc_id * 3 + (i // 32)) % 64) * 268435456
                 WHEN 1 THEN (((doc_id + 8 * (i // 128) + 2 * ((i % 128) // 32)
                         + ((i % 32) // 16)) % 32) - 16)
                      * (((doc_id + i) % 64) - 32) * 536870912
                 WHEN 2 THEN ((doc_id + i // 16) % 16) * ((doc_id + i) % 4) * 536870912
                             - ((doc_id * 3 + i // 16) % 16) * 268435456
                 WHEN 3 THEN (((doc_id + i // 16) % 64) - 32)
                             * (((doc_id + i) % 8) - 4) * 536870912
                 WHEN 4 THEN ((doc_id + 5 * (i // 32)) % 64) * ((doc_id + i) % 32) * 536870912
                             - ((doc_id * 3 + (i // 32)) % 64) * 268435456
                 ELSE ((doc_id + i) % 255 - 127) * 536870912
               END AS BIGINT)), ',')
      FROM documents"""),

    // HDF5 (round 15 continuation): one .h5 per document from the
    // in-repo spec-legal builder, vintage cycling by id parity —
    // even: superblock v0 + v1 object headers + symbol-table groups
    // (TREE/SNOD/HEAP); odd: superblock v2 (lookup3-checksummed) +
    // OHDR headers + link messages. Four datasets per file:
    // contiguous f32-LE / i64-LE / i32-BE and a subgroup's CHUNKED
    // f64 matrix (edge chunks) behind the [shuffle, deflate(JDK
    // zlib), fletcher32] pipeline. Every value replays through the
    // exact floor(v·2³⁰) serialization; lookup3/fletcher32 are
    // pinned against published vectors in Hdf5Spec.
    Gate("x_hdf5_datasets", (s, d) => {
      val packed = graft.ops.Hdf5Write.packDocsHdf5(t(s, d, "documents"), "doc_id")
      graft.ops.Hdf5.decodeDatasets(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("path"), col("dtype"),
          col("dims"), col("n_values"),
          array_join(transform(col("values"),
            v => floor(v * lit(1073741824.0d)).cast("long").cast("string")),
            ",").as("values"))
    },
      // hdf5: four datasets per file replay from id arithmetic —
      // paths sorted, dims/dtype labels exact, every value through
      // floor(v * 2^30)
      """
      SELECT doc_id, '/f32' AS path, 'float32le' AS dtype, '[24]' AS dims,
             CAST(24 AS BIGINT) AS n_values,
             array_to_string(list_transform(range(24),
               i -> CAST(((doc_id + i) % 17 - 8) * 268435456 AS BIGINT)), ',') AS values
      FROM documents
      UNION ALL
      SELECT doc_id, '/g/mat', 'float64le', '[6,5]', 30,
             array_to_string(list_transform(range(30),
               i -> CAST(((doc_id + i) % 23 - 11) * 268435456 AS BIGINT)), ',')
      FROM documents
      UNION ALL
      SELECT doc_id, '/i64', 'int64le', '[16]', 16,
             array_to_string(list_transform(range(16),
               i -> CAST(((doc_id + i) % 101 - 50) * 1073741824 AS BIGINT)), ',')
      FROM documents
      UNION ALL
      SELECT doc_id, '/ibe', 'int32be', '[8]', 8,
             array_to_string(list_transform(range(8),
               i -> CAST(((doc_id + i) % 19 - 9) * 1073741824 AS BIGINT)), ',')
      FROM documents"""),

    // MAT-file v5 (round 15 continuation): per document a double
    // 3×4 "A", an int16-STORED "b" (the down-packed storage path),
    // and a single 2×3 "c"; id%2 wraps everything in miCOMPRESSED
    // (zlib via the JDK — the independent encoder — inflated by the
    // from-spec unzlib), id%3==2 flips to big-endian. Values replay
    // column-major through floor(v·2³⁰).
    Gate("x_mat_vars", (s, d) => {
      val packed = graft.ops.Mat5.packDocsMat(t(s, d, "documents"), "doc_id")
      graft.ops.Mat5.decodeVars(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("name"), col("class"),
          col("dims"), col("n_values"),
          array_join(transform(col("values"),
            v => floor(v * lit(1073741824.0d)).cast("long").cast("string")),
            ",").as("values"))
    },
      // mat v5: three arrays replay from id arithmetic, stored
      // column-major; compression and endianness cycle by id
      """
      SELECT doc_id, 'A' AS name, 'double' AS class, '[3,4]' AS dims,
             CAST(12 AS BIGINT) AS n_values,
             array_to_string(list_transform(range(12),
               i -> CAST(((doc_id + i) % 23 - 11) * 268435456 AS BIGINT)), ',') AS values
      FROM documents
      UNION ALL
      SELECT doc_id, 'b', 'int16', '[5,1]', 5,
             array_to_string(list_transform(range(5),
               i -> CAST(((doc_id + i) % 301 - 150) * 1073741824 AS BIGINT)), ',')
      FROM documents
      UNION ALL
      SELECT doc_id, 'c', 'single', '[2,3]', 6,
             array_to_string(list_transform(range(6),
               i -> CAST(((doc_id + i) % 17 - 8) * 268435456 AS BIGINT)), ',')
      FROM documents"""),

    // netCDF classic (round 15 continuation): one CDF payload per
    // document from the in-repo spec-legal builder, version cycling
    // 1/2/5 by id%3 (32-bit, 64-bit-offset, and CDF-5 widths). Two
    // fixed variables + TWO record variables (the interleaved
    // recsize stride with per-slab padding is load-bearing), a char
    // variable that must be SKIPPED, and global/var attributes that
    // must parse past. Every value replays through floor(v·2³⁰).
    Gate("x_netcdf_vars", (s, d) => {
      val packed = graft.ops.Netcdf.packDocsNetcdf(t(s, d, "documents"), "doc_id")
      graft.ops.Netcdf.decodeVars(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("name"), col("dtype"),
          col("dims"), col("n_values"),
          array_join(transform(col("values"),
            v => floor(v * lit(1073741824.0d)).cast("long").cast("string")),
            ",").as("values"))
    },
      // netcdf classic: the numeric variables replay from id
      // arithmetic (the char variable is skipped by contract); record
      // counts vary by id so the record stride is load-bearing
      """
      SELECT doc_id, 'fmat' AS name, 'float' AS dtype, '[3,4]' AS dims,
             CAST(12 AS BIGINT) AS n_values,
             array_to_string(list_transform(range(12),
               i -> CAST(((doc_id + i) % 21 - 10) * 268435456 AS BIGINT)), ',') AS values
      FROM documents
      UNION ALL
      SELECT doc_id, 'ivec', 'int', '[6]', 6,
             array_to_string(list_transform(range(6),
               i -> CAST(((doc_id + i) % 61 - 30) * 1073741824 AS BIGINT)), ',')
      FROM documents
      UNION ALL
      SELECT doc_id, 'rtemp', 'float', '[' || (doc_id % 4 + 2) || ',4]',
             4 * (doc_id % 4 + 2),
             array_to_string(list_transform(range(4 * (doc_id % 4 + 2)),
               i -> CAST(((doc_id + 7 * (i // 4) + (i % 4)) % 19 - 9) * 268435456 AS BIGINT)), ',')
      FROM documents
      UNION ALL
      SELECT doc_id, 'rcount', 'int', '[' || (doc_id % 4 + 2) || ']',
             doc_id % 4 + 2,
             array_to_string(list_transform(range(doc_id % 4 + 2),
               i -> CAST(((doc_id + i) % 87 - 43) * 1073741824 AS BIGINT)), ',')
      FROM documents"""),

    // npz (round 11): the same embedding-shard contract as
    // x_safetensors through numpy's format — v1.0 .npy members
    // (spec-padded dict headers, 16-byte alignment) in real ZIP
    // archives cycling both write modes; every float replays.
    Gate("x_npz", (s, d) => {
      val packed = graft.ops.Npy.packVecsNpz(
        t(s, d, "embeddings"), "vec_id", "embedding")
      // packVecsNpz packs via Partitioning.packGroups — one task per
      // archive — so the narrow decode inherits that width directly
      graft.ops.Npy.decodeNpz(packed, "file_id", "payload")
        .select(regexp_extract(col("name"), "vec_(\\d+)", 1).cast("long").as("vec_id"),
          col("descr"), element_at(col("shape"), 1).as("dim"),
          // same exact-IEEE floor(v * 2^30) serialization as
          // x_safetensors — see that gate for the rationale
          array_join(transform(col("values"),
            v => floor(v.cast("double") * lit(1073741824.0d)).cast("long").cast("string")),
            ",").as("values"))
    },
      // npz: numpy-format twin of the safetensors contract
      """
      SELECT vec_id, '<f4' AS descr,
             CAST(len(embedding) AS BIGINT) AS dim,
             array_to_string(list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1073741824) AS BIGINT)), ',') AS values
      FROM embeddings WHERE embedding IS NOT NULL"""),

    // AIFF / AIFF-C / Sun AU rungs (round 15 continuation): six
    // container classes by id%6 — AIFF PCM16 (big-endian), AIFC NONE
    // (explicit tag), AIFC sowt (LITTLE-endian), AIFF signed PCM8
    // (the opposite of WAV's unsigned-8 — a classic trap), AU int16
    // BE, AU μ-law — all with id-arithmetic samples, decoded through
    // the same AudioPcm.decodeAny dispatch the fingerprint/spectral
    // ops use; every decoded sample value replays in SQL (the μ-law
    // branch reuses the proven expansion arithmetic).
    Gate("x_multimodal_aiff_au", (s, d) => {
      val packed = graft.ops.Aiff.packPlantedAiffAu(t(s, d, "documents"), "doc_id")
      graft.ops.Aiff.decodeClipRows(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("channels"), col("sample_rate"),
          col("bits"), col("n_samples"), col("values"))
    },
      // μ-law contract: each text byte v is a G.711 code; the decoded
      // sample is the spec expansion u = 255−v (complement),
      // t = ((u mod 16)·8 + 132) << ((u div 16) mod 8), negatives when
      // the complemented sign bit is set — replayed here bit-for-bit.
      // aiff/au: planted samples replay per container class; the AU
      // μ-law branch reuses the proven G.711 expansion arithmetic
      """
      SELECT doc_id, 1 AS channels,
             CASE doc_id % 6 WHEN 0 THEN 8000 WHEN 1 THEN 11025
                             WHEN 2 THEN 16000 WHEN 3 THEN 22050
                             WHEN 4 THEN 8000 ELSE 8000 END AS sample_rate,
             CASE doc_id % 6 WHEN 3 THEN 8 ELSE 16 END AS bits,
             CAST(doc_id % 50 + 20 AS BIGINT) AS n_samples,
             array_to_string(list_transform(range(doc_id % 50 + 20), i ->
               CAST(CASE doc_id % 6
                 WHEN 3 THEN (((doc_id + i) % 241) - 120) * 256
                 WHEN 5 THEN
                   CASE WHEN (255 - ((doc_id + i) % 256)) >= 128
                        THEN 132 - (((255 - ((doc_id + i) % 256)) % 16) * 8 + 132)
                             * (1 << (((255 - ((doc_id + i) % 256)) // 16) % 8))
                        ELSE (((255 - ((doc_id + i) % 256)) % 16) * 8 + 132)
                             * (1 << (((255 - ((doc_id + i) % 256)) // 16) % 8)) - 132
                   END
                 ELSE (((doc_id + i) % 401) - 200) * 80
               END AS BIGINT)), ',') AS values
      FROM documents"""),

    // G.711 μ-law rung: the text bytes ARE the companded code bytes
    // (fmt 7, mono 8 kHz), decoded through the from-spec expander —
    // a pure per-byte function, so the oracle replays the G.711
    // segment/mantissa arithmetic bit-for-bit in SQL. Decode rides
    // the same AudioPcm dispatch the fingerprint/spectral ops use.
    Gate("x_multimodal_mulaw", (s, d) =>
      Multimodal.decodeAudioFeatures(
        Multimodal.packTextG711Wav(t(s, d, "documents"), "doc_id", "text", alaw = false),
        "id", "media"),
      """
      WITH b AS (
        SELECT doc_id, least(octet_length(encode(coalesce(text, ''))), 1048576) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b),
      s AS (
        SELECT doc_id, len,
               list_transform(bytes, v ->
                 CASE WHEN (255 - v) >= 128
                      THEN 132 - (((255 - v) % 16) * 8 + 132) * (1 << (((255 - v) // 16) % 8))
                      ELSE (((255 - v) % 16) * 8 + 132) * (1 << (((255 - v) // 16) % 8)) - 132
                 END) AS sm
        FROM e)
      SELECT doc_id AS id, 1 AS channels, 8000 AS sample_rate, 16 AS bits,
             CAST(len AS BIGINT) AS n_samples,
             CAST(coalesce(list_max(list_transform(sm, v -> abs(v))), 0) AS BIGINT) AS peak,
             CAST(coalesce(list_sum(list_transform(sm, v -> v * v)), 0) AS BIGINT) AS sum_sq,
             CAST(coalesce(list_sum(list_transform(range(len - 1),
               i -> CASE WHEN (sm[CAST(i+1 AS INTEGER)] < 0) <> (sm[CAST(i+2 AS INTEGER)] < 0)
                         THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
      FROM s"""),

    // G.711 A-law rung: same shape, fmt 6, the 0x55-toggled segment
    // expansion (seg-0/seg-1 bias cases exercised by every document).
    Gate("x_multimodal_alaw", (s, d) =>
      Multimodal.decodeAudioFeatures(
        Multimodal.packTextG711Wav(t(s, d, "documents"), "doc_id", "text", alaw = true),
        "id", "media"),
      // A-law contract: a = v XOR 0x55; seg 0 → t = 16·mant + 8,
      // seg ≥ 1 → (16·mant + 264) << (seg−1); sign bit 0x80 = positive.
      """
      WITH b AS (
        SELECT doc_id, least(octet_length(encode(coalesce(text, ''))), 1048576) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b),
      s AS (
        SELECT doc_id, len,
               list_transform(bytes, v ->
                 CASE WHEN xor(v, 85) >= 128 THEN 1 ELSE -1 END *
                 (CASE ((xor(v, 85) // 16) % 8)
                    WHEN 0 THEN (xor(v, 85) % 16) * 16 + 8
                    WHEN 1 THEN (xor(v, 85) % 16) * 16 + 264
                    ELSE ((xor(v, 85) % 16) * 16 + 264) * (1 << (((xor(v, 85) // 16) % 8) - 1))
                  END)) AS sm
        FROM e)
      SELECT doc_id AS id, 1 AS channels, 8000 AS sample_rate, 16 AS bits,
             CAST(len AS BIGINT) AS n_samples,
             CAST(coalesce(list_max(list_transform(sm, v -> abs(v))), 0) AS BIGINT) AS peak,
             CAST(coalesce(list_sum(list_transform(sm, v -> v * v)), 0) AS BIGINT) AS sum_sq,
             CAST(coalesce(list_sum(list_transform(range(len - 1),
               i -> CASE WHEN (sm[CAST(i+1 AS INTEGER)] < 0) <> (sm[CAST(i+2 AS INTEGER)] < 0)
                         THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
      FROM s"""),

    // IMA ADPCM rung (fmt 0x11, 4-bit adaptive nibbles, stateful):
    // lossy by design, so the gate is the jpegParity-style verdict
    // table — decoded, meta-exact (fact-trimmed frame count), decoder
    // output EQUAL to the encoder's tracked predictor path (the ADPCM
    // analogue of FLAC's MD5 gate). No SNR column: adaptive-step
    // coding has no honest fixed dB bound on noise-like byte signals.
    Gate("x_multimodal_adpcm", (s, d) =>
      Multimodal.adpcmParity(t(s, d, "documents"), "doc_id", "text"),
      // ADPCM verdict contract (jpegParity pattern): the op must earn
      // the all-true table — decode succeeds, fact-trimmed meta exact,
      // decoder output equals the encoder's predictor path sample-
      // exactly (no SNR column: adaptive-step lossy coding has no
      // corpus-portable dB bound on noise-like byte signals; bit-exact
      // predictor-path agreement is the pinning contract).
      """
      SELECT doc_id AS id, true AS decoded, true AS meta_ok,
             true AS reconstruction_exact
      FROM documents"""),

    // ADPCM packer e2e through the media schema: packTextAdpcmWav →
    // AudioPcm dispatch → feature decode. Samples are lossy (that
    // contract lives in x_multimodal_adpcm); what IS oracle-exact is
    // the container metadata — mono, declared rate, 16-bit working
    // depth, fact-trimmed frame count == byte length — so the gate
    // selects exactly those columns.
    Gate("x_multimodal_adpcm_pack", (s, d) =>
      Multimodal.decodeAudioFeatures(
        Multimodal.packTextAdpcmWav(t(s, d, "documents"), "doc_id", "text"),
        "id", "media")
        .select(col("id"), col("channels"), col("sample_rate"), col("bits"),
          col("n_samples")),
      // ADPCM packer metadata contract: the container round-trips its
      // declared shape exactly even though the samples are lossy.
      """
      SELECT doc_id AS id, 1 AS channels, 8000 AS sample_rate, 16 AS bits,
             CAST(least(octet_length(encode(coalesce(text, ''))), 1048576) AS BIGINT)
               AS n_samples
      FROM documents"""),

    // REAL BMP decode against an INDEPENDENT encoder: payloads are
    // written by the JDK's ImageIO BMP writer (greyscale-palette
    // indexed, pixels = the doc's UTF-8 bytes), decoded by BmpCodec's
    // from-spec DIB parse (header walk, palette expansion, 4-byte row
    // padding, bottom-up rows) — two implementations sharing zero
    // code. Identity-grey palette means (v,v,v) output triplets, so
    // the oracle flattens each expected byte into three, like GIF.
    Gate("x_multimodal_bmp_decode", (s, d) =>
      Multimodal.decodeImagePixels(
        Multimodal.packTextBmp(t(s, d, "documents"), "doc_id", "text", width = 32),
        "id", "media"),
      // BMP contract: identical to the GIF gate's (same pixels, same
      // grey identity palette, independent JDK writer), so the oracle
      // flattens each expected byte into an (v,v,v) triplet.
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               CASE WHEN len = 0 THEN 1 ELSE CAST(CEIL(len / 32.0) AS INTEGER) END AS h,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b),
      p AS (
        SELECT doc_id, h,
               flatten(list_transform(
                 list_concat(bytes, list_transform(range(32 * h - len), x -> 0)),
                 v -> [v, v, v])) AS px
        FROM e)
      SELECT doc_id AS id, 32 AS width, h AS height, 3 AS channels,
             CAST(96 * h AS BIGINT) AS pixel_len,
             CAST(list_sum(px) AS BIGINT) AS pixel_sum,
             CAST(list_reduce(list_prepend(17, px),
               (a, x) -> (a * 31 + x) % 16777216) AS BIGINT) AS pixel_hash
      FROM p"""),

    // REAL GIF decode against an INDEPENDENT encoder: payloads are
    // written by the JDK's ImageIO GIF writer (greyscale-palette
    // indexed, pixels = the doc's UTF-8 bytes), decoded by GifCodec's
    // from-spec LZW — two implementations that share zero code. The
    // decoded channels are (v,v,v) triplets, so the oracle flattens
    // each expected byte into three.
    Gate("x_multimodal_gif_decode", (s, d) =>
      Multimodal.decodeImagePixels(
        Multimodal.packTextGif(t(s, d, "documents"), "doc_id", "text", width = 32),
        "id", "media"),
      """
      WITH b AS (
        SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS len,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               CASE WHEN len = 0 THEN 1 ELSE CAST(CEIL(len / 32.0) AS INTEGER) END AS h,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b),
      p AS (
        SELECT doc_id, h,
               flatten(list_transform(
                 list_concat(bytes, list_transform(range(32 * h - len), x -> 0)),
                 v -> [v, v, v])) AS px
        FROM e)
      SELECT doc_id AS id, 32 AS width, h AS height, 3 AS channels,
             CAST(96 * h AS BIGINT) AS pixel_len,
             CAST(list_sum(px) AS BIGINT) AS pixel_sum,
             CAST(list_reduce(list_prepend(17, px),
               (a, x) -> (a * 31 + x) % 16777216) AS BIGINT) AS pixel_hash
      FROM p"""),

    // from-spec baseline JPEG decoder vs the JDK's independent
    // ImageIO decoder: lossy JPEG pins no exact IDCT, so the contract
    // is dims-exact + every sample within the rounding band; the
    // oracle is the all-true verdict table the parity op must earn
    Gate("x_multimodal_jpeg_decode", (s, d) =>
      Multimodal.jpegParity(
        Multimodal.packGrayJpeg(t(s, d, "documents"), "doc_id"),
        "id", "media"),
      // like x_multimodal_decode but channels are greyscale RGB
      // triplets (v,v,v) — flatten each byte three ways
      """
      SELECT doc_id AS id, true AS decoded, true AS dims_ok, true AS within_band
      FROM documents"""),

    // REAL resize on decoded pixels: an 8×8 greyscale PNG per doc
    // (pixels = the 64 ASCII bytes of md5(id)||md5(id||'x'), so the
    // oracle knows them), box-downsampled 2× to 4×4 by PngResizer —
    // decode → exact integer quad-mean → re-encode — then decoded
    // again for stats. The oracle re-derives all 16 output pixels
    // arithmetically.
    Gate("x_multimodal_png_resize", (s, d) => {
      val synth = t(s, d, "documents").select(col("doc_id"),
        concat(md5(col("doc_id").cast("string")),
          md5(concat(col("doc_id").cast("string"), lit("x")))).as("text"))
      val resized = Multimodal.resize(
        Multimodal.packTextPng(synth, "doc_id", "text", width = 8),
        "id", "media", width = 4, height = 4, resizer = new Multimodal.PngResizer())
      val repacked = resized.select(col("id"), struct(
        col("payload"), col("mime"),
        struct(col("byte_len"), col("width"), col("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
      Multimodal.decodeImagePixels(repacked, "id", "media")
    },
      // source pixels = ASCII codes of md5(id)||md5(id||'x'); output
      // pixel (yy,xx) of the 2× box downsample = rounded mean of its
      // 2×2 source quad — pure integer arithmetic either side
      """
      WITH s AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR)) || md5(CAST(doc_id AS VARCHAR) || 'x') AS t
        FROM documents),
      p AS (
        SELECT doc_id,
               list_transform(range(64), i -> ascii(substr(t, CAST(i+1 AS INTEGER), 1))) AS px
        FROM s),
      r AS (
        SELECT doc_id,
               list_transform(range(16), o ->
                 (px[CAST((o // 4) * 16 + (o % 4) * 2 + 1 AS INTEGER)]
                  + px[CAST((o // 4) * 16 + (o % 4) * 2 + 2 AS INTEGER)]
                  + px[CAST((o // 4) * 16 + (o % 4) * 2 + 9 AS INTEGER)]
                  + px[CAST((o // 4) * 16 + (o % 4) * 2 + 10 AS INTEGER)]
                  + 2) // 4) AS opx
        FROM p)
      SELECT doc_id AS id, 4 AS width, 4 AS height, 1 AS channels,
             CAST(16 AS BIGINT) AS pixel_len,
             CAST(list_sum(opx) AS BIGINT) AS pixel_sum,
             CAST(list_reduce(list_prepend(17, opx),
               (a, x) -> (a * 31 + x) % 16777216) AS BIGINT) AS pixel_hash
      FROM r"""),

    // ==== extensions: multimodal column plumbing ====
    Gate("x_multimodal_meta", (s, d) =>
      Multimodal.packText(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("media.mime").as("mime"),
          col("media.meta.byte_len").as("byte_len")),
      """
      SELECT doc_id, 'text/plain' AS mime,
             CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
      FROM documents"""),
    // feature vector flattened to scalar columns: same
    // oracle-compare constraint as x_group_sample (no array cells)
    Gate("x_multimodal_features", (s, d) => {
      val f = Multimodal.extractFeatures(
        Multimodal.packText(t(s, d, "documents"), "text"), "doc_id", "media")
      f.select(col("id") +: col("byte_len") +:
        (0 until 8).map(i => col("features")(i).cast("double").as(s"f$i")): _*)
    },
      s"""
      WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS len, hex(encode(text)) AS hx
        FROM documents),
      e AS (
        SELECT doc_id, len,
               list_transform(range(len),
                 i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INTEGER), 2)) AS INTEGER)) AS bytes
        FROM b)
      SELECT doc_id AS id, CAST(len AS BIGINT) AS byte_len,
             CAST(CAST(len AS FLOAT) AS DOUBLE) AS f0,
             CASE WHEN len = 0 THEN 0.0 ELSE
               CAST(CAST(list_reduce(list_prepend(17, bytes), (a, x) -> (a * 31 + x) % 16777216) AS FLOAT) AS DOUBLE)
             END AS f1,
             ${(0 until 6).map(multimodalFeatureSql).mkString(",\n             ")}
      FROM e"""),
  )
}
