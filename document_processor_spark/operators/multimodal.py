"""Multimodal column handling: image/audio/video as opaque binary columns
with typed metadata.

The decode step is STUBBED (no image/audio libs in this container — the
`decode_media` stub raises NotImplementedError unless given the
deterministic fake codec used by the fixtures), but the Spark-side plumbing
is real: binary payload column, Arrow batch transfer, `mapInPandas` with an
explicit output schema, batch-shaped feature extraction.  The metadata
formulas are deterministic, so the whole mapInPandas path has an exact
DuckDB oracle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ._scan import read_table

MEDIA_SCHEMA = ("doc_id bigint, media_ref string, media_type string, "
                "n_bytes bigint, width bigint, height bigint, "
                "payload_hash string")


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive an opaque-binary media table from the documents corpus:
    (doc_id, payload:binary, media_type, hint) — the input shape of a real
    multimodal pipeline."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode(F.substring("text", 1, 64), "UTF-8").alias("payload"),
        F.when(F.col("n_chars") % 3 == 0, "image/png")
         .when(F.col("n_chars") % 3 == 1, "audio/wav")
         .otherwise("video/mp4").alias("media_type"),
        F.col("n_chars").alias("hint"),
    )


# --------------------------------------------------------------------------
# The deterministic fake codec (S25 analog of the reference's screenshot
# transcode, image_extractor.py:30-64).  Container format:
#
#     b"FAKE|" + media_type + b"|" + <width> + b"x" + <height> + b"|" + pixels
#
# widths/heights are ASCII decimal; `pixels` is an opaque byte run whose
# length plays the role of the decoded frame buffer.  Real codecs (PNG/WAV/
# MP4 magic) still raise NotImplementedError — the decode libraries are not
# in this container — but the fake-codec path exercises the identical Spark
# plumbing: binary column in, mapInPandas batch decode, typed feature rows
# out, deterministic downscale (the reference's image_scale param).
# --------------------------------------------------------------------------

_FAKE_MAGIC = b"FAKE|"
_REAL_MAGICS = (b"\x89PNG", b"RIFF", b"\x00\x00\x00", b"\xff\xd8")


def encode_fake_media(media_type: str, width: int, height: int,
                      pixels: bytes) -> bytes:
    return (_FAKE_MAGIC + media_type.encode("ascii")
            + b"|%dx%d|" % (width, height) + pixels)


def decode_media(payload: bytes, media_type: str) -> dict:
    """Decode one media payload.  Fake-codec payloads decode for real
    (parse header, return frame geometry + pixel run); genuine codec magic
    raises NotImplementedError (no PIL/libav in this container — swap this
    branch for the real decoder on a full image)."""
    b = bytes(payload)
    if b.startswith(_FAKE_MAGIC):
        try:
            _, mt, dims, pixels = b.split(b"|", 3)
            w, h = dims.split(b"x", 1)
            return {"media_type": mt.decode("ascii"),
                    "width": int(w), "height": int(h), "pixels": pixels}
        except (ValueError, UnicodeDecodeError) as e:
            raise ValueError(f"malformed fake-codec payload: {e}") from e
    if b.startswith(_REAL_MAGICS):
        raise NotImplementedError(
            f"real codec for {media_type} not available in this environment")
    raise ValueError(f"unrecognized media container for {media_type}")


def _feature_batches(it: Iterator["object"]) -> Iterator["object"]:
    """mapInPandas worker: batch-shaped metadata/feature extraction over the
    binary payload column.  Deterministic stand-in for decode+resize+
    feature-extract; the real implementation swaps the body, not the
    plumbing (schema, batching, partitioning stay identical)."""
    import pandas as pd
    for pdf in it:
        hint = pdf["hint"].astype("int64")
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "media_ref": "m-" + pdf["doc_id"].astype(str),
            "media_type": pdf["media_type"],
            "n_bytes": pdf["payload"].map(len).astype("int64"),
            "width": (64 + hint % 640).astype("int64"),
            "height": (64 + (hint * 7) % 480).astype("int64"),
            "payload_hash": pdf["payload"].map(
                lambda b: hashlib.md5(bytes(b)).hexdigest()),
        })


def extract_media_features(media: DataFrame) -> DataFrame:
    return media.mapInPandas(_feature_batches, MEDIA_SCHEMA)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_media_features(media_table(spark, sf_dir))


# -- S25: decode + downscale over the fake codec -----------------------------

DECODE_SCHEMA = ("doc_id bigint, media_type string, width bigint, "
                 "height bigint, thumb_w bigint, thumb_h bigint, "
                 "n_pixel_bytes bigint, pixel_hash string")


def fake_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table whose payloads are real fake-codec containers (binary
    column built JVM-side with concat over encoded parts)."""
    d = read_table(spark, sf_dir, "documents")
    mt = (F.when(F.col("n_chars") % 3 == 0, "image/png")
           .when(F.col("n_chars") % 3 == 1, "audio/wav")
           .otherwise("video/mp4"))
    width = (F.lit(64) + F.col("n_chars") % 640).cast("long")
    height = (F.lit(64) + (F.col("n_chars") * 7) % 480).cast("long")
    header = F.concat(mt, F.lit("|"), width.cast("string"), F.lit("x"),
                      height.cast("string"), F.lit("|"))
    payload = F.concat(F.lit(_FAKE_MAGIC),
                       F.encode(header, "UTF-8"),
                       F.encode(F.substring("text", 1, 32), "UTF-8"))
    return d.select("doc_id", payload.alias("payload"),
                    mt.alias("media_type"))


def _decode_batches(it: Iterator["object"]) -> Iterator["object"]:
    """mapInPandas worker: genuinely parses the payload bytes (NOT the
    source columns) via decode_media, then derives thumbnail geometry —
    the decode/resize/feature-extract stage of SURVEY.md S25."""
    import pandas as pd
    for pdf in it:
        rows = []
        for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"],
                                       pdf["media_type"]):
            d = decode_media(payload, mt)
            rows.append((doc_id, d["media_type"], d["width"], d["height"],
                         max(1, d["width"] // 2), max(1, d["height"] // 2),
                         len(d["pixels"]),
                         hashlib.md5(d["pixels"]).hexdigest()))
        yield pd.DataFrame(rows, columns=["doc_id", "media_type", "width",
                                          "height", "thumb_w", "thumb_h",
                                          "n_pixel_bytes", "pixel_hash"])


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fake_media_table(spark, sf_dir).mapInPandas(
        _decode_batches, DECODE_SCHEMA)


# -- S25b: aspect-fit resize (reference image_extractor.py:30-64 exposes an
# image_scale param; this is the scale stage as a standalone operator).
# Integer-exact math so the DuckDB oracle matches bit-for-bit: fit into a
# RESIZE_BOX x RESIZE_BOX square, never upscale, floor division.

RESIZE_BOX = 256

RESIZE_SCHEMA = ("doc_id bigint, media_type string, width bigint, "
                 "height bigint, out_w bigint, out_h bigint, "
                 "is_downscaled boolean, n_out_pixels bigint, "
                 "pixel_hash string")


def _resize_geometry(w: int, h: int, box: int = RESIZE_BOX) -> tuple[int, int]:
    """Aspect-preserving fit into a box x box square using only integer
    arithmetic (exact in any engine).  Never upscales."""
    if w <= box and h <= box:
        return w, h
    if w >= h:
        return box, max(1, h * box // w)
    return max(1, w * box // h), box


def _resize_batches(it: Iterator["object"]) -> Iterator["object"]:
    """mapInPandas worker: decode the payload, then aspect-fit-resize the
    decoded frame geometry.  The pixel resample itself is geometry-only on
    the fake codec (a real codec swaps in an actual rescale kernel here —
    same schema, same batching)."""
    import pandas as pd
    for pdf in it:
        rows = []
        for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"],
                                       pdf["media_type"]):
            d = decode_media(payload, mt)
            w, h = d["width"], d["height"]
            ow, oh = _resize_geometry(w, h)
            rows.append((doc_id, d["media_type"], w, h, ow, oh,
                         (ow, oh) != (w, h), ow * oh,
                         hashlib.md5(d["pixels"]).hexdigest()))
        yield pd.DataFrame(rows, columns=["doc_id", "media_type", "width",
                                          "height", "out_w", "out_h",
                                          "is_downscaled", "n_out_pixels",
                                          "pixel_hash"])


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fake_media_table(spark, sf_dir).mapInPandas(
        _resize_batches, RESIZE_SCHEMA)


# -- S25d: transcode to format/quality — the tail of the reference's screenshot
# re-encode (image_extractor.py:42-64 `get_data(image_format, image_quality)`;
# `ImageFormat` JPEG/PNG/WEBP, app/models.py:20-23; the `image_format` /
# `image_quality` request params, app/api.py:76-78).  The fake codec models
# compression deterministically: PNG is lossless (pixel run kept whole);
# JPEG/WEBP keep a quality-proportional prefix of the pixel run
# (min(n, max(1, n*quality // divisor)) bytes, WEBP's larger divisor =
# smaller output at equal quality — the reason it is the reference default).
# Output mirrors the reference's Image model: re-encoded container bytes as
# base64 `data` + content_type + geometry (models.py:26-31, S26 encode).

TRANSCODE_DIVISORS = {"jpeg": 100, "png": None, "webp": 125}
DEFAULT_IMAGE_FORMAT = "webp"   # reference default, image_extractor.py:44
DEFAULT_IMAGE_QUALITY = 80      # reference default, image_extractor.py:45

TRANSCODE_SCHEMA = ("doc_id bigint, content_type string, width bigint, "
                    "height bigint, quality int, n_pixel_bytes bigint, "
                    "n_out_bytes bigint, data_b64 string")


def transcode_pixels(pixels: bytes, image_format: str, quality: int) -> bytes:
    """Deterministic quality/format-dependent re-encode of a decoded pixel
    run (the fake-codec stand-in for PIL `save(format=..., quality=...)`)."""
    div = TRANSCODE_DIVISORS[image_format]
    if div is None:  # lossless
        return pixels
    return pixels[:min(len(pixels), max(1, len(pixels) * quality // div))]


def _transcode_batches(image_format: str, quality: int):
    import base64

    import pandas as pd

    def fn(it: Iterator["object"]) -> Iterator["object"]:
        ct = f"image/{image_format}"
        for pdf in it:
            rows = []
            for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"],
                                           pdf["media_type"]):
                d = decode_media(payload, mt)
                kept = transcode_pixels(d["pixels"], image_format, quality)
                out = encode_fake_media(ct, d["width"], d["height"], kept)
                rows.append((doc_id, ct, d["width"], d["height"], quality,
                             len(d["pixels"]), len(out),
                             base64.b64encode(out).decode("ascii")))
            yield pd.DataFrame(rows, columns=["doc_id", "content_type",
                                              "width", "height", "quality",
                                              "n_pixel_bytes", "n_out_bytes",
                                              "data_b64"])
    return fn


def transcode_media(media: DataFrame,
                    image_format: str = DEFAULT_IMAGE_FORMAT,
                    quality: int = DEFAULT_IMAGE_QUALITY) -> DataFrame:
    if image_format not in TRANSCODE_DIVISORS:
        raise ValueError(f"unsupported image format: {image_format!r}")
    if not 1 <= quality <= 100:
        raise ValueError(f"quality out of range 1-100: {quality}")
    return media.mapInPandas(_transcode_batches(image_format, quality),
                             TRANSCODE_SCHEMA)


def q_media_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transcode_media(fake_media_table(spark, sf_dir))


# -- S25c: video frame sampling — every FRAME_STRIDE-th frame of the decoded
# pixel run, one output row per sampled frame (fan-out inside mapInPandas).
# Frame geometry on the fake codec: the pixel run is a sequence of
# FRAME_BYTES-byte frames (trailing partial frame dropped); a sampled frame
# emits (frame_idx, ts_ms at 25 fps, md5 of the frame's bytes).

FRAME_BYTES = 4
FRAME_STRIDE = 3
FRAME_MS = 40  # 25 fps

FRAME_SCHEMA = ("doc_id bigint, frame_idx bigint, ts_ms bigint, "
                "n_frames bigint, frame_hash string")


def video_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-codec table with a document-dependent pixel-run length
    (16 + n_chars % 24 bytes → 4..9 frames) so frame counts vary."""
    d = read_table(spark, sf_dir, "documents")
    mt = (F.when(F.col("n_chars") % 3 == 0, "image/png")
           .when(F.col("n_chars") % 3 == 1, "audio/wav")
           .otherwise("video/mp4"))
    width = (F.lit(64) + F.col("n_chars") % 640).cast("long")
    height = (F.lit(64) + (F.col("n_chars") * 7) % 480).cast("long")
    header = F.concat(mt, F.lit("|"), width.cast("string"), F.lit("x"),
                      height.cast("string"), F.lit("|"))
    payload = F.concat(F.lit(_FAKE_MAGIC),
                       F.encode(header, "UTF-8"),
                       F.encode(F.expr("substring(text, 1, 16 + n_chars % 24)"),
                                "UTF-8"))
    return d.select("doc_id", payload.alias("payload"),
                    mt.alias("media_type"))


def _frame_sample_batches(it: Iterator["object"]) -> Iterator["object"]:
    import pandas as pd
    for pdf in it:
        rows = []
        for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"],
                                       pdf["media_type"]):
            px = decode_media(payload, mt)["pixels"]
            n_frames = len(px) // FRAME_BYTES
            for f in range(0, n_frames, FRAME_STRIDE):
                frame = px[f * FRAME_BYTES:(f + 1) * FRAME_BYTES]
                rows.append((doc_id, f, f * FRAME_MS, n_frames,
                             hashlib.md5(frame).hexdigest()))
        yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "ts_ms",
                                          "n_frames", "frame_hash"])


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the video subset only — the media_type filter
    sits BEFORE the mapInPandas so Catalyst prunes non-video rows (and at
    a real scale, partitions) out of the Python stage entirely."""
    return (video_media_table(spark, sf_dir)
            .filter(F.col("media_type") == "video/mp4")
            .mapInPandas(_frame_sample_batches, FRAME_SCHEMA))


SQL_MEDIA_FEATURES = """
SELECT doc_id,
       'm-' || CAST(doc_id AS VARCHAR) AS media_ref,
       CASE WHEN n_chars % 3 = 0 THEN 'image/png'
            WHEN n_chars % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       CAST(octet_length(encode(substr(text, 1, 64))) AS BIGINT) AS n_bytes,
       64 + n_chars % 640 AS width,
       64 + (n_chars * 7) % 480 AS height,
       md5(substr(text, 1, 64)) AS payload_hash
FROM documents
"""


SQL_MEDIA_DECODE = """
SELECT doc_id,
       CASE WHEN n_chars % 3 = 0 THEN 'image/png'
            WHEN n_chars % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       64 + n_chars % 640 AS width,
       64 + (n_chars * 7) % 480 AS height,
       greatest(1, (64 + n_chars % 640) // 2) AS thumb_w,
       greatest(1, (64 + (n_chars * 7) % 480) // 2) AS thumb_h,
       CAST(octet_length(encode(substr(text, 1, 32))) AS BIGINT) AS n_pixel_bytes,
       md5(substr(text, 1, 32)) AS pixel_hash
FROM documents
"""


# Oracle geometry mirrors _resize_geometry: integer floor division only.
SQL_MEDIA_RESIZE = """
WITH geo AS (
  SELECT doc_id,
         CASE WHEN n_chars % 3 = 0 THEN 'image/png'
              WHEN n_chars % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         64 + n_chars % 640 AS width,
         64 + (n_chars * 7) % 480 AS height,
         md5(substr(text, 1, 32)) AS pixel_hash
  FROM documents
)
SELECT doc_id, media_type, width, height,
       CASE WHEN width <= 256 AND height <= 256 THEN width
            WHEN width >= height THEN 256
            ELSE greatest(1, width * 256 // height) END AS out_w,
       CASE WHEN width <= 256 AND height <= 256 THEN height
            WHEN width >= height THEN greatest(1, height * 256 // width)
            ELSE 256 END AS out_h,
       NOT (width <= 256 AND height <= 256) AS is_downscaled,
       (CASE WHEN width <= 256 AND height <= 256 THEN width
             WHEN width >= height THEN 256
             ELSE greatest(1, width * 256 // height) END)
       * (CASE WHEN width <= 256 AND height <= 256 THEN height
               WHEN width >= height THEN greatest(1, height * 256 // width)
               ELSE 256 END) AS n_out_pixels,
       pixel_hash
FROM geo
"""

# n_frames derives from the MATERIALIZED pixel run (octet_length of the
# encoded slice), exactly as the Spark worker computes len(pixels) //
# FRAME_BYTES — the formula (16 + n_chars % 24) // 4 would diverge whenever
# substr truncates (text shorter than the requested run) or a character
# encodes to more than one byte.  Only frame_hash still assumes ASCII text
# (VARCHAR substr slices chars; the worker slices bytes).
SQL_FRAME_SAMPLE = f"""
WITH vids AS (
  SELECT doc_id,
         substr(text, 1, 16 + n_chars % 24) AS px,
         octet_length(encode(substr(text, 1, 16 + n_chars % 24)))
           // {FRAME_BYTES} AS n_frames
  FROM documents
  WHERE n_chars % 3 = 2
)
SELECT doc_id,
       f AS frame_idx,
       f * {FRAME_MS} AS ts_ms,
       n_frames,
       md5(substr(px, 1 + f * {FRAME_BYTES}, {FRAME_BYTES})) AS frame_hash
FROM vids, unnest(range(0, n_frames, {FRAME_STRIDE})) AS t(f)
"""


# Oracle builds the identical re-encoded container as VARCHAR (fixture
# pixels are an ASCII text slice, so char slicing == the worker's byte
# slicing) and base64-encodes its bytes; byte counts use octet_length.
SQL_MEDIA_TRANSCODE = f"""
WITH geo AS (
  SELECT doc_id,
         64 + n_chars % 640 AS width,
         64 + (n_chars * 7) % 480 AS height,
         substr(text, 1, 32) AS px
  FROM documents
), t AS (
  SELECT doc_id, width, height,
         octet_length(encode(px)) AS n_px,
         'FAKE|image/{DEFAULT_IMAGE_FORMAT}|' || width || 'x' || height || '|'
           || substr(px, 1, least(length(px),
                greatest(1, length(px) * {DEFAULT_IMAGE_QUALITY}
                            // {TRANSCODE_DIVISORS[DEFAULT_IMAGE_FORMAT]})))
           AS container
  FROM geo
)
SELECT doc_id,
       'image/{DEFAULT_IMAGE_FORMAT}' AS content_type,
       width, height,
       {DEFAULT_IMAGE_QUALITY} AS quality,
       CAST(n_px AS BIGINT) AS n_pixel_bytes,
       CAST(octet_length(encode(container)) AS BIGINT) AS n_out_bytes,
       to_base64(encode(container)) AS data_b64
FROM t
"""


# -- perceptual-hash near-dup over decoded images ------------------------------
#
# Image near-dup — the multimodal core of a 100 TB training-data dedup:
# a dHash-family perceptual signature (difference hash: bit i = 1 iff
# pixel i is darker than pixel i+1 — the gradient-sign sketch behind
# pHash/dHash) computed from the GENUINELY DECODED pixel stream inside
# the Arrow-batched Python stage (the only Python — decode is where the
# real PIL/libav call swaps in), then near-dup pairs via EXACTLY the
# pigeonhole machinery text simhash uses (dedup.q_dedup_simhash_pairs):
# Hamming <= T pairs must agree on one of T+1 signature chunks, so
# candidates come from an equi-join on (chunk_idx, chunk_val) — one
# shuffle, fan-out bounded by bucket size, never O(N²) — and exact
# bit_count(xor) verifies.  The oracle restates the signature at
# code-point level (ascii(substr)) — identical to the byte-level Python
# value on this corpus, an assumption pinned by
# test_phash_fixture_is_ascii, exactly the contract the other fake-codec
# oracles already rely on.

PHASH_BITS = 16
PHASH_CHUNKS = 3        # T+1 chunks for Hamming <= PHASH_HAMMING_T
PHASH_HAMMING_T = 2


def dhash16(pixels: bytes) -> int:
    """16-bit difference hash over the first 17 pixel bytes."""
    h = 0
    for i in range(PHASH_BITS):
        if pixels[i] < pixels[i + 1]:
            h |= 1 << i
    return h


def _phash_batches(it: Iterator["object"]) -> Iterator["object"]:
    import pandas as pd
    for pdf in it:
        rows = []
        for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"],
                                       pdf["media_type"]):
            d = decode_media(payload, mt)
            if len(d["pixels"]) >= PHASH_BITS + 1:  # oracle: length(text)>=17
                rows.append((doc_id, dhash16(d["pixels"])))
        yield pd.DataFrame(rows, columns=["doc_id", "dhash"])


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = (fake_media_table(spark, sf_dir)
            .filter(F.col("media_type") == "image/png"))
    sig = imgs.mapInPandas(_phash_batches, "doc_id bigint, dhash bigint")
    bits_per = PHASH_BITS // PHASH_CHUNKS  # 16//3 = 5; last chunk gets 6
    chunked = sig.select(
        "doc_id", "dhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftright("dhash", c * bits_per).bitwiseAND(
                    F.lit((1 << (bits_per if c < PHASH_CHUNKS - 1
                                 else PHASH_BITS
                                 - bits_per * (PHASH_CHUNKS - 1))) - 1)
                ).alias("chunk_val"))
            for c in range(PHASH_CHUNKS)])).alias("ch")
    ).select("doc_id", "dhash", "ch.chunk_idx", "ch.chunk_val")
    a, b = chunked.alias("a"), chunked.alias("b")
    ham = F.expr("bit_count(a.dhash ^ b.dhash)")
    return (a.join(b, ["chunk_idx", "chunk_val"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"),
                    ham.cast("bigint").alias("hamming"))
            .filter(F.col("hamming") <= PHASH_HAMMING_T)
            .distinct())


def _sql_phash_neardup() -> str:
    terms = " + ".join(
        f"(CASE WHEN ascii(substr(px, {i + 1}, 1)) "
        f"< ascii(substr(px, {i + 2}, 1)) THEN {1 << i} ELSE 0 END)"
        for i in range(PHASH_BITS))
    bits_per = PHASH_BITS // PHASH_CHUNKS
    chunks = []
    for c in range(PHASH_CHUNKS):
        width = (bits_per if c < PHASH_CHUNKS - 1
                 else PHASH_BITS - bits_per * (PHASH_CHUNKS - 1))
        chunks.append(
            f"SELECT doc_id, dhash, {c} AS chunk_idx, "
            f"(dhash >> {c * bits_per}) & {(1 << width) - 1} AS chunk_val "
            "FROM sig")
    chunk_sql = " UNION ALL ".join(chunks)
    return f"""
WITH img AS (
  SELECT doc_id, substr(text, 1, 32) AS px
  FROM documents WHERE n_chars % 3 = 0 AND length(text) >= {PHASH_BITS + 1}),
sig AS (SELECT doc_id, {terms} AS dhash FROM img),
ch AS ({chunk_sql})
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
FROM ch a JOIN ch b USING (chunk_idx, chunk_val)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.dhash, b.dhash)) <= {PHASH_HAMMING_T}
"""


# -- exact media dedup (content-hash on the binary payload) -------------------
#
# The multimodal analog of dedup_exact: identical bytes → one keeper.
# Unlike the decode/feature queries this one never leaves the JVM —
# F.md5 runs on the binary column inside whole-stage codegen (hashing
# 100 TB of media in Python would be the textbook UDF mistake).


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact byte-identical media dedup: hash payload map-side, ONE
    mergeable groupBy(hash) (partial agg; keeper = min doc_id, group
    size = count), then an equi-join back on the uniform hash key to
    flag every member.  No window over the group (a viral image with
    10^7 copies would pin one task), no broadcast (the hash table is
    corpus-sized), no Python stage.  Same shape as dedup_exact
    (dedup.py) applied to the binary column."""
    m = media_table(spark, sf_dir).select(
        "doc_id", "media_type", F.md5("payload").alias("payload_hash"))
    grp = (m.groupBy("payload_hash")
           .agg(F.min("doc_id").alias("keeper_id"),
                F.count(F.lit(1)).alias("group_size")))
    return (m.join(grp, "payload_hash")
            .select("doc_id", "media_type", "payload_hash",
                    (F.col("doc_id") == F.col("keeper_id"))
                    .alias("is_keeper"),
                    F.col("group_size").cast("bigint").alias("group_size")))


SQL_MEDIA_DEDUP = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN n_chars % 3 = 0 THEN 'image/png'
              WHEN n_chars % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         md5(substr(text, 1, 64)) AS payload_hash
  FROM documents
), g AS (
  SELECT payload_hash, min(doc_id) AS keeper_id, count(*) AS group_size
  FROM m GROUP BY payload_hash
)
SELECT m.doc_id, m.media_type, m.payload_hash,
       m.doc_id = g.keeper_id AS is_keeper,
       CAST(g.group_size AS BIGINT) AS group_size
FROM m JOIN g USING (payload_hash)
"""


# --------------------------------------------------------------------------
# Audio constellation fingerprint (Shazam-lite).  The payload's byte run
# stands in for PCM samples (the real decoder swaps into decode_media, the
# frame math is codec-independent): non-overlapping 8-sample frames, each
# reduced to (peak position 1-based, first occurrence wins; energy bucket
# = byte-sum div 64).  Two clips are near-dup when they agree on
# AUDIO_MIN_SHARED aligned (frame, peak, energy) triples.
# --------------------------------------------------------------------------

AUDIO_FRAME = 8
AUDIO_MIN_SHARED = 4

_AUDIO_FP_SCHEMA = ("doc_id bigint, frame_idx bigint, peak_pos bigint, "
                    "energy_q bigint")


def _audio_fp_batches(it: Iterator["object"]) -> Iterator["object"]:
    """mapInPandas worker: frame the byte run and emit one constellation
    point per frame — the Arrow-stage analog of a real PCM peak pick."""
    import pandas as pd
    for pdf in it:
        out = {"doc_id": [], "frame_idx": [], "peak_pos": [], "energy_q": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            bs = bytes(payload)
            for f in range(len(bs) // AUDIO_FRAME):
                fr = bs[f * AUDIO_FRAME:(f + 1) * AUDIO_FRAME]
                peak = max(range(AUDIO_FRAME), key=lambda i: (fr[i], -i)) + 1
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(f)
                out["peak_pos"].append(peak)
                out["energy_q"].append(sum(fr) // 64)
        yield pd.DataFrame({k: pd.Series(v, dtype="int64")
                            for k, v in out.items()})


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs via constellation fingerprint matching.

    Scale shape: peak extraction is the Arrow batch stage (one pass over
    the audio payloads, output bounded by samples/FRAME — a pure map);
    matching is an INVERTED-INDEX equi-join on the (frame, peak, energy)
    triple — the posting-list join of ta_bm25/dedup_ngram, never an
    all-pairs audio comparison — followed by one mergeable pair count
    with the >= AUDIO_MIN_SHARED support filter after the aggregate.
    The DuckDB oracle re-derives the identical byte math from hex(payload)
    — the mapInPandas stage has an exact SQL restatement, proving the
    Python worker does nothing a declarative engine couldn't replay."""
    audio = media_table(spark, sf_dir).filter(
        F.col("media_type") == "audio/wav")
    fp = audio.select("doc_id", "payload").mapInPandas(
        _audio_fp_batches, _AUDIO_FP_SCHEMA)
    a = fp.select(F.col("doc_id").alias("d1"), "frame_idx", "peak_pos",
                  "energy_q")
    b = fp.select(F.col("doc_id").alias("d2"), "frame_idx", "peak_pos",
                  "energy_q")
    return (a.join(b, ["frame_idx", "peak_pos", "energy_q"])
            .filter(F.col("d1") < F.col("d2"))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
            .filter(F.col("shared") >= AUDIO_MIN_SHARED))


SQL_AUDIO_FINGERPRINT = f"""
WITH audio AS (
  SELECT doc_id, hex(encode(substr(text, 1, 64))) AS hx
  FROM documents WHERE n_chars % 3 = 1
), fr AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, CAST(len(hx) / 2 / {AUDIO_FRAME} AS BIGINT) - 1),
           f -> {{'frame_idx': f,
                  'bytes_': list_transform(
                      generate_series(1, {AUDIO_FRAME}),
                      i -> CAST(('0x' || substr(hx,
                                 (f * {AUDIO_FRAME} + i - 1) * 2 + 1, 2))
                                AS BIGINT))}})) AS u
  FROM audio
), fp AS (
  SELECT doc_id, CAST(u.frame_idx AS BIGINT) AS frame_idx,
         CAST(list_position(u.bytes_, list_max(u.bytes_)) AS BIGINT)
         AS peak_pos,
         CAST(list_sum(u.bytes_) // 64 AS BIGINT) AS energy_q
  FROM fr
)
SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS shared
FROM fp a JOIN fp b
  ON a.frame_idx = b.frame_idx AND a.peak_pos = b.peak_pos
 AND a.energy_q = b.energy_q AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {AUDIO_MIN_SHARED}
"""


# -- binaryFile-source ingestion ------------------------------------------------------

def q_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media ingestion through Spark's ``binaryFile`` SOURCE — the path a
    real 100 TB multimodal corpus takes (payloads live as object-store
    files, not parquet columns): scan (path, content), recover doc_id
    from the file name JVM-side, decode in the same Arrow-batched Python
    stage mm_media_decode uses.  The staging loop below only exists to
    materialize the fixture payloads as files; at scale the files are
    already there and the scan is split-parallel with partition pruning
    on the path glob.  The oracle is mm_media_decode's — the source swap
    must be invisible downstream."""
    import shutil
    import tempfile
    from pathlib import Path

    base = Path(tempfile.mkdtemp(prefix="bin_ingest_"))
    try:
        inp = base / "blobs"
        inp.mkdir()
        # fixture staging only (tiny at test SF); a real corpus starts here
        for r in fake_media_table(spark, sf_dir).collect():
            (inp / f"{r['doc_id']}.bin").write_bytes(bytes(r["payload"]))
        src = spark.read.format("binaryFile").load(str(inp))
        feats = src.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
             .cast("bigint").alias("doc_id"),
            F.col("content").alias("payload"),
            F.lit("").alias("media_type"))
        out = (feats.mapInPandas(_decode_batches, DECODE_SCHEMA)
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


# -- ViT-style patch tiling ------------------------------------------------------------

TILE_GRID = 4  # image divides into TILE_GRID x TILE_GRID patches

_TILE_SCHEMA = ("doc_id bigint, tile_row bigint, tile_col bigint, "
                "tile_w bigint, tile_h bigint, n_tile_pixels bigint")


def _tile_batches(it: Iterator["object"]) -> Iterator["object"]:
    import pandas as pd
    for pdf in it:
        rows = []
        for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"],
                                       pdf["media_type"]):
            d = decode_media(payload, mt)
            w, h = d["width"], d["height"]
            for r in range(TILE_GRID):
                for c in range(TILE_GRID):
                    # integer tiling: leftover pixels go to the last
                    # row/column, so tiles EXACTLY partition the image
                    tw = w // TILE_GRID + (w % TILE_GRID
                                           if c == TILE_GRID - 1 else 0)
                    th = h // TILE_GRID + (h % TILE_GRID
                                           if r == TILE_GRID - 1 else 0)
                    rows.append((doc_id, r, c, tw, th, tw * th))
        yield pd.DataFrame(rows, columns=["doc_id", "tile_row", "tile_col",
                                          "tile_w", "tile_h",
                                          "n_tile_pixels"])


def q_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch extraction over the image subset: each decoded
    image partitions EXACTLY into a TILE_GRID² patch grid (remainder
    pixels absorbed by the last row/column — no padding, no dropped
    pixels; the partition property is pinned by test).  The geometry
    stage a vision-training loader runs before pixel-patch flattening.

    Scale shape: image-only filter BEFORE the Arrow-batched Python
    stage, per-doc constant (TILE_GRID²) fan-out, zero shuffle —
    identical scaling to mm_frame_sample."""
    return (video_media_table(spark, sf_dir)
            .filter(F.col("media_type") == "image/png")
            .mapInPandas(_tile_batches, _TILE_SCHEMA))


def _sql_image_tiles() -> str:
    return f"""
WITH imgs AS (
  SELECT doc_id,
         64 + n_chars % 640 AS w,
         64 + (n_chars * 7) % 480 AS h
  FROM documents WHERE n_chars % 3 = 0
)
SELECT doc_id,
       r AS tile_row, c AS tile_col,
       CAST(w // {TILE_GRID}
            + CASE WHEN c = {TILE_GRID - 1} THEN w % {TILE_GRID}
                   ELSE 0 END AS BIGINT) AS tile_w,
       CAST(h // {TILE_GRID}
            + CASE WHEN r = {TILE_GRID - 1} THEN h % {TILE_GRID}
                   ELSE 0 END AS BIGINT) AS tile_h,
       CAST((w // {TILE_GRID}
             + CASE WHEN c = {TILE_GRID - 1} THEN w % {TILE_GRID}
                    ELSE 0 END)
            * (h // {TILE_GRID}
               + CASE WHEN r = {TILE_GRID - 1} THEN h % {TILE_GRID}
                      ELSE 0 END) AS BIGINT) AS n_tile_pixels
FROM imgs,
     unnest(generate_series(0, {TILE_GRID - 1})) AS tr(r),
     unnest(generate_series(0, {TILE_GRID - 1})) AS tc(c)
"""


# -- audio voice-activity detection ----------------------------------------------------

VAD_T = 420  # per-frame energy (sum of sample bytes) threshold

_VAD_SCHEMA = ("doc_id bigint, frame_idx bigint, energy bigint, "
               "is_active boolean")


def _vad_batches(it: Iterator["object"]) -> Iterator["object"]:
    import pandas as pd
    for pdf in it:
        rows = []
        for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"],
                                       pdf["media_type"]):
            px = decode_media(payload, mt)["pixels"]
            n_frames = len(px) // FRAME_BYTES
            for f in range(n_frames):
                frame = px[f * FRAME_BYTES:(f + 1) * FRAME_BYTES]
                energy = sum(frame)
                rows.append((doc_id, f, energy, energy >= VAD_T))
        yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "energy",
                                          "is_active"])


def q_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection over the audio subset: per-frame energy
    (sum of sample bytes) against VAD_T — the energy-gate VAD every audio
    curation pipeline runs before transcription to skip silence.  Same
    scale shape as mm_scene_cut: the media_type filter sits BEFORE the
    Arrow-batched Python stage, per-doc work linear, zero shuffle."""
    return (video_media_table(spark, sf_dir)
            .filter(F.col("media_type") == "audio/wav")
            .mapInPandas(_vad_batches, _VAD_SCHEMA))


def _sql_audio_vad() -> str:
    energy = " + ".join(
        f"ascii(substr(px, {j + 1} + f * {FRAME_BYTES}, 1))"
        for j in range(FRAME_BYTES))
    return f"""
WITH auds AS (
  SELECT doc_id,
         substr(text, 1, 16 + n_chars % 24) AS px,
         octet_length(encode(substr(text, 1, 16 + n_chars % 24)))
           // {FRAME_BYTES} AS n_frames
  FROM documents
  WHERE n_chars % 3 = 1
)
SELECT doc_id,
       f AS frame_idx,
       CAST({energy} AS BIGINT) AS energy,
       ({energy}) >= {VAD_T} AS is_active
FROM auds, unnest(range(0, n_frames)) AS t(f)
"""


# -- video scene-cut detection -------------------------------------------------------

SCENE_CUT_T = 48  # sum-abs-diff threshold across one FRAME_BYTES frame

_SCENE_SCHEMA = ("doc_id bigint, frame_idx bigint, delta bigint, "
                 "is_cut boolean")


def _scene_cut_batches(it: Iterator["object"]) -> Iterator["object"]:
    import pandas as pd
    for pdf in it:
        rows = []
        for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"],
                                       pdf["media_type"]):
            px = decode_media(payload, mt)["pixels"]
            n_frames = len(px) // FRAME_BYTES
            for f in range(1, n_frames):
                prev = px[(f - 1) * FRAME_BYTES:f * FRAME_BYTES]
                cur = px[f * FRAME_BYTES:(f + 1) * FRAME_BYTES]
                delta = sum(abs(a - b) for a, b in zip(prev, cur))
                rows.append((doc_id, f, delta, delta >= SCENE_CUT_T))
        yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "delta",
                                          "is_cut"])


def q_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection over the video subset: per consecutive frame
    pair, the sum of absolute per-byte pixel differences, flagged as a cut
    at SCENE_CUT_T — the SAD (sum-of-absolute-differences) detector every
    video curation pipeline runs before frame dedup/sampling.

    Scale shape: same as mm_frame_sample — the media_type filter sits
    BEFORE the Arrow-batched Python stage so Catalyst prunes non-video
    rows out of the decode entirely; per-doc work is linear in the pixel
    run, output rows bounded by frame count, zero shuffle.  The fake-codec
    decode is where real libav swaps in; the frame-delta math is already
    the real detector."""
    return (video_media_table(spark, sf_dir)
            .filter(F.col("media_type") == "video/mp4")
            .mapInPandas(_scene_cut_batches, _SCENE_SCHEMA))


def _sql_scene_cut() -> str:
    # SAD over the FRAME_BYTES-wide frames, restated at code-point level
    # (fixture ASCII pinned by test_phash_fixture_is_ascii)
    sad = " + ".join(
        f"abs(ascii(substr(px, {j + 1} + (f - 1) * {FRAME_BYTES}, 1)) - "
        f"ascii(substr(px, {j + 1} + f * {FRAME_BYTES}, 1)))"
        for j in range(FRAME_BYTES))
    return f"""
WITH vids AS (
  SELECT doc_id,
         substr(text, 1, 16 + n_chars % 24) AS px,
         octet_length(encode(substr(text, 1, 16 + n_chars % 24)))
           // {FRAME_BYTES} AS n_frames
  FROM documents
  WHERE n_chars % 3 = 2
)
SELECT doc_id,
       f AS frame_idx,
       CAST({sad} AS BIGINT) AS delta,
       ({sad}) >= {SCENE_CUT_T} AS is_cut
FROM vids, unnest(range(1, n_frames)) AS t(f)
"""


QUERIES = {
    "mm_binary_ingest": (q_binary_ingest, SQL_MEDIA_DECODE),
    "mm_image_tiles": (q_image_tiles, _sql_image_tiles()),
    "mm_audio_vad": (q_audio_vad, _sql_audio_vad()),
    "mm_scene_cut": (q_scene_cut, _sql_scene_cut()),
    "mm_audio_fingerprint": (q_audio_fingerprint, SQL_AUDIO_FINGERPRINT),
    "mm_media_features": (q_media_features, SQL_MEDIA_FEATURES),
    "mm_media_dedup": (q_media_dedup, SQL_MEDIA_DEDUP),
    "mm_media_decode": (q_media_decode, SQL_MEDIA_DECODE),
    "mm_media_resize": (q_media_resize, SQL_MEDIA_RESIZE),
    "mm_frame_sample": (q_frame_sample, SQL_FRAME_SAMPLE),
    "mm_media_transcode": (q_media_transcode, SQL_MEDIA_TRANSCODE),
    "mm_phash_neardup": (q_phash_neardup, _sql_phash_neardup()),
}
