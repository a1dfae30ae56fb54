"""Multimodal columns for training-data pipelines (SURVEY §2 D13-D14).

Images/audio/video are opaque ``binary`` columns with typed metadata riding
alongside. No media libraries ship in this container, so payload bytes are
deterministic fakes (unhex of repeated md5) and the real decode step is a
clearly marked stub — but the Spark-side plumbing is real and is the part
that matters at 100 TB: binary columns flow through parquet scans and Arrow
batches untouched, metadata stays in typed scalar/struct columns the
optimizer can prune and filter WITHOUT touching payload bytes, and feature
extraction runs as ``mapInPandas`` over bounded Arrow batches (payloads
never concentrate on the driver or in one worker's memory).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frolyk_spark.functions.hashing import (
    portable_hash_expr, portable_hash_py, portable_hash_sql,
)
from frolyk_spark.functions.lineage import cut_lineage
from frolyk_spark.sources.catalog import load_table

MODALITIES = ("image", "audio", "video")


def multimodal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The typed multimodal frame other operators consume: doc_id, modality,
    binary payload, and a metadata struct (all deterministic)."""
    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash_expr("text")
    payload = F.unhex(F.repeat(F.md5("text"), (F.pmod("doc_id", F.lit(4)) + 1).cast("int")))
    modality = F.element_at(F.array(*[F.lit(m) for m in MODALITIES]), (F.pmod("doc_id", F.lit(3)) + 1).cast("int"))
    meta = F.struct(
        (64 + F.pmod(h, F.lit(960))).cast("int").alias("width"),
        (64 + F.pmod(F.shiftright(h, 10), F.lit(960))).cast("int").alias("height"),
        (1000 + F.pmod(F.shiftright(h, 20), F.lit(59000))).cast("int").alias("duration_ms"),
    )
    return docs.select("doc_id", modality.alias("modality"), payload.alias("payload"), meta.alias("meta"))


# --- D13: manifest (oracle-checked scalar projection) ------------------------

def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest view: one row per asset with modality, payload size and
    typed metadata — flattened to scalars so the DuckDB oracle can
    value-check every derivation (the binary column itself is exercised by
    multimodal_features / tests)."""
    t = multimodal_table(spark, sf_dir)
    return t.select(
        "doc_id",
        "modality",
        F.length("payload").cast("bigint").alias("byte_len"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
    )


def _manifest_sql() -> str:
    h = portable_hash_sql("text")
    return f"""
SELECT doc_id,
       ['image', 'audio', 'video'][(doc_id % 3) + 1] AS modality,
       octet_length(unhex(repeat(md5(text), cast(doc_id % 4 + 1 as int)))) AS byte_len,
       cast(64 + ({h}) % 960 as int) AS width,
       cast(64 + (({h}) >> 10) % 960 as int) AS height,
       cast(1000 + (({h}) >> 20) % 59000 as int) AS duration_ms
FROM documents
"""


# --- D14: feature extraction over Arrow batches -------------------------------

def _decode_media(payload: bytes, modality: str):
    """Decode boundary. All three modalities run REAL decoders now (r7):
    dependency-free spec-conforming BMP / WAV / FVID parsers
    (frolyk_spark.functions.codecs — header validation, stride arithmetic,
    bottom-up row flip, RIFF chunk walking, length-prefixed frame
    traversal), exercised end-to-end by media_decode / video_decode below.
    Only *compressed* video payloads (no FVID magic) raise the loud stub —
    H.264/VP9 decode genuinely needs pyav.

    Returns: image -> (width, height, BGR bytes), audio -> (sample_rate,
    n_samples, samples list), video -> (width, height, fps, frame list)."""
    from frolyk_spark.functions.codecs import (
        FVID_MAGIC, decode_bmp, decode_fvid, decode_wav,
    )

    if modality == "image":
        return decode_bmp(payload)
    if modality == "audio":
        rate, samples = decode_wav(payload)
        return rate, len(samples), samples
    if modality == "video" and payload[:4] == FVID_MAGIC:
        return decode_fvid(payload)
    raise NotImplementedError(
        f"media decode for {modality!r} payloads in compressed codecs "
        "requires pyav; install it and extend this dispatch"
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction via mapInPandas: payload length, a
    32-bit prefix fingerprint, and bytes-per-pixel density from metadata.
    Shows the Arrow-batch shape real decoders plug into (swap
    `_decode_media` in); payloads stay distributed, batch-bounded."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            byte_len = payloads.map(len).astype("int64")
            # portable floor round, NOT pandas .round(8): numpy rounds
            # half-EVEN while the DuckDB oracle rounds half-away — an
            # exactly-dyadic ratio like 16/8192 diverges between them
            bpp = (byte_len / (pdf["width"] * pdf["height"])).astype("float64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "byte_len": byte_len,
                    "prefix_u32": payloads.map(
                        lambda b: int.from_bytes(b[:4], "big")
                    ).astype("int64"),
                    "bytes_per_pixel": np.floor(bpp * 1e8 + 0.5) / 1e8,
                }
            )

    t = multimodal_table(spark, sf_dir).select(
        "doc_id", "modality", "payload", F.col("meta.width").alias("width"), F.col("meta.height").alias("height")
    )
    return t.mapInPandas(
        extract,
        "doc_id bigint, modality string, byte_len bigint, prefix_u32 bigint, bytes_per_pixel double",
    )


def _features_sql() -> str:
    h = portable_hash_sql("text")
    blob = "unhex(repeat(md5(text), cast(doc_id % 4 + 1 as int)))"
    return f"""
SELECT doc_id,
       ['image', 'audio', 'video'][(doc_id % 3) + 1] AS modality,
       octet_length({blob}) AS byte_len,
       cast(concat('0x', substr(md5(text), 1, 8)) as bigint) AS prefix_u32,
       floor((octet_length({blob}) * 1.0 /
              ((64 + ({h}) % 960) * (64 + (({h}) >> 10) % 960)))
             * 100000000.0 + 0.5) / 100000000.0 AS bytes_per_pixel
FROM documents
"""


# --- D24: resize plumbing (thumbnail pass) -----------------------------------

#: thumbnail long-edge target for media_resize
RESIZE_MAX_DIM = 128


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing over mapInPandas: compute the aspect-preserving
    thumbnail geometry (long edge {RESIZE_MAX_DIM}, never upscale) and emit
    the resized payload's size and hash.

    The real kernel would be PIL `Image.resize` on the decoded payload (the
    decode stub `_decode_media` marks that boundary); the stand-in kernel is
    a DETERMINISTIC proportional byte truncation — pure integer arithmetic,
    so the whole pass (geometry + output bytes + hash) is value-checked by
    the DuckDB oracle. What's real and load-bearing at 100 TB: payload
    bytes stream through bounded Arrow batches on the executors, geometry
    comes from the pruned metadata struct, and output is a new binary-col
    frame ready to write back to parquet.
    """
    import hashlib

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w, h = pdf["width"], pdf["height"]
            long_edge = w.combine(h, max)
            # integer scale arithmetic (floor) — portable across engines
            tw = (w * RESIZE_MAX_DIM // long_edge).where(long_edge > RESIZE_MAX_DIM, w)
            th = (h * RESIZE_MAX_DIM // long_edge).where(long_edge > RESIZE_MAX_DIM, h)
            blen = pdf["payload"].map(len)
            out_len = (blen * (tw * th) // (w * h)).clip(lower=1)
            out = [p[:n] for p, n in zip(pdf["payload"], out_len)]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "target_w": tw.astype("int32"),
                    "target_h": th.astype("int32"),
                    "out_bytes": out_len.astype("int64"),
                    # fingerprint over the lowercase-hex encoding (DuckDB
                    # can't md5 raw blobs, bytes.hex() is the portable form)
                    "out_hash": [portable_hash_py(p.hex()) for p in out],
                }
            )

    t = multimodal_table(spark, sf_dir).where(F.col("modality") == "image").select(
        "doc_id", "payload",
        F.col("meta.width").alias("width"), F.col("meta.height").alias("height"),
    )
    return t.mapInPandas(
        resize,
        "doc_id bigint, target_w int, target_h int, out_bytes bigint, out_hash bigint",
    )


def _resize_sql() -> str:
    h = portable_hash_sql("text")
    # work in lowercase-hex space: byte k of the payload = hex chars
    # 2k-1..2k (md5() output is lowercase, matching bytes.hex())
    return f"""
WITH m AS (
  SELECT doc_id,
         repeat(md5(text), cast(doc_id % 4 + 1 as int)) AS hexpayload,
         cast(64 + ({h}) % 960 as int) AS w,
         cast(64 + (({h}) >> 10) % 960 as int) AS h
  FROM documents
  WHERE ['image', 'audio', 'video'][(doc_id % 3) + 1] = 'image'
),
geo AS (
  SELECT doc_id, hexpayload, w, h, length(hexpayload) // 2 AS blen,
         CASE WHEN greatest(w, h) > {RESIZE_MAX_DIM}
              THEN w * {RESIZE_MAX_DIM} // greatest(w, h) ELSE w END AS tw,
         CASE WHEN greatest(w, h) > {RESIZE_MAX_DIM}
              THEN h * {RESIZE_MAX_DIM} // greatest(w, h) ELSE h END AS th
  FROM m
),
sized AS (
  SELECT doc_id, hexpayload, tw, th,
         greatest(blen * (tw * th) // (w * h), 1) AS out_len
  FROM geo
)
SELECT doc_id,
       cast(tw as int) AS target_w,
       cast(th as int) AS target_h,
       cast(out_len as bigint) AS out_bytes,
       {portable_hash_sql("substr(hexpayload, 1, cast(2 * out_len as int))")} AS out_hash
FROM sized
"""


# --- D25: frame sampling plumbing --------------------------------------------

#: frames sampled per video payload
N_FRAMES = 4
#: bytes hashed per sampled frame
FRAME_BYTES = 8


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: {N_FRAMES} uniformly-strided sample
    positions per video payload, emitting one row per frame with its byte
    offset and a fingerprint of the {FRAME_BYTES}-byte window there.

    The real kernel would be pyav keyframe extraction (decode boundary =
    `_decode_media`); the stand-in samples raw byte windows at
    deterministic offsets — integer arithmetic only, oracle-checkable.
    Real at scale: the fan-out (1 asset row -> N frame rows) happens
    executor-side inside the Arrow batch, never on the driver, and the
    emitted frame table is the shape a caption/embedding stage consumes.
    """
    import hashlib

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_offset": [], "frame_hash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                blen = len(payload)
                for j in range(N_FRAMES):
                    off = 1 + (j * blen) // N_FRAMES  # 1-based, < blen + 1
                    window = payload[off - 1 : off - 1 + FRAME_BYTES]
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(j)
                    rows["frame_offset"].append(off)
                    # fingerprint over the lowercase-hex window (portable)
                    rows["frame_hash"].append(portable_hash_py(window.hex()))
            yield pd.DataFrame(rows)

    t = multimodal_table(spark, sf_dir).where(F.col("modality") == "video").select(
        "doc_id", "payload"
    )
    return t.mapInPandas(
        sample,
        "doc_id bigint, frame_idx int, frame_offset int, frame_hash bigint",
    )


def _frame_sample_sql() -> str:
    return f"""
WITH v AS (
  SELECT doc_id,
         repeat(md5(text), cast(doc_id % 4 + 1 as int)) AS hexpayload,
         length(repeat(md5(text), cast(doc_id % 4 + 1 as int))) // 2 AS blen
  FROM documents
  WHERE ['image', 'audio', 'video'][(doc_id % 3) + 1] = 'video'
),
frames AS (
  SELECT doc_id, hexpayload,
         1 + (frame_idx * blen) // {N_FRAMES} AS frame_offset,
         frame_idx
  FROM v, unnest(range(0, {N_FRAMES})) t(frame_idx)
)
SELECT doc_id,
       cast(frame_idx as int) AS frame_idx,
       cast(frame_offset as int) AS frame_offset,
       {portable_hash_sql(f"substr(hexpayload, cast(2 * (frame_offset - 1) + 1 as int), {2 * FRAME_BYTES})")} AS frame_hash
FROM frames
"""


# --- D58: real encode -> decode round trip (BMP/WAV) --------------------------

#: md5-hex repeats per asset content source (768 bytes, covers the largest
#: image (3*32*8) and audio (2*255) content this operator synthesizes)
MEDIA_SRC_REPEATS = 48


def media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode over mapInPandas (closes the r6 'decode stubbed'
    gap for image/audio): synthesize an actual spec-conforming container
    per document — uncompressed 24-bit BMP for even doc_ids, PCM16 mono
    WAV for odd — around deterministic md5-derived content bytes, then
    decode it back with the real parsers behind `_decode_media` (header
    validation, stride/bottom-up handling, RIFF chunk walk) and emit
    decoded stats. The DuckDB oracle computes the SAME stats directly from
    the content-generation rule, so a decoder that mis-parses stride,
    origin, or chunk layout diverges. Both encode and decode run
    executor-side in one Arrow-batched pass over the documents scan — no
    shuffle, payloads never leave the executors.

    Columns: dim1/dim2 = (width, height) for images, (sample_rate,
    n_samples) for audio; content_sum = sum of decoded BGR byte values /
    sum of decoded signed samples; head_val = top-left pixel as a BGR
    24-bit int / first sample."""
    import hashlib

    from frolyk_spark.functions.codecs import encode_bmp, encode_wav

    def synth_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "modality": [], "dim1": [], "dim2": [],
                "content_sum": [], "head_val": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                src = bytes.fromhex(
                    hashlib.md5(text.encode()).hexdigest() * MEDIA_SRC_REPEATS
                )
                if doc_id % 2 == 0:
                    w = 4 * (1 + doc_id % 8)
                    h = 2 + doc_id % 7
                    payload = encode_bmp(src[: 3 * w * h], w, h)
                    dw, dh, content = _decode_media(bytes(payload), "image")
                    out["modality"].append("image")
                    out["dim1"].append(dw)
                    out["dim2"].append(dh)
                    out["content_sum"].append(sum(content))
                    out["head_val"].append(
                        content[0] * 65536 + content[1] * 256 + content[2]
                    )
                else:
                    n = 64 + doc_id % 192
                    rate = 8000 + 100 * (doc_id % 80)
                    samples = [
                        int.from_bytes(src[2 * i : 2 * i + 2], "little", signed=True)
                        for i in range(n)
                    ]
                    payload = encode_wav(samples, rate)
                    drate, dn, dsamples = _decode_media(bytes(payload), "audio")
                    out["modality"].append("audio")
                    out["dim1"].append(drate)
                    out["dim2"].append(dn)
                    out["content_sum"].append(sum(dsamples))
                    out["head_val"].append(dsamples[0])
                out["doc_id"].append(doc_id)
            yield pd.DataFrame(out)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        synth_and_decode,
        "doc_id bigint, modality string, dim1 bigint, dim2 bigint,"
        " content_sum bigint, head_val bigint",
    )


def _hexsrc_byte(j_expr: str) -> str:
    """DuckDB expression for byte j (0-based) of the md5-derived content
    source (hex chars 2j+1..2j+2 of the `hexsrc` column) — ONE definition
    shared by every oracle that re-derives content bytes (media_decode and
    the binaryFile ingest), so the byte-addressing rule can never drift
    between them."""
    return f"cast(concat('0x', substr(hexsrc, 2 * ({j_expr}) + 1, 2)) as bigint)"


def _img_rows_sql() -> str:
    """The image half of the decode oracle (doc_id % 2 = 0 rows): expected
    (dim1, dim2, content_sum, head_val) computed straight from the content
    rule. Shared by media_decode (unioned with the audio half) and
    media_binary_ingest (image files are the only staged assets)."""
    b = _hexsrc_byte
    return f"""
src AS (
  SELECT doc_id, repeat(md5(text), {MEDIA_SRC_REPEATS}) AS hexsrc
  FROM documents
),
img AS (
  SELECT doc_id, hexsrc,
         4 * (1 + doc_id % 8) AS w,
         2 + doc_id % 7 AS h
  FROM src WHERE doc_id % 2 = 0
),
img_rows AS (
  SELECT doc_id, 'image' AS modality,
         cast(w AS BIGINT) AS dim1, cast(h AS BIGINT) AS dim2,
         cast(list_aggregate(list_transform(range(0, cast(3 * w * h as int)),
                                            j -> {b('j')}), 'sum') AS BIGINT)
           AS content_sum,
         cast({b('0')} * 65536 + {b('1')} * 256 + {b('2')} AS BIGINT)
           AS head_val
  FROM img
)"""


def _media_decode_sql() -> str:
    def b(j_expr: str) -> str:
        return _hexsrc_byte(j_expr)

    # signed little-endian int16 from bytes (2i, 2i+1)
    sample = (
        f"({b('2 * i')} + 256 * {b('2 * i + 1')}) "
        f"- CASE WHEN {b('2 * i + 1')} >= 128 THEN 65536 ELSE 0 END"
    )
    return f"""
WITH {_img_rows_sql().strip()},
aud AS (
  SELECT doc_id, hexsrc,
         8000 + 100 * (doc_id % 80) AS rate,
         64 + doc_id % 192 AS n
  FROM src WHERE doc_id % 2 = 1
),
aud_rows AS (
  SELECT doc_id, 'audio' AS modality,
         cast(rate AS BIGINT) AS dim1, cast(n AS BIGINT) AS dim2,
         cast(list_aggregate(list_transform(range(0, cast(n as int)),
                                            i -> {sample}), 'sum') AS BIGINT)
           AS content_sum,
         cast(({b('0')} + 256 * {b('1')})
              - CASE WHEN {b('1')} >= 128 THEN 65536 ELSE 0 END AS BIGINT)
           AS head_val
  FROM aud
)
SELECT * FROM img_rows UNION ALL SELECT * FROM aud_rows
"""


# --- E17: binaryFile-source ingest of real asset files ------------------------

def stage_binary_assets(spark: SparkSession, sf_dir: str) -> str:
    """One real .bmp FILE per image-modality document (even doc_ids),
    staged once per dataset as a persisted artifact — the test-scale
    stand-in for the object-store prefix a 100 TB media corpus actually
    lives in. Files are written EXECUTOR-side (mapInPandas over the
    documents scan; local mode shares the filesystem, a cluster would
    write the same loop against object storage) with atomic per-file
    renames — never a driver collect."""
    from frolyk_spark.functions.codecs import encode_bmp
    from frolyk_spark.sources.streams import artifact

    def build(out: str) -> None:
        def write_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import hashlib as _h
            import os as _os
            import uuid as _uuid

            for pdf in batches:
                n = 0
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    if doc_id % 2 != 0:
                        continue
                    src = bytes.fromhex(
                        _h.md5(text.encode()).hexdigest() * MEDIA_SRC_REPEATS
                    )
                    w = 4 * (1 + doc_id % 8)
                    h = 2 + doc_id % 7
                    payload = bytes(encode_bmp(src[: 3 * w * h], w, h))
                    tmp = _os.path.join(out, f".img_{doc_id}.{_uuid.uuid4().hex[:6]}")
                    with open(tmp, "wb") as fh:
                        fh.write(payload)
                    _os.replace(tmp, _os.path.join(out, f"img_{doc_id:010d}.bmp"))
                    n += 1
                yield pd.DataFrame({"n": [n]})

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        docs.mapInPandas(write_files, "n bigint").agg(F.sum("n")).collect()

    path, _ = artifact(
        "assets", [os.path.join(sf_dir, "documents.parquet")],
        ("bmp", MEDIA_SRC_REPEATS), build,
    )
    return path


def media_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real media INGEST path (E17): a directory of actual .bmp files
    read through Spark's built-in ``binaryFile`` source — the format a
    100 TB image corpus arrives in (an object-store prefix of asset
    files), complementing the parquet-embedded binary-column path the
    rest of the multimodal block uses. ``pathGlobFilter`` pushes the
    suffix filter into the file LISTING (non-matching files are never
    opened); the source splits work by files under
    ``spark.sql.files.maxPartitionBytes``, so decode parallelism scales
    with the corpus, not the file count of one directory listing.

    Each asset decodes with the same real BMP parser media_decode uses
    (one Arrow-batched mapInPandas; payloads never leave the executors),
    keyed by the doc_id parsed from its file name, and emits the same
    decoded stats — so the oracle is the image half of media_decode's:
    a divergence ANYWHERE in file write, listing, binary transport, or
    decode shows up as a hash red, not just a row-count drift.
    """
    path = stage_binary_assets(spark, sf_dir)
    assets = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"img_(\d+)\.bmp$", 1)
            .cast("bigint")
            .alias("doc_id"),
            "content",
        )
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "modality": [], "dim1": [], "dim2": [],
                "content_sum": [], "head_val": [],
            }
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                dw, dh, pix = _decode_media(bytes(content), "image")
                out["doc_id"].append(doc_id)
                out["modality"].append("image")
                out["dim1"].append(dw)
                out["dim2"].append(dh)
                out["content_sum"].append(sum(pix))
                out["head_val"].append(pix[0] * 65536 + pix[1] * 256 + pix[2])
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        decode,
        "doc_id bigint, modality string, dim1 bigint, dim2 bigint,"
        " content_sum bigint, head_val bigint",
    )


def _binary_ingest_sql() -> str:
    return f"""
WITH {_img_rows_sql().strip()}
SELECT * FROM img_rows
"""


# --- D60: real video container decode + strided frame sampling ---------------

#: md5-hex repeats per video content source: covers the max frame bytes
#: (3*8*5 = 120) times the max frame count (6) = 720 bytes = 45 * 16
VIDEO_SRC_REPEATS = 45
#: strided sample positions per video (first / middle / last frame)
VIDEO_SAMPLES = 3


def video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode + frame sampling (upgrades D25 from plumbing-only):
    synthesize a spec-conforming FVID container per document — a fixed
    header plus length-prefixed complete BMP frames, the uncompressed
    AVI/MJPEG shape — around deterministic md5-derived frame content, then
    decode it back through `_decode_media`'s real FVID parser (container
    walk + per-frame BMP stride/bottom-up handling) and emit per-frame
    stats for {VIDEO_SAMPLES} uniformly-strided sample positions
    (first/middle/last). The DuckDB oracle recomputes the same stats from
    the content-generation rule, so a mis-parse of the frame walk, frame
    order, or any BMP row diverges.

    Scale shape: encode + decode + sample run executor-side in ONE
    Arrow-batched mapInPandas pass over the documents scan — no shuffle,
    no driver traffic; the 1-asset -> {VIDEO_SAMPLES}-frame fan-out
    happens inside the batch. Width 3..8 exercises every BMP stride
    residue; frame counts 2..6 exercise the container walk."""
    import hashlib

    from frolyk_spark.functions.codecs import encode_fvid

    def synth_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [], "width": [], "height": [],
                "fps": [], "n_frames": [], "frame_sum": [], "head_val": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                src = bytes.fromhex(
                    hashlib.md5(text.encode()).hexdigest() * VIDEO_SRC_REPEATS
                )
                w = 3 + doc_id % 6
                h = 2 + doc_id % 4
                nf = 2 + doc_id % 5
                fps = 5 + doc_id % 56
                fb = 3 * w * h
                frames = [src[fb * f : fb * (f + 1)] for f in range(nf)]
                dw, dh, dfps, dframes = _decode_media(
                    bytes(encode_fvid(frames, w, h, fps)), "video"
                )
                for idx in sorted({0, (nf - 1) // 2, nf - 1}):
                    content = dframes[idx]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["width"].append(dw)
                    out["height"].append(dh)
                    out["fps"].append(dfps)
                    out["n_frames"].append(len(dframes))
                    out["frame_sum"].append(sum(content))
                    out["head_val"].append(
                        content[0] * 65536 + content[1] * 256 + content[2]
                    )
            yield pd.DataFrame(out)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        synth_and_decode,
        "doc_id bigint, frame_idx bigint, width bigint, height bigint,"
        " fps bigint, n_frames bigint, frame_sum bigint, head_val bigint",
    )


def _video_decode_sql() -> str:
    # byte j (0-based) of the content source = hex chars 2j+1..2j+2
    def b(j_expr: str) -> str:
        return f"cast(concat('0x', substr(hexsrc, 2 * ({j_expr}) + 1, 2)) as bigint)"

    return f"""
WITH v AS (
  SELECT doc_id, repeat(md5(text), {VIDEO_SRC_REPEATS}) AS hexsrc,
         3 + doc_id % 6 AS w,
         2 + doc_id % 4 AS h,
         2 + doc_id % 5 AS nf,
         5 + doc_id % 56 AS fps
  FROM documents
),
sampled AS (
  SELECT DISTINCT doc_id, hexsrc, w, h, nf, fps, 3 * w * h AS fb, frame_idx
  FROM v, unnest([0, (nf - 1) // 2, nf - 1]) t(frame_idx)
)
SELECT doc_id,
       cast(frame_idx AS BIGINT) AS frame_idx,
       cast(w AS BIGINT) AS width,
       cast(h AS BIGINT) AS height,
       cast(fps AS BIGINT) AS fps,
       cast(nf AS BIGINT) AS n_frames,
       cast(list_aggregate(list_transform(range(0, cast(fb as int)),
                                          j -> {b('fb * frame_idx + j')}),
                           'sum') AS BIGINT) AS frame_sum,
       cast({b('fb * frame_idx')} * 65536 + {b('fb * frame_idx + 1')} * 256
            + {b('fb * frame_idx + 2')} AS BIGINT) AS head_val
FROM sampled
"""


# --- D70: perceptual image near-dup (dHash over the REAL decode path) --------

#: synthesized thumbnail geometry: 12x8 BGR — small enough that the whole
#: dHash is oracle-checkable pixel-by-pixel, wide enough that the 9-column
#: grid sampling is non-trivial (x = gx*12//9 skips pixels 3, 7, 11)
IMG_W, IMG_H = 12, 8
#: dHash grid: 9 sample columns x 7 sample rows -> 8x7 = 56 comparison
#: bits, deliberately < 63 so the code stays a positive BIGINT in both
#: engines (bit 63 would wrap DuckDB's shift; same reasoning as the
#: portable 60-bit md5 hash)
DHASH_GRID_X, DHASH_GRID_Y = 9, 7
DHASH_BITS = (DHASH_GRID_X - 1) * DHASH_GRID_Y
#: pigeonhole blocking (Manku WWW'07, same scheme as dedup_simhash_pairs):
#: 4 blocks of 14 bits -> exact recall for Hamming distance <= 3
DHASH_BLOCKS = 4
DHASH_HAMMING_T = DHASH_BLOCKS - 1
#: near-dup planting: documents in groups of 5 share a base image
#: (md5 of the group key) and variant v perturbs v bytes at positions
#: (37*i + 11*v) % 288 by +64+v mod 256 — some perturbations land on
#: sampled pixels (distance grows past the threshold), many don't
#: (distance stays 0-3), so both sides of the verify filter are exercised
IMG_GROUP = 5
IMG_SRC_REPEATS = (3 * IMG_W * IMG_H) // 16  # md5 = 16 bytes
_PERT_STRIDE, _PERT_OFF, _PERT_DELTA = 37, 11, 64


def dhash_codes_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, dhash) from any frame with a doc_id column: synthesize the
    document's thumbnail, round-trip it through the REAL BMP
    encoder/decoder (frolyk_spark.functions.codecs), and compute the
    56-bit difference hash from the DECODED pixels — grayscale = B+G+R
    (integer-exact, no /3), grid cell = pixel at (gx*w//9, gy), bit =
    strict left<right comparison. One Arrow-batched mapInPandas pass;
    payloads never leave the executors. Frame form (E5 convention) so the
    streaming micro-batch path (stream_media_dedup) shares the exact
    kernel the batch operators use."""
    import hashlib

    from frolyk_spark.functions.codecs import decode_bmp, encode_bmp

    n_bytes = 3 * IMG_W * IMG_H
    xs = [(gx * IMG_W) // DHASH_GRID_X for gx in range(DHASH_GRID_X)]
    weights = (
        np.int64(1) << np.arange(DHASH_GRID_Y * 8, dtype=np.int64).reshape(
            DHASH_GRID_Y, 8
        )
    )[:, : DHASH_GRID_X - 1]

    def codes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "dhash": []}
            for doc_id in pdf["doc_id"]:
                g, v = int(doc_id) // IMG_GROUP, int(doc_id) % IMG_GROUP
                content = bytearray.fromhex(
                    hashlib.md5(f"img{g}".encode()).hexdigest() * IMG_SRC_REPEATS
                )
                for i in range(v):
                    pos = (_PERT_STRIDE * i + _PERT_OFF * v) % n_bytes
                    content[pos] = (content[pos] + _PERT_DELTA + v) % 256
                _, _, decoded = decode_bmp(
                    bytes(encode_bmp(bytes(content), IMG_W, IMG_H))
                )
                gray = (
                    np.frombuffer(bytes(decoded), dtype=np.uint8)
                    .astype(np.int64)
                    .reshape(IMG_H, IMG_W, 3)
                    .sum(axis=2)
                )
                grid = gray[:DHASH_GRID_Y, xs]
                bits = (grid[:, 1:] > grid[:, :-1]).astype(np.int64)
                out["doc_id"].append(int(doc_id))
                out["dhash"].append(int((bits * weights).sum()))
            yield pd.DataFrame(out)

    return docs.select("doc_id").mapInPandas(codes, "doc_id bigint, dhash bigint")


def _dhash_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return dhash_codes_frame(docs)


def _dhash_artifact(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """(path, bytes) of the persisted dHash artifact; the bytes size the
    clustering consumer's fixed-plan loop. The key carries the code and
    thumbnail geometry: a change re-decodes."""
    from frolyk_spark.sources.streams import artifact

    return artifact(
        "signatures", [os.path.join(sf_dir, "documents.parquet")],
        ("dhash", DHASH_GRID_X, DHASH_GRID_Y, IMG_W, IMG_H, IMG_GROUP),
        lambda d: _dhash_codes(spark, sf_dir).write.mode("overwrite").parquet(d),
    )


def persisted_dhash_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perceptual code table persisted once per source dataset and
    reread on later calls — the E4 shape (persisted_minhash_signatures)
    for the media modality: codes are computed when assets land, and
    every consumer (pairing, clustering, the streaming incremental
    probe, re-runs at new thresholds) reads the parquet instead of
    re-decoding the corpus."""
    return spark.read.parquet(_dhash_artifact(spark, sf_dir)[0])


def _hamming_pairs(codes: DataFrame, col: str) -> DataFrame:
    """D31's pigeonhole pairing over a {DHASH_BITS}-bit code column: each
    code emits {DHASH_BLOCKS} (block_id, 14-bit block_val) keys; a pair
    within Hamming distance {DHASH_HAMMING_T} MUST collide on at least one
    (exact recall); candidates come from one equi-join and verify with a
    single JVM bit_count(xor). ``codes`` must be a bare scan or already
    lineage-cut — both sides of the self-join consume it."""
    blocks = _code_blocks(codes, col)
    a, b = blocks.alias("a"), blocks.alias("b")
    hamming = F.expr(f"bit_count(a.{col} ^ b.{col})")
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(hamming <= DHASH_HAMMING_T)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("bigint").alias("hamming"),
        )
        .distinct()
    )


def _code_blocks(codes: DataFrame, col: str) -> DataFrame:
    """(doc_id, <col>, block_id, block_val) pigeonhole keys for a code
    frame — the map-only fan-out both the self-join (_hamming_pairs) and
    the probe join (media_probe_pairs) build on."""
    bits_per = DHASH_BITS // DHASH_BLOCKS
    mask = (1 << bits_per) - 1
    return codes.select(
        "doc_id",
        col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        F.shiftright(col, i * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for i in range(DHASH_BLOCKS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", col, "bk.block_id", "bk.block_val")


def media_probe_pairs(
    probe: DataFrame, corpus: DataFrame, col: str = "dhash"
) -> DataFrame:
    """Batch-vs-corpus form of the pigeonhole pairing (what
    dedup.probe_pairs is to the minhash band join): candidates come from
    the (block_id, block_val) equi-join of the PROBE side's keys against
    the corpus side's — old x old never forms, per-batch cost is
    O(probe x blocks) plus the join — verified with one JVM
    bit_count(xor), emitted as (least, greatest, hamming) exactly once."""
    a = _code_blocks(probe, col).alias("a")
    b = _code_blocks(corpus, col).alias("b")
    hamming = F.expr(f"bit_count(a.{col} ^ b.{col})")
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .where(hamming <= DHASH_HAMMING_T)
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            hamming.cast("bigint").alias("hamming"),
        )
        .distinct()
    )


def image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs — the decoded-media modality the
    text/embedding dedup family (D5-D9) doesn't cover: documents whose
    DECODED thumbnails are within Hamming distance {DHASH_HAMMING_T} of
    the {DHASH_BITS}-bit dHash, found WITHOUT an all-pairs comparison.

    Composition of two proven blocks: D58's dependency-free BMP round
    trip computes the codes from real decoded pixels (executor-side,
    Arrow-batched), and D31's pigeonhole blocking pairs them — each code
    emits {DHASH_BLOCKS} (block_id, 14-bit block_val) keys, a pair within
    the threshold MUST collide on at least one (exact recall), candidates
    come from one equi-join and verify with a single JVM bit_count(xor).

    At 100 TB: the decode+hash pass is map-only and linear; the join
    shuffles docs x {DHASH_BLOCKS} fixed-width keys; hot block values
    (near-constant corpora, e.g. letterboxed frames) share minhash LSH's
    hot-bucket caveat — cap or salt pathological keys, and persist codes
    beside the asset table like persisted_minhash_signatures. Everything
    downstream of the codes (connected components, canonical pick) reuses
    dedup_clusters / dedup_canonical unchanged.
    """
    # codes come from the PERSISTED table (r11): a bare parquet scan may
    # feed both sides of the self-join without a lineage cut (the
    # CLAUDE.md exception), and the decode pass runs once per dataset
    # instead of once per call — the incremental-corpus shape E4 set
    return _hamming_pairs(persisted_dhash_codes(spark, sf_dir), "dhash")


# --- D72: perceptual video near-dup (frame-dHash parity fingerprint) ---------

#: synthesized clip geometry: {VID_FRAMES} frames of the same 12x8 BGR
#: thumbnail shape image_dedup hashes — the video fingerprint is the
#: BITWISE XOR (parity) of the per-frame dHashes, so a perturbation in
#: any ONE frame flips exactly that frame's changed comparison bits in
#: the video code (Hamming distance is preserved frame-locally), while
#: frame REORDERING leaves the code unchanged — the shuffle-invariant
#: member of the temporal-pooling family
VID_FRAMES = 3
VID_FRAME_BYTES = 3 * IMG_W * IMG_H
VID_SRC_REPEATS = (VID_FRAMES * VID_FRAME_BYTES) // 16
_VID_PERT_STRIDE, _VID_PERT_OFF = 41, 17


def _video_fp_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, vfp): synthesize each document's {VID_FRAMES}-frame clip,
    round-trip it through the REAL FVID container encoder/decoder
    (length-prefixed complete BMP frames — container walk + per-frame
    stride handling), dHash every DECODED frame, and fold the frame
    codes with XOR. One Arrow-batched mapInPandas pass."""
    import hashlib

    from frolyk_spark.functions.codecs import decode_fvid, encode_fvid

    n_bytes = VID_FRAMES * VID_FRAME_BYTES
    xs = [(gx * IMG_W) // DHASH_GRID_X for gx in range(DHASH_GRID_X)]
    weights = (
        np.int64(1) << np.arange(DHASH_GRID_Y * 8, dtype=np.int64).reshape(
            DHASH_GRID_Y, 8
        )
    )[:, : DHASH_GRID_X - 1]

    def codes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "vfp": []}
            for doc_id in pdf["doc_id"]:
                g, v = int(doc_id) // IMG_GROUP, int(doc_id) % IMG_GROUP
                content = bytearray.fromhex(
                    hashlib.md5(f"vid{g}".encode()).hexdigest() * VID_SRC_REPEATS
                )
                for i in range(v):
                    pos = (_VID_PERT_STRIDE * i + _VID_PERT_OFF * v) % n_bytes
                    content[pos] = (content[pos] + _PERT_DELTA + v) % 256
                frames = [
                    bytes(content[VID_FRAME_BYTES * f : VID_FRAME_BYTES * (f + 1)])
                    for f in range(VID_FRAMES)
                ]
                _, _, _, dframes = decode_fvid(
                    bytes(encode_fvid(frames, IMG_W, IMG_H, 24))
                )
                code = 0
                for fr in dframes:
                    gray = (
                        np.frombuffer(bytes(fr), dtype=np.uint8)
                        .astype(np.int64)
                        .reshape(IMG_H, IMG_W, 3)
                        .sum(axis=2)
                    )
                    grid = gray[:DHASH_GRID_Y, xs]
                    bits = (grid[:, 1:] > grid[:, :-1]).astype(np.int64)
                    code ^= int((bits * weights).sum())
                out["doc_id"].append(int(doc_id))
                out["vfp"].append(code)
            yield pd.DataFrame(out)

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return docs.mapInPandas(codes, "doc_id bigint, vfp bigint")


def video_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO near-dup pairs — the temporal member closing the
    dedup modality matrix (text D5-D8, embeddings D9, image D70, audio
    D71): documents whose decoded {VID_FRAMES}-frame clips are within
    Hamming distance {DHASH_HAMMING_T} of the frame-dHash parity
    fingerprint, paired WITHOUT an all-pairs comparison via the shared
    pigeonhole block join. Composes D60's real FVID container round trip
    with D70's dHash kernel and D31's blocking.

    Same 100 TB posture as its siblings: map-only decode+hash, fixed-
    width block-key join, persistable codes; production variants swap
    the parity pool for per-frame codes + a frame-level join when
    SUB-clip matching matters (this operator answers whole-clip
    near-identity).
    """
    return _hamming_pairs(cut_lineage(_video_fp_codes(spark, sf_dir)), "vfp")


def _video_dedup_sql() -> str:
    """Oracle: recompute the parity fingerprint from the content rule —
    per-(frame, cell) grays with the perturbation CASE, per-frame
    comparison bits, bit of the video code = SUM over frames MOD 2 —
    and go all-pairs at oracle scale."""
    n_bytes = VID_FRAMES * VID_FRAME_BYTES

    def byte_at(j: str) -> str:
        raw = f"cast(concat('0x', substr(hexsrc, 2 * ({j}) + 1, 2)) as bigint)"
        perturbed = (
            f"list_contains(list_transform(range(0, cast(v as int)),"
            f" i -> ({_VID_PERT_STRIDE} * i + {_VID_PERT_OFF} * v) % {n_bytes}),"
            f" ({j}))"
        )
        return (
            f"(CASE WHEN {perturbed} THEN ({raw} + {_PERT_DELTA} + v) % 256"
            f" ELSE {raw} END)"
        )

    j0 = (
        f"{VID_FRAME_BYTES} * f"
        f" + 3 * (gy * {IMG_W} + (gx * {IMG_W}) // {DHASH_GRID_X})"
    )
    gray = f"({byte_at(j0)} + {byte_at(f'{j0} + 1')} + {byte_at(f'{j0} + 2')})"
    return f"""
WITH d AS (
  SELECT doc_id,
         doc_id % {IMG_GROUP} AS v,
         repeat(md5(concat('vid', cast(doc_id // {IMG_GROUP} as varchar))),
                {VID_SRC_REPEATS}) AS hexsrc
  FROM documents
),
cells AS (
  SELECT doc_id, f, gy, gx, {gray} AS gray
  FROM d, range(0, {VID_FRAMES}) tf(f),
       range(0, {DHASH_GRID_Y}) ty(gy), range(0, {DHASH_GRID_X}) tx(gx)
),
bits AS (
  SELECT l.doc_id, l.f, l.gy, l.gx,
         CASE WHEN r.gray > l.gray THEN 1 ELSE 0 END AS bit
  FROM cells l JOIN cells r
    ON l.doc_id = r.doc_id AND l.f = r.f AND l.gy = r.gy AND r.gx = l.gx + 1
  WHERE l.gx < {DHASH_GRID_X - 1}
),
parity AS (
  SELECT doc_id, gy, gx, sum(bit) % 2 AS pbit
  FROM bits GROUP BY doc_id, gy, gx
),
codes AS (
  SELECT doc_id,
         cast(sum(cast(pbit as bigint) * (cast(1 as bigint) << cast(8 * gy + gx as int)))
              as bigint) AS vfp
  FROM parity GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.vfp, b.vfp)) as bigint) AS hamming
FROM codes a JOIN codes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.vfp, b.vfp)) <= {DHASH_HAMMING_T}
"""


# --- D73: media near-dup clusters (CC over the image pairs) ------------------

def media_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustering step over the PERCEPTUAL pair graph — what D15 is to
    D6, for the decoded-media modality: connected components over D70's
    image near-dup pairs by the shared iterative min-label core
    (dedup.min_label_clusters — level-synchronous, one shuffle per
    round, never a path-enumerating recursive CTE), cluster id = min
    doc_id = the canonical asset. Downstream keep-best policies compose
    exactly as dedup_canonical does for text. Oracle: the image-pair SQL
    feeds the same tiny-diameter transitive-closure CTE the D15 oracle
    uses (tractable at oracle scale; the Spark side stays iterative)."""
    from frolyk_spark.operators.dedup import min_label_clusters

    # the loop is sized from the artifact's bytes (r15 verdict item 2)
    pairs = image_dedup(spark, sf_dir)
    return min_label_clusters(pairs, big_bytes=_dhash_artifact(spark, sf_dir)[1])


def _media_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_image_dedup_sql()}),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
reach(doc, label) AS (
  SELECT DISTINCT doc_a AS doc, doc_a AS label FROM edges
  UNION
  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON r.doc = e.doc_b
)
SELECT doc AS doc_id,
       min(label) AS cluster_id,
       (min(label) = doc) AS is_canonical
FROM reach GROUP BY doc
"""


# --- D71: perceptual audio near-dup (sign-of-delta fingerprint) --------------

#: synthesized clip geometry: {AUD_N_SAMPLES} PCM16 samples -> the
#: fingerprint reads the first {DHASH_BITS}+1 and hashes the 56 deltas —
#: the simplest member of the acoustic-fingerprint family (Haitsma-Kalker
#: style sign-of-energy-delta, reduced to time-domain deltas so the whole
#: code is integer-exact and oracle-checkable)
AUD_N_SAMPLES = 64
AUD_SRC_REPEATS = (2 * AUD_N_SAMPLES) // 16  # md5 = 16 bytes, 2 B/sample
#: near-dup planting, same scheme as image_dedup: groups of 5 share a
#: base clip (md5 of the group key) and variant v perturbs v bytes at
#: (29*i + 13*v) % 128 by +64+v mod 256
_AUD_PERT_STRIDE, _AUD_PERT_OFF = 29, 13


def _audio_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, afp): synthesize each document's PCM16 clip, round-trip it
    through the REAL WAV encoder/decoder (RIFF chunk walk), and compute
    the {DHASH_BITS}-bit sign-of-delta fingerprint from the DECODED
    samples: bit j = 1 iff s[j+1] > s[j] (strict). One Arrow-batched
    mapInPandas pass; payloads never leave the executors."""
    import hashlib

    from frolyk_spark.functions.codecs import decode_wav, encode_wav

    n_bytes = 2 * AUD_N_SAMPLES
    w = np.int64(1) << np.arange(DHASH_BITS, dtype=np.int64)

    def codes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "afp": []}
            for doc_id in pdf["doc_id"]:
                g, v = int(doc_id) // IMG_GROUP, int(doc_id) % IMG_GROUP
                raw = bytearray.fromhex(
                    hashlib.md5(f"aud{g}".encode()).hexdigest() * AUD_SRC_REPEATS
                )
                for i in range(v):
                    pos = (_AUD_PERT_STRIDE * i + _AUD_PERT_OFF * v) % n_bytes
                    raw[pos] = (raw[pos] + _PERT_DELTA + v) % 256
                samples = [
                    int.from_bytes(raw[2 * i : 2 * i + 2], "little", signed=True)
                    for i in range(AUD_N_SAMPLES)
                ]
                rate = 8000 + 100 * (int(doc_id) % 80)
                drate, dsamples = decode_wav(bytes(encode_wav(samples, rate)))
                assert drate == rate
                s = np.asarray(dsamples[: DHASH_BITS + 1], dtype=np.int64)
                bits = (s[1:] > s[:-1]).astype(np.int64)
                out["doc_id"].append(int(doc_id))
                out["afp"].append(int((bits * w).sum()))
            yield pd.DataFrame(out)

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return docs.mapInPandas(codes, "doc_id bigint, afp bigint")


def audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio near-dup pairs — completes the modality matrix
    (text: D5-D8, embeddings: D9, images: D70): documents whose DECODED
    clips are within Hamming distance {DHASH_HAMMING_T} of the
    {DHASH_BITS}-bit sign-of-delta fingerprint, paired WITHOUT an
    all-pairs comparison via the shared pigeonhole block join
    (_hamming_pairs). Composes D58's real WAV round trip with D31's
    blocking, exactly as image_dedup does for BMP.

    Same 100 TB posture as image_dedup: map-only decode+hash pass,
    fixed-width block-key join, hot-bucket caveat for near-silent
    corpora (constant samples -> constant codes), codes persistable
    beside the asset table; clustering/canonical-pick reuse
    dedup_clusters / dedup_canonical downstream.
    """
    return _hamming_pairs(cut_lineage(_audio_codes(spark, sf_dir)), "afp")


def _audio_dedup_sql() -> str:
    """Oracle: recompute the fingerprints from the content rule (the WAV
    round trip is sample-identity — a RIFF/PCM16 mis-parse shows up as a
    Spark-side divergence) and go all-pairs at oracle scale."""
    n_bytes = 2 * AUD_N_SAMPLES

    def byte_at(j: str) -> str:
        raw = f"cast(concat('0x', substr(hexsrc, 2 * ({j}) + 1, 2)) as bigint)"
        perturbed = (
            f"list_contains(list_transform(range(0, cast(v as int)),"
            f" i -> ({_AUD_PERT_STRIDE} * i + {_AUD_PERT_OFF} * v) % {n_bytes}),"
            f" ({j}))"
        )
        return (
            f"(CASE WHEN {perturbed} THEN ({raw} + {_PERT_DELTA} + v) % 256"
            f" ELSE {raw} END)"
        )

    lo, hi = byte_at("2 * i"), byte_at("2 * i + 1")
    sample = f"(({lo} + 256 * {hi}) - CASE WHEN {hi} >= 128 THEN 65536 ELSE 0 END)"
    return f"""
WITH d AS (
  SELECT doc_id,
         doc_id % {IMG_GROUP} AS v,
         repeat(md5(concat('aud', cast(doc_id // {IMG_GROUP} as varchar))),
                {AUD_SRC_REPEATS}) AS hexsrc
  FROM documents
),
samples AS (
  SELECT doc_id, i, {sample} AS s
  FROM d, range(0, {DHASH_BITS + 1}) t(i)
),
bits AS (
  SELECT l.doc_id, l.i, CASE WHEN r.s > l.s THEN 1 ELSE 0 END AS bit
  FROM samples l JOIN samples r ON l.doc_id = r.doc_id AND r.i = l.i + 1
  WHERE l.i < {DHASH_BITS}
),
codes AS (
  SELECT doc_id,
         cast(sum(cast(bit as bigint) * (cast(1 as bigint) << cast(i as int)))
              as bigint) AS afp
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.afp, b.afp)) as bigint) AS hamming
FROM codes a JOIN codes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= {DHASH_HAMMING_T}
"""


def _image_dedup_sql() -> str:
    """Oracle: recompute the dHash codes straight from the content rule
    (bypassing the codec, exactly like media_decode's oracle — the BMP
    round trip is content-identity, so a codec stride/origin bug shows up
    as a Spark-side divergence) and go all-pairs, which is fine at oracle
    scale; the Spark side must never (plan-asserted)."""
    n_bytes = 3 * IMG_W * IMG_H

    def byte_at(j: str) -> str:
        raw = f"cast(concat('0x', substr(hexsrc, 2 * ({j}) + 1, 2)) as bigint)"
        perturbed = (
            f"list_contains(list_transform(range(0, cast(v as int)),"
            f" i -> ({_PERT_STRIDE} * i + {_PERT_OFF} * v) % {n_bytes}), ({j}))"
        )
        return (
            f"(CASE WHEN {perturbed} THEN ({raw} + {_PERT_DELTA} + v) % 256"
            f" ELSE {raw} END)"
        )

    j0 = f"3 * (gy * {IMG_W} + (gx * {IMG_W}) // {DHASH_GRID_X})"
    gray = f"({byte_at(j0)} + {byte_at(f'{j0} + 1')} + {byte_at(f'{j0} + 2')})"
    return f"""
WITH d AS (
  SELECT doc_id,
         doc_id % {IMG_GROUP} AS v,
         repeat(md5(concat('img', cast(doc_id // {IMG_GROUP} as varchar))),
                {IMG_SRC_REPEATS}) AS hexsrc
  FROM documents
),
cells AS (
  SELECT doc_id, gy, gx, {gray} AS gray
  FROM d, range(0, {DHASH_GRID_Y}) ty(gy), range(0, {DHASH_GRID_X}) tx(gx)
),
bits AS (
  SELECT l.doc_id, l.gy, l.gx,
         CASE WHEN r.gray > l.gray THEN 1 ELSE 0 END AS bit
  FROM cells l JOIN cells r
    ON l.doc_id = r.doc_id AND l.gy = r.gy AND r.gx = l.gx + 1
  WHERE l.gx < {DHASH_GRID_X - 1}
),
codes AS (
  SELECT doc_id,
         cast(sum(cast(bit as bigint) * (cast(1 as bigint) << cast(8 * gy + gx as int)))
              as bigint) AS dhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.dhash, b.dhash)) as bigint) AS hamming
FROM codes a JOIN codes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= {DHASH_HAMMING_T}
"""


QUERIES = {
    "multimodal_manifest": multimodal_manifest,
    "multimodal_features": multimodal_features,
    "media_resize": media_resize,
    "media_decode": media_decode,
    "video_decode": video_decode,
    "frame_sample": frame_sample,
    # D70: perceptual near-dup over the decoded-media modality (r10 verdict #3)
    "image_dedup": image_dedup,
    # D71/D72: the audio + video twins — complete the dedup modality matrix (r11)
    "audio_dedup": audio_dedup,
    "video_dedup_pairs": video_dedup_pairs,
    # D73: CC clustering over the perceptual pair graph (shared CC core)
    "media_dedup_clusters": media_dedup_clusters,
    # E17: binaryFile-source ingest of real .bmp asset files (r11)
    "media_binary_ingest": media_binary_ingest,
}

ORACLES = {
    "multimodal_manifest": _manifest_sql(),
    # features: the first 4 payload bytes are the first 8 md5 hex chars, so
    # even the Python-side extraction is value-checkable
    "multimodal_features": _features_sql(),
    "media_resize": _resize_sql(),
    "media_decode": _media_decode_sql(),
    "video_decode": _video_decode_sql(),
    "frame_sample": _frame_sample_sql(),
    "image_dedup": _image_dedup_sql(),
    "audio_dedup": _audio_dedup_sql(),
    "video_dedup_pairs": _video_dedup_sql(),
    "media_dedup_clusters": _media_clusters_sql(),
    "media_binary_ingest": _binary_ingest_sql(),
}
