"""Multimodal queries (`mm_`): binary media features, image codec round
trips, frame sampling, thumbnails, audio levels and shard plans."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.operators.multimodal import (
    audio_features,
    extract_features,
    frame_sample,
    media_from_documents,
    resize_thumb,
)
from planning_center_data_pipeline_spark.sources.tables import load_table


def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform stats (RMS/peak over bytes-as-samples) via Arrow-batched
    mapInPandas; exact integer sum-of-squares keeps rms portable."""
    d = load_table(spark, sf_dir, "documents")
    return audio_features(media_from_documents(d)).orderBy("media_id")


MM_AUDIO_RMS_SQL = """
WITH s AS (
  SELECT doc_id AS media_id,
         list_transform(string_split(text, ''), x -> unicode(x)) AS codes
  FROM documents
)
SELECT media_id,
       CAST(len(codes) AS BIGINT) AS n_samples,
       sqrt(CAST(list_sum(list_transform(codes, x -> x*x)) AS DOUBLE)/len(codes)) AS rms,
       CAST(list_max(codes) AS BIGINT) AS peak
FROM s
ORDER BY media_id
"""


# --- multimodal -------------------------------------------------------------

def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end-to-end: documents -> media table
    (binary payload + meta struct) -> Arrow-batched mapInPandas feature
    extraction (deterministic fake decode)."""
    d = load_table(spark, sf_dir, "documents")
    return extract_features(media_from_documents(d), fake=True).orderBy("media_id")


MM_BINARY_SQL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS byte_len,
       sha256(text) AS content_sha256,
       CAST(list_sum(list_transform(string_split(text, ''), x -> unicode(x))) AS DOUBLE)
         / octet_length(encode(text)) AS fake_brightness
FROM documents
ORDER BY media_id
"""


# --- content-addressed binary dedup -----------------------------------------

def mm_dedup_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup over binary media payloads: group by
    sha256(payload), count physical copies, and account the bytes a
    content-addressed store would save — the storage half of
    multimodal dedup (the perceptual/near-dup half is the SimHash /
    MinHash family on extracted features).  sha2 runs JVM-side over
    the binary column; the rollup is two tiny exact aggregates.
    """
    from planning_center_data_pipeline_spark.operators.multimodal import (
        media_from_documents,
    )

    d = load_table(spark, sf_dir, "documents")
    media = media_from_documents(d)
    g = (
        media.select(
            F.sha2(F.col("payload"), 256).alias("h"),
            F.length(F.col("payload")).alias("bl"),
        )
        .groupBy("h")
        .agg(F.count("*").alias("c"), F.max("bl").alias("bl"))
    )
    return g.agg(
        F.sum("c").cast("bigint").alias("n_media"),
        F.count("*").alias("n_unique"),
        (
            (F.sum("c") - F.count("*")).cast("double")
            / F.sum("c").cast("double")
        ).alias("dup_rate"),
        F.sum((F.col("c") - 1) * F.col("bl")).cast("bigint").alias(
            "bytes_saved"
        ),
    )


MM_DEDUP_BY_HASH_SQL = """
WITH h AS (
  -- fixture text is pure ASCII: sha256(VARCHAR) == sha256 of the
  -- utf-8 payload bytes (same convention as MM_BINARY_SQL)
  SELECT sha256(text) AS h,
         octet_length(encode(text)) AS bl
  FROM documents
), g AS (
  SELECT h, COUNT(*) AS c, MAX(bl) AS bl FROM h GROUP BY h
)
SELECT CAST(SUM(c) AS BIGINT) AS n_media,
       COUNT(*) AS n_unique,
       CAST(SUM(c) - COUNT(*) AS DOUBLE)/CAST(SUM(c) AS DOUBLE)
         AS dup_rate,
       CAST(SUM((c - 1) * bl) AS BIGINT) AS bytes_saved
FROM g
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many frame sampling over video-like binary payloads
    (mapInPandas; deterministic byte-slice frames)."""
    d = load_table(spark, sf_dir, "documents")
    return frame_sample(media_from_documents(d), n_frames=4, frame_bytes=256).orderBy(
        "media_id", "frame_idx"
    )


# DuckDB substring() is VARCHAR-only; the fixture text is pure ASCII
# (octet_length == length for every row), so the char slice is the
# byte slice and the sha256 values line up with Spark's byte hashing.
MM_FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id,
       i AS frame_idx,
       (i * octet_length(encode(text))) // 4 AS frame_off,
       sha256(substring(text,
                        CAST((i * octet_length(encode(text))) // 4 + 1 AS BIGINT),
                        256)) AS frame_sha256
FROM documents
CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) fs
ORDER BY media_id, frame_idx
"""


def mm_jpeg_color_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color JPEG codec plumbing executed in-plan: md5(doc_id) hex
    chars 1-8 become four EVEN values v_k = (ord(c_{2k-1}) *
    ord(c_{2k})) % 128 * 2.  Card A is a flat (v1, v2, v3) RGB 16x16
    encoded 4:2:0 quality 50 and decoded back — ok_color pins the max
    channel error inside the measured band (<= 6; DC-only chroma
    quantization error: flat color at quality 50 measures <= 3).  Card B is flat
    gray R = G = B = v4, which round-trips EXACTLY through the color
    pipeline, so gray_sum = 16*16*3*v4 comes from REAL decoded pixels
    on the Spark side and from the closed form in the oracle.

    Scale shape: per-row Arrow-batched map; one row per document.  The
    codec is ~1 ms/row of pure Python CPU, so the input is lifted to
    the cpu_floor (guide §2.5/§4): a single-file scan would otherwise
    run every codec invocation on one core."""
    import pandas as pd

    from planning_center_data_pipeline_spark.operators.multimodal import (
        decode_media,
        encode_jpeg_color,
    )
    from planning_center_data_pipeline_spark.operators.parallelism import (
        cpu_floor,
    )

    # Floor capped at 16 (r12): idle-cold Python worker spawns scale
    # with partitions — A/B'd cold at sf0.1: floor 32 7.7 s vs floor
    # 16 3.6 s, warm within noise (see the gray twin, mm_jpeg_roundtrip_agg).
    d = cpu_floor(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        ),
        "doc_id",
        cap=16,
    )

    def run(batches):
        import numpy as np

        for pdf in batches:
            oks, sums = [], []
            for h in pdf["h"]:
                v = [
                    (ord(h[2 * k]) * ord(h[2 * k + 1])) % 128 * 2
                    for k in range(4)
                ]
                card = np.empty((16, 16, 3), dtype=np.uint8)
                card[..., 0], card[..., 1], card[..., 2] = v[0], v[1], v[2]
                back = decode_media(
                    encode_jpeg_color(card, quality=50), "image/jpeg"
                )["pixels"]
                assert back.shape == (16, 16, 3)
                err = int(
                    np.abs(back.astype(np.int64) - card.astype(np.int64)).max()
                )
                oks.append(1 if err <= 6 else 0)
                gray = np.full((16, 16, 3), v[3], dtype=np.uint8)
                gback = decode_media(
                    encode_jpeg_color(gray, quality=50), "image/jpeg"
                )["pixels"]
                sums.append(int(gback.astype(np.int64).sum()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "ok_color": oks, "gray_sum": sums}
            )

    return d.mapInPandas(
        run, "doc_id bigint, ok_color int, gray_sum bigint"
    ).orderBy("doc_id")


def _v(k: int) -> str:
    c1, c2 = 2 * k + 1, 2 * k + 2
    return f"(ord(substr(h, {c1}, 1)) * ord(substr(h, {c2}, 1))) % 128 * 2"


_COLOR_SQL = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id,
       CAST(1 AS INT) AS ok_color,
       CAST(16 * 16 * 3 * ({_v(3)}) AS BIGINT) AS gray_sum
FROM d ORDER BY doc_id
"""


def mm_jpeg_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG codec plumbing executed in-plan: md5(doc_id) hex chars 1-8
    become four EVEN gray levels v_k = (ord(c_{2k-1}) * ord(c_{2k}))
    % 128 * 2, laid out as four flat 8x8 blocks of a 16x16 image,
    encoded to a real baseline JPEG (standard Annex K quant + Huffman
    tables, quality 50) and decoded back.  Flat blocks of even value
    round-trip EXACTLY (DC = 8*(v-128) quantized by 16 is lossless for
    even v; all AC vanish), so pixel_sum = 64*sum(v_k) and the
    position-weighted sum pins the block LAYOUT (DC prediction order,
    zigzag, scan direction) — any codec error breaks the hash.

    Scale shape: per-row Arrow-batched map; one row per document.  The
    codec is CPU-dense per row, so the input is lifted to the
    cpu_floor (guide §2.5/§4): a single-file scan would otherwise run
    every codec invocation on one core."""
    import pandas as pd

    from planning_center_data_pipeline_spark.operators.multimodal import (
        decode_media,
        encode_jpeg_gray,
    )
    from planning_center_data_pipeline_spark.operators.parallelism import (
        cpu_floor,
    )

    # Floor capped at 16 (r12): each partition of an Arrow-Python map
    # costs a Python worker spawn when the pool has gone idle (Spark
    # reaps idle workers between bench passes) — A/B'd idle-cold at
    # sf0.1: floor 32 cold 4.8 s vs floor 8-16 cold 2.5-2.9 s, warm
    # within noise.  16 ways still clears the ~2 s serial codec wall.
    d = cpu_floor(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        ),
        "doc_id",
        cap=16,
    )

    def run(batches):
        import numpy as np

        for pdf in batches:
            sums, wsums = [], []
            for h in pdf["h"]:
                v = [
                    (ord(h[2 * k]) * ord(h[2 * k + 1])) % 128 * 2
                    for k in range(4)
                ]
                img = np.empty((16, 16), dtype=np.uint8)
                img[:8, :8] = v[0]
                img[:8, 8:] = v[1]
                img[8:, :8] = v[2]
                img[8:, 8:] = v[3]
                back = decode_media(
                    encode_jpeg_gray(img, quality=50), "image/jpeg"
                )["pixels"][:, :, 0]
                assert back.shape == (16, 16)
                flat = back.astype(np.int64).ravel()
                sums.append(int(flat.sum()))
                wsums.append(int((flat * (np.arange(256) + 1)).sum()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pixel_sum": sums, "px_weighted": wsums}
            )

    return d.mapInPandas(
        run, "doc_id bigint, pixel_sum bigint, px_weighted bigint"
    ).orderBy("doc_id")


# --- JPEG round-trip as a query -------------------------------------------------

# Position-weight sums per 8x8 block of the 16x16 image (row-major
# weight = 16*y + x + 1): blocks at (0,0), (0,8), (8,0), (8,8).
_JPEG_BLOCK_W = (3872, 4384, 12064, 12576)


def _jpeg_v(k: int) -> str:
    c1, c2 = 2 * k + 1, 2 * k + 2
    return (
        f"(ord(substr(h, {c1}, 1)) * ord(substr(h, {c2}, 1))) % 128 * 2"
    )


_JPEG_SQL = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), v AS (
  SELECT doc_id,
         {_jpeg_v(0)} AS v1, {_jpeg_v(1)} AS v2,
         {_jpeg_v(2)} AS v3, {_jpeg_v(3)} AS v4
  FROM d
)
SELECT doc_id,
       CAST(64 * (v1 + v2 + v3 + v4) AS BIGINT) AS pixel_sum,
       CAST({_JPEG_BLOCK_W[0]} * v1 + {_JPEG_BLOCK_W[1]} * v2
            + {_JPEG_BLOCK_W[2]} * v3 + {_JPEG_BLOCK_W[3]} * v4 AS BIGINT)
         AS px_weighted
FROM v ORDER BY doc_id
"""


# --- PNG round-trip as a query --------------------------------------------------


def mm_png_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-codec plumbing executed in-plan: md5(doc_id) hex (32 ASCII
    chars) becomes a 4x8 grayscale pixel grid, encoded to a real PNG
    (filter type doc_id % 5 — all five row filters exercised across the
    corpus), decoded back, and reduced to pixel_sum + sha256 of the
    decoded bytes.  The oracle recomputes both straight from the hex
    string (sum of 32 ord()s; sha256 of the text), so the query only
    hashes green if encode -> IDAT -> unfilter -> pixels is an exact
    identity on every row.

    Scale shape: per-row Arrow-batched map (no shuffle); output is one
    row per document."""
    import pandas as pd

    from planning_center_data_pipeline_spark.operators.multimodal import (
        decode_media,
        encode_png,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )

    def run(batches):
        import hashlib

        import numpy as np

        for pdf in batches:
            sums, shas = [], []
            for doc_id, h in zip(pdf["doc_id"], pdf["h"]):
                px = np.frombuffer(h.encode("ascii"), dtype=np.uint8).reshape(
                    4, 8
                )
                png = encode_png(px, filter_type=int(doc_id) % 5)
                back = decode_media(png, "image/png")["pixels"][:, :, 0]
                assert back.shape == (4, 8)
                sums.append(int(back.astype(np.int64).sum()))
                shas.append(hashlib.sha256(back.tobytes()).hexdigest())
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pixel_sum": sums, "px_sha": shas}
            )

    return d.mapInPandas(
        run, "doc_id bigint, pixel_sum bigint, px_sha string"
    ).orderBy("doc_id")


_PNG_ORD_TERMS = " + ".join(f"ord(substr(h, {i}, 1))" for i in range(1, 33))

_PNG_ROUNDTRIP_SQL = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id,
       CAST({_PNG_ORD_TERMS} AS BIGINT) AS pixel_sum,
       sha256(h) AS px_sha
FROM d ORDER BY doc_id
"""


def mm_resize_thumb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-free thumbnail "resize" (strided byte downsample to 256
    bytes) via mapInPandas — completes the decode/extract/resize/
    frame-sample multimodal quartet; sha256-identified output keeps it
    SQL-reproducible."""
    d = load_table(spark, sf_dir, "documents")
    return resize_thumb(media_from_documents(d), max_bytes=256).orderBy("media_id")


# ASCII fixture: char positions == byte offsets, so the strided char
# sample mirrors the payload byte slice b[::stride][:256] exactly.
MM_RESIZE_SQL = """
WITH s AS (
  SELECT doc_id AS media_id, text,
         octet_length(encode(text)) AS blen,
         GREATEST(octet_length(encode(text)) // 256, 1) AS stride
  FROM documents
), t AS (
  SELECT media_id, stride,
         array_to_string(
           list_transform(
             list_filter(generate_series(0, 255), i -> i * stride < blen),
             i -> substring(text, CAST(i * stride + 1 AS BIGINT), 1)),
           '') AS thumb
  FROM s
)
SELECT media_id, CAST(stride AS BIGINT) AS stride,
       CAST(length(thumb) AS BIGINT) AS thumb_len,
       sha256(thumb) AS thumb_sha256
FROM t ORDER BY media_id
"""


# --- multimodal shard packing (WebDataset-style) ----------------------------
# Training loaders for image/audio/video corpora read sequential tar
# shards of roughly equal BYTES (WebDataset / tar-archive pattern), so
# the shard plan packs media blobs by byte budget in a deterministic
# global order.  Same scalable two-phase prefix sum as
# doc_shard_manifest (range-partition local cumsums + a <=32-row
# offsets window — no single-partition stage over the data), but
# byte-weighted and aggregated to one row per output shard: the
# driver table a shard-writer job consumes.  Budget here is 64 KB for
# the synthetic corpus; production uses ~1 GB with the same plan.

_SHARD_BYTES = 64_000


def mm_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    sizes = d.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )
    p = sizes.repartitionByRange(32, "media_id").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("pid")
        .orderBy("media_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = p.withColumn("local_cum", F.sum("n_bytes").over(w_local))
    totals = local.groupBy("pid").agg(F.sum("n_bytes").alias("p_total"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("p_total").over(w_off), F.lit(0))
    ).select("pid", "offset")
    return (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("cum", F.col("local_cum") + F.col("offset"))
        .withColumn(
            "shard_id",
            F.floor((F.col("cum") - F.col("n_bytes")) / F.lit(_SHARD_BYTES)),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("media_id").alias("first_id"),
            F.max("media_id").alias("last_id"),
        )
        .orderBy("shard_id")
    )


MM_SHARD_PLAN_SQL = f"""
WITH s AS (
  SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
), c AS (
  SELECT media_id, n_bytes,
         CAST(SUM(n_bytes) OVER (ORDER BY media_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
  FROM s
)
SELECT CAST(FLOOR((cum - n_bytes) / {_SHARD_BYTES}.0) AS BIGINT) AS shard_id,
       COUNT(*) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MIN(media_id) AS first_id,
       MAX(media_id) AS last_id
FROM c GROUP BY 1 ORDER BY shard_id
"""


QUERIES = {
    "mm_audio_rms": mm_audio_rms,
    "mm_binary_features": mm_binary_features,
    "mm_dedup_by_hash": mm_dedup_by_hash,
    "mm_frame_sample": mm_frame_sample,
    "mm_jpeg_color_roundtrip_agg": mm_jpeg_color_roundtrip_agg,
    "mm_jpeg_roundtrip_agg": mm_jpeg_roundtrip_agg,
    "mm_png_roundtrip_agg": mm_png_roundtrip_agg,
    "mm_resize_thumb": mm_resize_thumb,
    "mm_shard_plan": mm_shard_plan,
}
ORACLES = {
    "mm_audio_rms": MM_AUDIO_RMS_SQL,
    "mm_binary_features": MM_BINARY_SQL,
    "mm_dedup_by_hash": MM_DEDUP_BY_HASH_SQL,
    "mm_frame_sample": MM_FRAME_SAMPLE_SQL,
    "mm_jpeg_color_roundtrip_agg": _COLOR_SQL,
    "mm_jpeg_roundtrip_agg": _JPEG_SQL,
    "mm_png_roundtrip_agg": _PNG_ROUNDTRIP_SQL,
    "mm_resize_thumb": MM_RESIZE_SQL,
    "mm_shard_plan": MM_SHARD_PLAN_SQL,
}
