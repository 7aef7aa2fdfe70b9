"""Multimodal column plumbing — image/audio/video as opaque binary
columns with typed metadata (BASELINE.json training-data-pipeline
mandate).

The decode libraries (PIL/ffmpeg/librosa) are not in this container,
so the decode kernels are STUBBED — `decode_image` raises
NotImplementedError by design, and `fake_feature_extract` is a
deterministic stand-in (sha256-derived floats) — but every piece of
Spark plumbing around them is real and tested: the blob schema, the
mapInPandas iterator contract, Arrow batch shapes, partitioning, and
the metadata projections.

Scale design: binary payloads never shuffle — featurization is a
map-only mapInPandas stage reading from the source partitioning;
only the (id, features, metadata) output (tiny) flows on. Batch size
is bounded by spark.sql.execution.arrow.maxRecordsPerBatch so a
partition of large blobs never materializes as one giant pandas
frame.
"""

from __future__ import annotations

import hashlib
import sys
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType, LongType,
                               StringType, StructField, StructType)

# Executor Python workers do NOT share the driver's sys.path: a
# module-level kernel function captured in a mapInPandas closure would
# be pickled by reference and fail to import worker-side unless the
# package is installed there. Register this module for by-value
# pickling so its functions travel inside the closure.
try:
    from pyspark import cloudpickle as _cp
    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover - older pyspark layouts
    pass

#: logical schema for a multimodal asset table
BLOB_SCHEMA = StructType([
    StructField("asset_id", LongType()),
    StructField("media_type", StringType()),     # 'image' | 'audio' | 'video'
    StructField("payload", BinaryType()),        # opaque encoded bytes
    StructField("meta_json", StringType()),      # typed metadata as JSON
])

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType([
    StructField("asset_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("features", ArrayType(FloatType())),
])


def documents_as_blobs(documents: DataFrame) -> DataFrame:
    """Fixture adapter: treat each document's text bytes as an opaque
    payload so the binary pipeline is exercisable with driver data."""
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").cast("binary").alias("payload"),
        F.to_json(F.struct(F.col("lang"), F.col("source"),
                           F.col("n_chars"))).alias("meta_json"),
    )


def decode_image(payload: bytes):
    """Image decode kernel — STUB. A real deployment plugs PIL/cv2 in
    here; the container has no image codecs (by design, see module
    docstring)."""
    raise NotImplementedError(
        "image decode requires PIL/cv2 which are not available in this "
        "environment; the surrounding Spark plumbing is real — plug a "
        "decoder into featurize() in place of fake_feature_extract to "
        "activate it"
    )


def fake_feature_extract(payload: bytes) -> list[float]:
    """Deterministic stand-in feature kernel: FEATURE_DIM floats
    derived from the sha256 digest — stable across runs/machines, so
    tests can assert exact values."""
    digest = hashlib.sha256(payload).digest()
    return [
        int.from_bytes(digest[4 * i: 4 * i + 4], "big") / 2 ** 32
        for i in range(FEATURE_DIM)
    ]


def featurize(blobs: DataFrame) -> DataFrame:
    """mapInPandas featurization stage: binary in, small vectors out.

    The iterator contract streams Arrow batches — a partition is
    never fully materialized; payloads are dropped from the output so
    nothing heavy crosses the next shuffle.
    """
    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame({
                "asset_id": batch["asset_id"],
                "media_type": batch["media_type"],
                "n_bytes": batch["payload"].map(
                    lambda b: 0 if b is None else len(b)).astype("int64"),
                "features": batch["payload"].map(
                    lambda b: None if b is None
                    else fake_feature_extract(bytes(b))),
            })

    return blobs.mapInPandas(_extract, schema=FEATURES_SCHEMA)


def multimodal_features_query(spark, sf_dir: str) -> DataFrame:
    """Registry entry (rows-only): the full binary pipeline over the
    documents fixture — blob-ify, mapInPandas featurize, project the
    first feature component. Deterministic kernel → stable output,
    but the sha256-derived floats aren't SQL-reproducible in DuckDB."""
    from ..sources.catalog import Catalog
    blobs = documents_as_blobs(Catalog(spark, sf_dir).documents)
    feats = featurize(blobs)
    return feats.select(
        "asset_id", "media_type", "n_bytes",
        F.col("features").getItem(0).alias("f0"),
    )


def multimodal_meta_query(spark, sf_dir: str) -> DataFrame:
    """Registry entry (oracle-checked): metadata/byte accounting over
    the blob table — the payload-free fast path."""
    from ..sources.catalog import Catalog
    return blob_metadata_stats(
        documents_as_blobs(Catalog(spark, sf_dir).documents))


MULTIMODAL_META_SQL = """
SELECT 'image' AS media_type, lang,
       COUNT(*) AS n_assets,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
FROM documents GROUP BY lang
"""


def blob_metadata_stats(blobs: DataFrame) -> DataFrame:
    """Metadata-only aggregation: JSON metadata extraction + byte
    accounting per media type — runs without touching payload bytes
    beyond length (column pruning keeps the scan narrow)."""
    return (
        blobs.select(
            "media_type",
            F.length(F.col("payload")).cast("long").alias("n_bytes"),
            F.get_json_object("meta_json", "$.lang").alias("lang"),
        )
        .groupBy("media_type", "lang")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )


#: frame sampling configuration: N byte-range "frames" per asset
N_FRAMES = 4
FRAME_SIZE = 32

FRAME_SCHEMA = StructType([
    StructField("asset_id", LongType()),
    StructField("frame_index", LongType()),
    StructField("frame_offset", LongType()),
    StructField("frame_len", LongType()),
    StructField("frame_md5", StringType()),
])


def sample_frames(blobs: DataFrame) -> DataFrame:
    """Uniform frame sampling over opaque payloads: N evenly-spaced
    byte-range "frames" per asset (the video frame-sample shape —
    a real decoder would seek keyframes; the byte-slice kernel stands
    in, and the slicing arithmetic/fan-out/Arrow plumbing are real).

    Assets shorter than one frame repeat the start slice (uniform
    sampling with boundary replacement — the standard short-clip
    policy), so every asset yields exactly N_FRAMES rows:
    deterministic fan-out, no empty partitions downstream. Map-only:
    payloads never shuffle; each emitted frame carries offset/length
    and an md5 — enough for downstream decode-on-demand without
    moving the asset.
    """
    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = {"asset_id": [], "frame_index": [], "frame_offset": [],
                   "frame_len": [], "frame_md5": []}
            for aid, payload in zip(batch["asset_id"], batch["payload"]):
                if payload is None:
                    continue
                data = bytes(payload)
                span = max(len(data) - FRAME_SIZE, 0)
                for i in range(N_FRAMES):
                    off = (i * span) // max(N_FRAMES - 1, 1)
                    frame = data[off:off + FRAME_SIZE]
                    out["asset_id"].append(aid)
                    out["frame_index"].append(i)
                    out["frame_offset"].append(off)
                    out["frame_len"].append(len(frame))
                    out["frame_md5"].append(
                        hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(out)

    return blobs.mapInPandas(_sample, schema=FRAME_SCHEMA)


def multimodal_frame_sample(spark, sf_dir: str) -> DataFrame:
    """Registry entry (oracle-checked): frame sampling over the
    documents-as-blobs fixture. Because the fixture corpus is pure
    ASCII, DuckDB can reproduce the byte slicing with substring — so
    this mapInPandas stage is verified VALUE-exactly by the oracle,
    not just row-counted (the strongest evidence the Arrow plumbing
    is faithful)."""
    from ..sources.catalog import Catalog
    return sample_frames(
        documents_as_blobs(Catalog(spark, sf_dir).documents))


MULTIMODAL_FRAME_SQL = f"""
WITH base AS (
    SELECT doc_id AS asset_id, text,
           octet_length(encode(text)) AS len_b
    FROM documents
),
frames AS (
    SELECT asset_id, text, len_b, i AS frame_index,
           CAST((i * greatest(len_b - {FRAME_SIZE}, 0))
                // {N_FRAMES - 1} AS BIGINT) AS frame_offset
    FROM base, UNNEST(range({N_FRAMES})) AS t(i)
)
SELECT asset_id, CAST(frame_index AS BIGINT) AS frame_index, frame_offset,
       CAST(least({FRAME_SIZE}, len_b - frame_offset) AS BIGINT) AS frame_len,
       md5(substring(text, CAST(frame_offset + 1 AS INT), {FRAME_SIZE}))
           AS frame_md5
FROM frames
"""


from ..registry import register  # noqa: E402  (registration tail)

register("multimodal_features", multimodal_features_query, None)
register("multimodal_meta_stats", multimodal_meta_query, MULTIMODAL_META_SQL)
register("multimodal_frame_sample", multimodal_frame_sample, MULTIMODAL_FRAME_SQL)


def blob_dedup(blobs: DataFrame) -> DataFrame:
    """Content-addressed exact dedup of binary payloads — the image/
    audio-corpus dedup pass (identical bytes re-crawled under
    different asset ids): md5 the payload SCAN-SIDE so only 16-byte
    digests ever shuffle (the binary itself never leaves its
    partition — the module's binary-never-shuffles policy), group,
    and report each duplicate digest with its survivor id and the
    byte mass a keep-one-copy pass reclaims."""
    return (
        blobs
        .select(F.md5(F.col("payload")).alias("digest"),
                "asset_id",
                F.length(F.col("payload")).cast("long").alias("n_bytes"))
        .groupBy("digest")
        .agg(F.count("*").cast("long").alias("n_assets"),
             F.min("asset_id").cast("long").alias("survivor_asset_id"),
             F.min("n_bytes").cast("long").alias("n_bytes"))
        .filter(F.col("n_assets") > 1)
        .select("digest", "n_assets", "survivor_asset_id", "n_bytes",
                ((F.col("n_assets") - 1) * F.col("n_bytes"))
                .cast("long").alias("reclaimable_bytes"))
        .orderBy(F.desc("n_assets"), "digest")
    )


def multimodal_blob_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (oracle-checked): the fixture blobs are the
    documents' UTF-8 bytes, so DuckDB's md5(text) reproduces the
    payload digest exactly — duplicate-document content therefore
    doubles as duplicate-blob content, and the oracle checks the
    whole digest/survivor/byte-mass report.

    Recorded finding: the driver corpus has NO raw-byte duplicates
    (its near-dups differ in whitespace, which the text-path
    dedup_exact normalizes away but a byte-exact blob digest keeps),
    so the natural row is an agreed-empty 0 = 0 — the planted-
    payload unit test keeps the dedup path non-vacuous
    (dedup_embedding_cosine_planted discipline)."""
    from ..sources.catalog import Catalog
    return blob_dedup(documents_as_blobs(Catalog(spark, sf_dir).documents))


MULTIMODAL_BLOB_DEDUP_SQL = """
SELECT md5(text) AS digest,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(MIN(doc_id) AS BIGINT) AS survivor_asset_id,
       CAST(MIN(strlen(text)) AS BIGINT) AS n_bytes,
       CAST((COUNT(*) - 1) * MIN(strlen(text)) AS BIGINT)
           AS reclaimable_bytes
FROM documents
GROUP BY md5(text)
HAVING COUNT(*) > 1
ORDER BY n_assets DESC, digest
"""

register("multimodal_blob_dedup", multimodal_blob_dedup,
         MULTIMODAL_BLOB_DEDUP_SQL)
