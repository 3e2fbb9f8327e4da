"""Multimodal-column plumbing: decode / feature-extract over media spans.

Media content is opaque (`media_ref` pointer + typed metadata); the
decode/feature step runs as an Arrow-batched ``mapInPandas`` kernel — the
same executor shape a real image/audio decoder would use (batch in, batch
out, library loaded once per worker). The actual pixel/sample decoding is
STUBBED (no imaging/audio libs in this container, and refs are synthetic):
``_decode_real`` raises NotImplementedError and the deterministic fake
below stands in, so the Spark-side plumbing — schema, batching, UDF
signature, partition behavior — is real and tested while the kernel body
is swappable.

Fake-decode contract (md5-derived, hence DuckDB-oracle-checkable):
  width    = 320 + id64(media_ref) % 1600
  height   = 240 + id64('h:'+media_ref) % 840
  n_frames = 1 for image, else 1 + id64('f:'+media_ref) % 240
  feat_fp  = md5('feat:' + media_ref)
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from kg.ids import py_id64, sql_id64
from kg.synth import derived_spans

MEDIA_FEATURES = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("feat_fp", StringType(), False),
    ]
)


def _decode_real(media_bytes: bytes, kind: str):  # pragma: no cover - stub
    """Slot for a real decoder (PIL/librosa/ffmpeg). Not available here."""
    raise NotImplementedError("media decoding libraries not present in this env")


def _fake_decode(pdf: pd.DataFrame) -> pd.DataFrame:
    refs = pdf["media_ref"]
    out = pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "media_ref": refs,
            "kind": pdf["kind"],
            "width": refs.map(lambda r: 320 + py_id64(r) % 1600).astype("int32"),
            "height": refs.map(lambda r: 240 + py_id64("h:" + r) % 840).astype("int32"),
            "n_frames": [
                1 if k == "image" else 1 + py_id64("f:" + r) % 240
                for k, r in zip(pdf["kind"], refs)
            ],
            "feat_fp": refs.map(
                lambda r: hashlib.md5(("feat:" + r).encode()).hexdigest()
            ),
        }
    )
    out["n_frames"] = out["n_frames"].astype("int32")
    return out


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extract every media span via Arrow batches."""
    media = (
        derived_spans(spark, sf_dir)
        .filter(F.col("kind") != "text")
        .select("doc_id", "media_ref", "kind")
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # A real decoder would be constructed once here, per worker.
        for pdf in batches:
            yield _fake_decode(pdf)

    return media.mapInPandas(_run, schema=MEDIA_FEATURES)


def frame_samples(spark: SparkSession, sf_dir: str, stride: int = 24) -> DataFrame:
    """Frame sampling plumbing for video spans: every ``stride``-th frame
    index of each video, as (doc_id, media_ref, frame_idx, frame_fp).
    The decode is the same stubbed slot as media_features; the Spark-side
    shape (explode of a per-row frame range, deterministic per-frame
    fingerprint) is the real, tested part."""
    feats = media_features(spark, sf_dir).filter(F.col("kind") == "video")
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(stride))
    return feats.select(
        "doc_id",
        "media_ref",
        F.explode(idx).alias("frame_idx"),
    ).select(
        "doc_id",
        "media_ref",
        "frame_idx",
        F.md5(F.concat(F.col("media_ref"), F.lit("#"), F.col("frame_idx"))).alias(
            "frame_fp"
        ),
    )


def frame_samples_sql(stride: int = 24) -> str:
    base = media_features_sql()
    return f"""
WITH feats AS ({base})
SELECT doc_id, media_ref, CAST(frame_idx AS int) AS frame_idx,
       md5(media_ref || '#' || frame_idx) AS frame_fp
FROM (
  SELECT doc_id, media_ref,
         unnest(range(0, n_frames, {stride})) AS frame_idx
  FROM feats WHERE kind = 'video'
)"""


def media_features_sql() -> str:
    from kg.synth import SQL_EXPLODED_SPANS

    return f"""
WITH spans AS ({SQL_EXPLODED_SPANS})
SELECT doc_id, media_ref, kind,
       CAST(320 + {sql_id64("media_ref")} % 1600 AS int) AS width,
       CAST(240 + {sql_id64("'h:' || media_ref")} % 840 AS int) AS height,
       CAST(CASE WHEN kind = 'image' THEN 1
            ELSE 1 + {sql_id64("'f:' || media_ref")} % 240 END AS int) AS n_frames,
       md5('feat:' || media_ref) AS feat_fp
FROM spans WHERE kind <> 'text'"""
