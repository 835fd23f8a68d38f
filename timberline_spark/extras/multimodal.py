"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the payload is an opaque ``binary``
column with a typed metadata struct beside it; decode / feature-extract /
frame-sample run as Arrow-batched ``mapInPandas`` over partition-sized
batches. The decode libraries (PIL/librosa/ffmpeg) are not installed, so
the decode step is a clearly-marked deterministic fake behind
``decode_features``; the Spark-side plumbing — schema, partitioning, UDF
signature, batch shape — is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_FEATURES = 8
FRAME_BYTES = 16

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def attach_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, modality, payload binary, meta struct).

    Stands in for an ingest that carries image/audio bytes: payload is the
    utf-8 encoding of the text (deterministic), modality cycles.
    """
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.encode(F.col("text"), "utf-8")
    return df.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.substring(F.col("text"), 1, 8).alias("magic"),
        ).alias("meta"),
    )


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real decoder: per-stride byte means,
    FLOORED to 4 decimals: floor(sum*10^4/len)/10^4.

    Floor, not round: a mean like k + 2/64 sits exactly on a 4-decimal
    half-tie where Python (half-even) and SQL ROUND (half-away) disagree;
    floor is tie-free, so the DuckDB oracle reproduces the value
    bit-identically (sum*10^4 < 2^53 keeps every step exact in double).
    """
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return [0.0] * N_FEATURES
    chunks = np.array_split(arr.astype(np.int64), N_FEATURES)
    return [
        float(np.floor(float(c.sum()) * 10000.0 / c.size) / 10000.0) if c.size else 0.0
        for c in chunks
    ]


def decode_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column.

    ``_fake_features`` stands where a real decoder would run per payload;
    the deterministic fake keeps the distributed plumbing testable.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "features": pdf["payload"].map(_fake_features),
                }
            )

    return df.mapInPandas(_batches, schema=FEATURE_SCHEMA)


def frame_sample(df: DataFrame, every: int = 4) -> DataFrame:
    """Sample every Nth fixed-size 'frame' from the payload (video analog).

    Pure JVM-side: substring arithmetic over the binary column — no Python
    in the hot path.
    """
    n_frames = F.floor(F.octet_length("payload") / FRAME_BYTES).cast("int")
    idxs = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every))

    def _frame_lambda(i):
        return F.struct(
            i.cast("int").alias("frame_idx"),
            F.substring(
                F.col("payload"), (i * FRAME_BYTES + 1).cast("int"), FRAME_BYTES
            ).alias("frame"),
        )

    return (
        df.filter(F.octet_length("payload") >= FRAME_BYTES)
        .select("doc_id", F.explode(F.transform(idxs, _frame_lambda)).alias("f"))
        .select("doc_id", "f.frame_idx", "f.frame")
    )


def feature_scalars(df: DataFrame) -> DataFrame:
    """Scalar view of decode_features for the driver's value-hash check:
    one (doc_id, modality, n_bytes, feature_idx, value) row per feature.

    ``value`` is round(cast(float32 -> double), 4): the fake decoder's
    4-decimal floor survives the float32 round-trip exactly (max byte mean
    < 256 -> float32 abs error < 3.1e-5 < half-grid 5e-5), so the recovered
    double equals the oracle's FLOOR(...)/10^4 bit-for-bit.
    """
    return decode_features(df).select(
        "doc_id",
        "modality",
        "n_bytes",
        F.posexplode("features").alias("feature_idx", "fvalue"),
    ).select(
        "doc_id",
        "modality",
        "n_bytes",
        "feature_idx",
        F.round(F.col("fvalue").cast("double"), 4).alias("value"),
    )


def oracle_features() -> str:
    """DuckDB oracle for the stride byte-mean fake decoder: bytes via the
    hex encoding (like oracle_frame_sample), numpy.array_split chunking as
    closed-form index arithmetic (first n%8 chunks get one extra byte),
    then the same tie-free FLOOR(sum*10^4/len)/10^4."""
    nf = N_FEATURES
    return f"""
WITH p AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), b AS (
  SELECT doc_id, n, hx, unnest(range(0, n)) AS pos FROM p
), v AS (
  SELECT doc_id, n, pos,
    (strpos('0123456789ABCDEF', substr(hx, CAST(pos*2+1 AS INT), 1)) - 1) * 16
    + (strpos('0123456789ABCDEF', substr(hx, CAST(pos*2+2 AS INT), 1)) - 1) AS byte
  FROM b
), chunked AS (
  SELECT doc_id, byte,
    CASE WHEN pos < (n % {nf}) * ((n // {nf}) + 1)
         THEN pos // ((n // {nf}) + 1)
         ELSE (n % {nf}) + (pos - (n % {nf}) * ((n // {nf}) + 1))
              // greatest(n // {nf}, 1)
    END AS fi
  FROM v
), sums AS (
  SELECT doc_id, fi, SUM(byte) AS s, COUNT(*) AS m
  FROM chunked GROUP BY doc_id, fi
), grid AS (
  SELECT doc_id, unnest(range(0, {nf})) AS feature_idx FROM p
)
SELECT g.doc_id,
  CASE g.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       ELSE 'video' END AS modality,
  p.n AS n_bytes,
  CAST(g.feature_idx AS INT) AS feature_idx,
  COALESCE(FLOOR(CAST(s.s AS DOUBLE) * 10000.0 / s.m) / 10000.0, 0.0) AS value
FROM grid g
JOIN p ON p.doc_id = g.doc_id
LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.fi = g.feature_idx"""


def oracle_frame_sample(every: int = 4) -> str:
    """DuckDB oracle for the frame sampler: DuckDB has no BLOB substring, so
    frames are sliced on the hex encoding (2 hex chars per byte) and decoded
    back with from_hex — byte-identical to Spark's binary substring."""
    fb = FRAME_BYTES
    return f"""
WITH p AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), f AS (
  SELECT doc_id, hx,
         unnest(range(0,
             greatest(CAST(floor(n / {fb}) AS BIGINT) - 1, 0) + 1,
             {every})) AS frame_idx
  FROM p WHERE n >= {fb}
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       to_base64(from_hex(substring(hx, frame_idx * {2 * fb} + 1, {2 * fb}))) AS frame
FROM f"""


# ---- folded registry view ----------------------------------------------------


def multimodal_all(df: DataFrame) -> DataFrame:
    """Feature scalars + sampled frames in one frame, tagged by ``kind``
    (folded registry view — the driver checks at most 50 queries/round;
    both operators keep their full driver-checked rows here). ``idx`` is
    feature_idx or frame_idx; values live in value_num (features, double)
    or value_str (frames, base64) with NULLs on the other branch."""
    feats = feature_scalars(df).select(
        F.lit("feature").alias("kind"),
        "doc_id",
        "modality",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("feature_idx").cast("int").alias("idx"),
        F.col("value").alias("value_num"),
        F.lit(None).cast("string").alias("value_str"),
    )
    frames = frame_sample(df).select(
        F.lit("frame").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("modality"),
        F.lit(None).cast("long").alias("n_bytes"),
        F.col("frame_idx").cast("int").alias("idx"),
        F.lit(None).cast("double").alias("value_num"),
        F.base64("frame").alias("value_str"),
    )
    return feats.unionByName(frames)


def oracle_multimodal() -> str:
    return f"""
SELECT 'feature' AS kind, doc_id, modality, CAST(n_bytes AS BIGINT) AS n_bytes,
       feature_idx AS idx, value AS value_num, CAST(NULL AS VARCHAR) AS value_str
FROM ({oracle_features()}) feat_q
UNION ALL
SELECT 'frame' AS kind, doc_id, CAST(NULL AS VARCHAR) AS modality,
       CAST(NULL AS BIGINT) AS n_bytes, frame_idx AS idx,
       CAST(NULL AS DOUBLE) AS value_num, frame AS value_str
FROM ({oracle_frame_sample()}) frame_q"""
