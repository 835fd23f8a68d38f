"""Validation + deterministic keep/sample routing + per-category fan-out.

Reference semantics:

- Validation bounds (``/root/reference/log-ingestor/internal/models/
  log.go:43-64``): reject empty message, timestamps in the future (> now+1h)
  or ancient past (< now-10y). "now" is pinned (dicts.REF_NOW_MS) for
  determinism. The timestamp judged is the one parsed out of the text when
  present (the reference validates the parsed record), else the row ``ts``.
- Invalid-line counting (``handlers/stream.go:236-254``): rejected rows are
  not dropped silently — they land in the anomalies sink with a reason.
- Keep/sample routing (``helm/timberline/templates/
  fluent-bit-configmap.yaml:77-107``): keep every error/fatal/warn line,
  sample the rest at SAMPLING_RATE_PCT. The reference uses math.random; we
  use an arithmetic hash of (conv_key, turn_idx) — conv_key being the
  cross-engine polynomial hash of the conv_id STRING — so the routed-row
  set is a pure function of the data (identical across reruns and cluster
  sizes, reproducible by the DuckDB oracle, and well-defined for ANY
  conv_id format: numeric suffixes, UUIDs, arbitrary strings).

Anomaly reason precedence (first match wins):
  empty_text > unparseable_ts > empty_message > invalid_bounds > unknown_level.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dicts import (
    ERROR_LEVELS,
    HASH_A,
    HASH_B,
    HASH_P,
    KEEP_LEVELS,
    SAMPLING_RATE_PCT,
    TS_HIGH_MS,
    TS_LOW_MS,
)
from .enrich import enrich_turns
from .parse import parse_turns

def hash100(conv_key: Column, turn_idx: Column) -> Column:
    """Deterministic per-turn hash in [0, 100) — pure BIGINT arithmetic.

    conv_key is the string hash of conv_id (< 2^30, never null); it is
    reduced mod HASH_P before the multiply (same value by mod arithmetic)
    so the product stays far below 2^63."""
    return (
        ((conv_key % F.lit(HASH_P)) * F.lit(HASH_A)
         + turn_idx.cast("long") * F.lit(HASH_B))
        % F.lit(HASH_P)
    ) % 100


def classify_turns(df: DataFrame) -> DataFrame:
    """Add effective_ts_ms, anomaly_reason, is_valid, hash100, kept flags.

    One ``withColumns`` per dependency level: each level reads only the
    columns of the levels before it."""
    c = F.col
    reason = (
        F.when(c("text") == "", "empty_text")
        # no grammar matched (level_raw may be null with grammar='json' —
        # a direct-shape line with a message but no level key parses fine
        # and only its level defaults downstream, log.go:66-86)
        .when(c("grammar").isNull(), "unparseable_ts")
        # the reference rejects records whose parsed message is empty
        # (log.go:43-64 "message required")
        .when(c("message").isNull() | (c("message") == ""), "empty_message")
        .when(
            (c("effective_ts_ms") < TS_LOW_MS) | (c("effective_ts_ms") > TS_HIGH_MS),
            "invalid_bounds",
        )
        .when(c("level").isNull(), "unknown_level")
    )
    keep = c("level").isin(*KEEP_LEVELS)
    for cols in (
        {"effective_ts_ms": F.coalesce(c("text_ts_ms"), F.unix_millis(c("ts").cast("timestamp")))},
        {"anomaly_reason": reason},
        {
            "is_valid": c("anomaly_reason").isNull(),
            "hash100": hash100(c("conv_key"), c("turn_idx")),
        },
        {
            "keep_level": c("is_valid") & keep,
            "keep_sampled": c("is_valid") & ~keep & (c("hash100") < SAMPLING_RATE_PCT),
        },
        {"kept": c("keep_level") | c("keep_sampled")},
    ):
        df = df.withColumns(cols)
    return df


def classified(tr: DataFrame) -> DataFrame:
    """A transcripts frame through the parse -> enrich -> classify chain."""
    return classify_turns(enrich_turns(tr.sparkSession, parse_turns(tr)))


# --- per-category sinks (fan-out). Each is a projection+filter over the
# classified frame; Catalyst prunes columns and pushes the filters to the
# scan when these run straight off the source table. -------------------------


def errors_sink(df: DataFrame) -> DataFrame:
    return df.filter(
        F.col("is_valid") & F.col("level").isin(*ERROR_LEVELS)
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.col("effective_ts_ms").alias("ts_ms"),
        "level",
        "severity",
        "severity_score",
        "service",
        "message",
    )


def tool_calls_sink(df: DataFrame) -> DataFrame:
    return df.filter(F.col("is_valid") & (F.col("tool") != "")).select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "tool_category",
        "is_sensitive",
        F.col("effective_ts_ms").alias("ts_ms"),
        "message",
    )


def anomalies_sink(df: DataFrame) -> DataFrame:
    return df.filter(~F.col("is_valid")).select(
        "conv_id",
        "turn_idx",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.col("anomaly_reason").alias("reason"),
    )


def kept_turns(df: DataFrame) -> DataFrame:
    """The stream that feeds dedup + report aggregation (stored logs)."""
    return df.filter(F.col("kept"))
