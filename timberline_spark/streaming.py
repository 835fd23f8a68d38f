"""Structured Streaming analog of the ingest path (SURVEY.md §2.9).

The reference is a continuous collector (5 s flush micro-batches,
``helm/timberline/templates/fluent-bit-configmap.yaml:12``; late/future data
rejection ``log-ingestor/internal/models/log.go:51-63``). The Spark
expression of the same semantics:

- ``readStream`` file source over the transcripts table directory
- the SAME parse/enrich/route functions as the batch path (one codebase,
  two execution modes)
- ``withWatermark("ts", ...)`` + tumbling ``window()`` aggregation for the
  per-window level counts
- exactly-once via checkpointing (vs the reference's drop-on-full channel
  and retry_limit 1 — documented upgrade, SURVEY.md §2.9)

The demo/test uses ``Trigger.AvailableNow`` so it is deterministic and
finite; on a cluster the same query runs with a processing-time trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import route
from .aggregate import dedup_key
from .dicts import DEDUP_EXAMPLES_N
from .transcripts import TRANSCRIPT_SCHEMA


def level_counts(classified: DataFrame, window: str = "1 hour", ts="ts") -> DataFrame:
    """Valid rows counted per (tumbling ``window`` on the ``ts`` column or
    expression, level): the one definition behind the streaming query, its
    batch twin and the registered ``stream_window_counts``. Columns ``w``
    (the window's start/end struct), ``level``, ``n``; callers project the
    window.

    A streaming caller declares its watermark on ``classified``: the
    optimizer pushes the validity filter below the watermark node (the
    filter does not read the event-time column), so invalid rows — the
    far-future ones included — never advance the watermark."""
    return (
        classified.filter(F.col("is_valid"))
        .groupBy(F.window(ts, window).alias("w"), F.col("level"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _window_bounds(counts: DataFrame) -> DataFrame:
    return counts.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "level",
        "n",
    )


def _classified_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """The transcripts directory as a streaming source through the batch
    path's parse -> enrich -> classify chain."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    return route.classified(stream)


def stream_level_counts(
    spark: SparkSession,
    src_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Windowed level counts over a streaming transcripts source.

    Returns the streaming DataFrame (caller attaches the sink). Late data
    beyond the watermark is dropped — the streaming expression of the
    reference's validity-window rejection.
    """
    classified = _classified_stream(spark, src_dir, max_files_per_trigger)
    return _window_bounds(level_counts(classified.withWatermark("ts", watermark), window))


def run_available_now(
    spark: SparkSession, src_dir: str, checkpoint_dir: str, query_name: str
) -> DataFrame:
    """Drain the source with AvailableNow into a memory sink; return result.

    Runs in COMPLETE output mode, where the watermark never evicts state or
    drops late rows — every window stays live, which is what makes the
    batch-parity check exact. Late/early-data REJECTION here is the
    validity-bounds filter inside classify_turns (the reference's actual
    rule, log.go:51-63); the watermark declared in stream_level_counts only
    bounds state when the same query runs in append/update mode on a real
    sink."""
    q = (
        stream_level_counts(spark, src_dir)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def run_append_windows(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drain the windowed aggregation into a parquet FILE sink in APPEND
    mode — the production output mode, where the watermark actually works:
    a window is emitted (finalized) only once the watermark passes its end,
    its state is then evicted, and a row arriving later than the watermark
    is DROPPED from the aggregation (the reference's late-data rejection,
    log.go:51-63, expressed the Structured Streaming way). Complete mode
    (run_available_now) keeps every window live instead — exact for parity
    checks, unbounded state at 100 TB. maxFilesPerTrigger=1 forces one
    micro-batch per source file so the watermark advances between files."""
    q = (
        stream_level_counts(
            spark, src_dir, window, watermark, max_files_per_trigger=max_files_per_trigger
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def start_processing_time(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    interval: str = "500 milliseconds",
    window: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int = 1,
):
    """START the windowed aggregation with a PROCESSING-TIME trigger — the
    production mode matching the reference's continuous 5s-flush collector
    (fluent-bit-configmap.yaml:12): the query stays up, fires a micro-batch
    every ``interval`` as new files land, finalizes windows incrementally
    as the watermark passes them (append mode), and evicts their state.
    Returns the live StreamingQuery; the caller drip-feeds the source,
    watches ``recentProgress``, and ``stop()``s it. AvailableNow
    (run_append_windows) is the same plan run finitely; this entry point
    is the long-running deployment shape."""
    return (
        stream_level_counts(
            spark, src_dir, window, watermark, max_files_per_trigger=max_files_per_trigger
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(processingTime=interval)
        .start()
    )


# ---- stateful streaming dedup (SURVEY §2.9d) ---------------------------------
# The reference's similarity corpus grows as the stream progresses: the first
# MIN_EXAMPLES_BEFORE_EXCLUSION=3 similar logs are stored as examples, later
# ones only bump the count (milvus.go:374-397, config.go:46). The Structured
# Streaming expression: applyInPandasWithState keyed on dedup_key, a per-key
# seen-counter as state, emitting only rows whose arrival rank is <= 3.

_DEDUP_OUT_SCHEMA = (
    "dedup_key string, example_rank int, conv_id string, turn_idx int,"
    " level string, message string, ts_ms long"
)
_DEDUP_STATE_SCHEMA = "seen long"


def _dedup_examples_fn(key, pdfs, state):
    import pandas as pd

    (dedup_key,) = key
    seen = state.get[0] if state.exists else 0
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts_ms", "conv_id", "turn_idx"]
    )
    out = []
    for r in rows.itertuples(index=False):
        seen += 1
        if seen <= DEDUP_EXAMPLES_N:
            out.append(
                (dedup_key, int(seen), r.conv_id, int(r.turn_idx), r.level,
                 r.message, int(r.ts_ms))
            )
    state.update((seen,))
    yield pd.DataFrame(
        out,
        columns=["dedup_key", "example_rank", "conv_id", "turn_idx", "level",
                 "message", "ts_ms"],
    )


def stream_dedup_examples(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int = 8,
    key_mode: str = "exact",
) -> DataFrame:
    """Streaming first-3-examples dedup. Arrival order is the stream's rank
    order (the reference's semantics); within one micro-batch, ties resolve
    by (ts_ms, conv_id, turn_idx) so a single-batch drain equals the batch
    dedup_examples operator exactly.

    key_mode='exact' keys state on the lowercased message (byte-identical
    dedup). key_mode='simhash' keys on the message's 32-bit SimHash — the
    streaming twin of the reference's INGEST-time near-dup dedup against
    the growing corpus (cosine > 0.95, milvus.go:354-409, config.go:45):
    near-identical messages whose token-vote signs agree land in one state
    key and dedup ON ARRIVAL, not at the next batch pass. The simhash is a
    pure projection (extras.dedup.with_simhash), so it rides the stream's
    scan stage; state size is unchanged (one counter per key). Batch twin
    with the same grouping: aggregate.dedup_examples_simhash (oracle-checked
    as the registered ``dedup_simhash`` query)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    base = (
        _classified_stream(spark, src_dir, max_files_per_trigger)
        .filter(F.col("kept"))
        .select(
            "conv_id", "turn_idx", "level", "message", F.col("effective_ts_ms").alias("ts_ms")
        )
    )
    if key_mode == "simhash":
        from .extras.dedup import with_simhash

        base = with_simhash(base, "message", "_simhash")
        key = F.col("_simhash").cast("string")
    elif key_mode == "exact":
        key = dedup_key(F.col("message"))
    else:
        raise ValueError(f"unknown key_mode: {key_mode!r}")
    kept = base.select(
        key.alias("dedup_key"), "conv_id", "turn_idx", "level", "message", "ts_ms"
    )
    return kept.groupBy("dedup_key").applyInPandasWithState(
        _dedup_examples_fn,
        _DEDUP_OUT_SCHEMA,
        _DEDUP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_dedup_examples_available_now(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int = 8,
    key_mode: str = "exact",
) -> DataFrame:
    """Drain the stateful dedup with AvailableNow into a memory sink."""
    q = (
        stream_dedup_examples(spark, src_dir, max_files_per_trigger, key_mode)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def batch_level_counts(spark: SparkSession, src_dir: str, window: str = "1 hour") -> DataFrame:
    """The identical aggregation in batch mode (streaming/batch parity check)."""
    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src_dir)
    return _window_bounds(level_counts(route.classified(df), window))
