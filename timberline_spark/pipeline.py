"""End-to-end pipeline runner: scan -> parse -> enrich -> route -> sinks.

This is the spark-submit surface. It reproduces the reference's continuous
ingest+analysis flow (CLAUDE.md:27: logs -> parse -> store -> analyze ->
report) as a resumable batch DAG over date partitions:

- every stage output is a partitioned table (parquet here; the layout and
  MERGE-like idempotency map 1:1 onto Iceberg ``PARTITIONED BY (days(ts))``
  when the Iceberg runtime jar is on the classpath — see ``iceberg_ddl``);
- a ``_lineage`` table keyed by (run_id, stage, partition) records committed
  work so a rerun skips finished partitions (the reference's analysis_jobs
  status table, ``ai-analyzer/analyzer/db/models.py:21-40``, generalized to
  per-partition granularity);
- a ``_metrics`` table records rows_in/rows_out/invalid per stage per
  partition (the reference's Prometheus counters,
  ``log-ingestor/internal/handlers/stream.go:108-158``); a stage's wall
  time is recorded once, in its partition ``*`` row. Each run_id owns one
  ``_metrics`` file, rewritten whole (every date of the run) by each
  attempt.

Dynamic partition overwrite makes every write idempotent: re-processing a
partition replaces it byte-identically (all transforms are deterministic),
so a crash between "write" and "lineage append" is safe. Every file the
driver writes itself (``_lineage``, ``_metrics``, ``top_issues``,
``report_summary``, the pinned run config and the report JSON) goes through
one primitive, ``_publish``: a hidden temp file, then ``os.replace``, so a
crash mid-write never leaves a truncated or missing file behind. The
frames the aggregate tail persists are released on every exit, a failed
attempt included. The sinks and the aggregate tables are rebuilt
from all of the run's stage dates on every attempt, so a rerun after a
crash at any later point converges to the outputs of an uninterrupted run
(tests/test_pipeline.py injects one crash per commit point).

Scale notes (the 100 TB story):

- ``run_pipeline`` is a short chain of module-level stage functions that
  take and return plain values (frames, counts, rows, timings):
  ``_stage_frame`` classifies the input once, ``_write_stage`` writes it as
  the stage table, and the sinks and the dedup then read that columnar
  checkpoint instead of re-parsing raw text. After the stage write ONE
  thread pool runs the independent jobs (``_commit_stage``, three
  ``_write_sink``, the two dated writes and the two report collects) while
  the driver thread runs ``_report``'s dedup -> dated -> rollup chain;
  ``_publish_run`` then writes ``_metrics``, the report JSON and the
  webhook post. Exact and fuzzy clusters come from one builder,
  ``aggregate.report_buckets``, and every global cluster table is written
  by ``_write_global`` (rebalanced: one file for a small table).
- Sinks are partitioned by event date -> partition pruning for the daily
  analysis window (engine.py:84-86).
- Hot conversations skew the dedup/cluster groupBys; those group on
  message-derived keys (dedup_key / fingerprint), which are naturally
  high-cardinality, and AQE skew handling is enabled in session.py.
- The stage table and the sinks are sized by bytes, not row counts
  (``_write_by_date``): an AQE rebalance on the date gives one file per
  small date and ~64 MB files (``advisoryPartitionSizeInBytes``) for a
  large one, so downstream scans of a big date stay parallel while a small
  run does not pay a commit for near-empty files.
"""

from __future__ import annotations

import argparse
import json
import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import aggregate as agg
from . import route
from .transcripts import TRANSCRIPT_SCHEMA, load_transcripts

STAGE_CLASSIFIED = "stage_classified"
SINKS = ("sink_errors", "sink_tool_calls", "sink_anomalies")

LINEAGE_SCHEMA = (
    T.StructType().add("run_id", "string").add("stage", "string")
    .add("partition", "string").add("rows", "long")
    .add("committed_at", "double").add("status", "string")
)
METRICS_SCHEMA = (
    T.StructType().add("run_id", "string").add("stage", "string")
    .add("partition", "string").add("rows_in", "long").add("rows_out", "long")
    .add("invalid", "long").add("elapsed_sec", "double")
)


@dataclass
class RunResult:
    run_id: str
    partitions_processed: list[str]
    partitions_skipped: list[str]
    counts: dict = field(default_factory=dict)
    elapsed_sec: float = 0.0


def _p_date(col):
    return F.date_format(F.to_timestamp(F.col(col) / 1000.0), "yyyy-MM-dd")


def _write_by_date(df: DataFrame, path: str, col: str = "p_date") -> int:
    """Overwrite the ``col`` date partitions of ``df`` at ``path``, with files
    sized by bytes, not by row counts, and return the rows written.

    The AQE rebalance hint routes each date to one write task, so a small
    date is one file. A date larger than ``advisoryPartitionSizeInBytes``
    (64 MB, session.py) is split into files of about that size. Without the
    shuffle, every scan task would write a sliver file into every date it
    touches (tasks x dates files), and every created file costs the commit.

    The row count is an observation riding the write job. It sits above the
    rebalance: below it, AQE swaps an all-empty shuffle for an empty
    relation once the map stage has run, and the count of an empty write
    is lost."""
    obs = Observation(f"rows:{path}")
    df.hint("rebalance", col).observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).partitionBy(col).parquet(path)
    return obs.get["rows"]


def _publish(path: str, write) -> None:
    """Create or replace the file ``path`` crash-safely.

    ``write(tmp)`` fills a dot-prefixed temp file beside it — Spark's and
    pyarrow's directory readers skip hidden files — and one ``os.replace``
    then publishes the finished file. A crash mid-write (process killed,
    disk full) therefore leaves at most a hidden stray, never a truncated
    visible file, and a reader sees the old file or the new one. The next
    publish of the same name sweeps the strays of interrupted ones."""
    table_dir, name = os.path.split(path)
    os.makedirs(table_dir, exist_ok=True)
    tmp = os.path.join(table_dir, f".{name}.{uuid.uuid4().hex}.tmp")
    write(tmp)
    os.replace(tmp, path)
    for stray in os.listdir(table_dir):
        if stray.startswith(f".{name}.") and stray.endswith(".tmp"):
            os.remove(os.path.join(table_dir, stray))


def _publish_json(path: str, doc) -> None:
    def write(tmp):
        with open(tmp, "w") as fh:
            json.dump(doc, fh, indent=2, default=str)

    _publish(path, write)


def _metrics_file(run_id: str) -> str:
    """The one ``_metrics`` file of a run, named by a hash of its run_id."""
    import hashlib

    return f"part-run-{hashlib.sha256(run_id.encode()).hexdigest()[:32]}.parquet"


SMALL_TABLE_FILE = "part-00000.parquet"


def _publish_rows(
    out_dir: str, table: str, schema: T.StructType, rows, name: str | None = None
) -> None:
    """Publish tiny driver-side rows (tuples in ``schema`` order) as ONE
    parquet file ``out_dir/table/name``.

    These are a handful of rows per run: bookkeeping, or a result already
    collected. A Spark job for each (the round-2 coalesce(1) writes) costs
    a full schedule/commit round-trip on a real cluster — part of the
    measured ~20 s serial tail that caps N->4N scaling. pyarrow on the
    driver writes the same parquet with zero cluster involvement.

    Without ``name`` the rows land in a new file (the ``_lineage`` append).
    A fixed name replaces that file: the run's ``_metrics`` rows
    (``_metrics_file``) are republished whole by every attempt, and a
    small result table is the single file SMALL_TABLE_FILE. Columns are
    typed by PySpark's own Spark -> Arrow converter, so an empty table stays
    readable and complex types (arrays, maps, timestamps) need no mapping."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    t = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], to_arrow_schema(schema)
    )
    name = name or f"part-{uuid.uuid4().hex}.parquet"
    _publish(f"{out_dir}/{table}/{name}", lambda tmp: pq.write_table(t, tmp))


def _pin_run_config(out_dir: str, run_id: str, cfg: dict) -> None:
    """Refuse to resume a run under different semantics.

    Resume skips partitions already committed by this run_id, so flags
    that change WHAT gets written (input selection, redaction, fuzzy
    clustering) must match the original invocation — otherwise old and
    new partitions would silently disagree (e.g. half the sink rows
    redacted). The first invocation pins its config as a tiny driver-side
    JSON; any later invocation with the same (out_dir, run_id) must
    match or it fails loudly naming the drifted flags.
    """
    path = f"{out_dir}/_run_config/{run_id}.json"
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        drift = {k: (prev.get(k), v) for k, v in cfg.items() if prev.get(k) != v}
        if drift:
            raise ValueError(
                f"resume config mismatch for run_id={run_id!r}: "
                + ", ".join(
                    f"{k} was {a!r}, now {b!r}" for k, (a, b) in sorted(drift.items())
                )
                + " — rerun with the original flags or use a new run_id/out_dir"
            )
        return
    _publish_json(path, cfg)


def _stage_frame(tr: DataFrame, run_id: str, redact: bool) -> DataFrame:
    """Classify ``tr`` (parse + enrich + validate + route flags) into the
    stage frame: the stage columns plus ``p_date`` and ``run_id``.

    ``redact`` scrubs PII/identifier tokens (:mod:`timberline_spark.redact`)
    from the parsed ``message`` AND the ``labels`` map values BEFORE the
    stage checkpoint, so the free-text surfaces of every downstream table —
    the category sinks, report-bucket example messages, the report JSON
    document, the webhook payload — carry only scrubbed text. Scope note:
    structured key columns (``conv_id``, label KEYS, ``anomaly_reason``)
    are NOT rewritten — anomaly_reason is a closed enum and conv_id is the
    join/grouping identity (rewriting it would break dedup and resume);
    treat conv_id as pseudonymous and map it outside the pipeline if the
    hand-off requires it. This is the compliance gate for the reference's
    LLM hand-off (ai-analyzer llm_client.py embeds raw log text in
    prompts); cost is a per-row projection fused into the classify stage.

    The stage table is the PARSED representation (what every downstream
    consumer needs): it drops the raw text and the parse intermediates,
    which roughly halves the parquet-encode and shuffle bytes. The raw text
    stays addressable in the source table by (conv_id, turn_idx). run_id
    rides along: a date partition belongs to the run that last wrote it
    (dynamic overwrite keeps one writer per date), which is what scopes the
    sinks and the report to THIS run's dates — another run's dates stay in
    the shared tables but out of this run's aggregation."""
    derived = {"p_date": _p_date("effective_ts_ms"), "run_id": F.lit(run_id)}
    if redact:
        from .redact import redact_text

        derived["message"] = redact_text(F.col("message"))
        # label VALUES are open metadata (can embed identifiers on real
        # inputs); keys are schema-like and stay
        derived["labels"] = F.transform_values(
            F.col("labels"), lambda _k, v: redact_text(v)
        )
    return route.classified(tr).select(
        "conv_id", "turn_idx", "role", "tool", "tool_category", "is_sensitive",
        "ts", "service", "message", "level", "severity", "severity_score",
        "is_error", "is_warning", "effective_ts_ms", "anomaly_reason",
        "is_valid", "keep_level", "keep_sampled", "kept", "conv_key", "labels",
    ).withColumns(derived)


def _committed_dates(spark: SparkSession, out_dir: str, run_id: str) -> set[str]:
    """The stage dates ``_lineage`` marks committed for ``run_id``. A fresh
    ``out_dir`` has no lineage, and no Spark job runs to learn that."""
    if not os.path.isdir(f"{out_dir}/_lineage"):
        return set()
    lineage = spark.read.parquet(f"{out_dir}/_lineage").filter(
        (F.col("run_id") == run_id)
        & (F.col("stage") == STAGE_CLASSIFIED)
        & (F.col("status") == "committed")
    )
    return {r.partition for r in lineage.select("partition").collect()}


def _write_stage(
    classified: DataFrame, out_dir: str, run_id: str, done: set[str]
) -> tuple[float, DataFrame]:
    """Write the dates of ``classified`` not in ``done`` to the stage table;
    return the write's wall time and this run's stage frame, read back.

    The dates to commit come from the written table afterwards (no extra
    pass over the raw input). The driver already holds the table's schema;
    passing it skips the footer-inference job. p_date is a string column
    when written and reads back as the date partition value inference would
    give it."""
    t = time.time()
    batch = classified.filter(~F.col("p_date").isin(sorted(done))) if done else classified
    _write_by_date(batch, f"{out_dir}/{STAGE_CLASSIFIED}")
    write_s = time.time() - t
    schema = T.StructType(
        [T.StructField(f.name, T.DateType()) if f.name == "p_date" else f for f in batch.schema]
    )
    stage_df = classified.sparkSession.read.schema(schema).parquet(
        f"{out_dir}/{STAGE_CLASSIFIED}"
    )
    return write_s, stage_df.filter(F.col("run_id") == run_id).drop("run_id")


def _commit_stage(
    stage_df: DataFrame, out_dir: str, run_id: str, done: set[str]
) -> tuple[list[str], dict[str, tuple[int, int]]]:
    """Commit the stage write: count each date of the run (rows, invalid
    rows) in ONE columnar pass over the written table (p_date, is_valid
    only), and append the dates not in ``done`` to ``_lineage``. Returns
    those dates and every date's counts.

    Nothing downstream needs the counts, so this job runs on the pool beside
    the sinks instead of ahead of them; the lineage append still follows the
    stage write, as resume requires. ``stage_df`` holds this run's dates
    only: the counts must not absorb dates another run_id owns."""
    per_date = {
        r.p_date: (r.n, r.bad)
        for r in stage_df.groupBy(F.col("p_date").cast("string").alias("p_date"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.when(~F.col("is_valid"), 1).otherwise(0)), F.lit(0)).alias("bad"),
        )
        .collect()
    }
    todo = sorted(p for p in per_date if p not in done)
    if todo:
        now = time.time()
        rows = [(run_id, STAGE_CLASSIFIED, p, per_date[p][0], now, "committed") for p in todo]
        _publish_rows(out_dir, "_lineage", LINEAGE_SCHEMA, rows)
    return todo, per_date


def _write_sink(stage_df: DataFrame, out_dir: str, run_id: str, sink: str) -> tuple[float, int]:
    """Write ``sink`` (one of SINKS) from the stage frame; return its wall
    time and the rows it wrote."""
    t = time.time()
    build = {
        "sink_errors": route.errors_sink,
        "sink_tool_calls": route.tool_calls_sink,
        "sink_anomalies": route.anomalies_sink,
    }[sink]
    out = build(stage_df).withColumns({"run_id": F.lit(run_id), "p_date": _p_date("ts_ms")})
    rows = _write_by_date(out, f"{out_dir}/{sink}")
    return time.time() - t, rows


def _write_global(scored: DataFrame, out_dir: str, run_id: str, table: str) -> None:
    """Write the scored global buckets as ``table``. The rebalance lets AQE
    size the write partitions by advisory bytes (guide §6): one file for a
    small cluster table instead of one sliver per aggregate task, ~64 MB
    files at scale."""
    scored.hint("rebalance").withColumn("run_id", F.lit(run_id)).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/{table}")


def _report(
    ex: ThreadPoolExecutor, stage_df: DataFrame, out_dir: str, run_id: str,
    fuzzy: bool, cached: list[DataFrame],
) -> tuple[list, Row, int, int]:
    """The report chain: dedup -> dated -> rollup -> collects on this thread,
    the dated writes and the two collects on ``ex``. Writes
    ``analysis_results``, ``analysis_summary``, ``report_buckets`` (and with
    ``fuzzy`` ``report_buckets_fuzzy``), ``top_issues`` and
    ``report_summary``; returns the top-issue rows, the summary row and the
    dated and rollup hash-collision counts. Every frame it persists goes
    into ``cached``, to be released once ``ex`` has drained."""
    # the wide dedup shuffle runs ONCE, keyed per analysis date; the global
    # view is an associative rollup of the (tiny) dated frame. Scored
    # buckets are persisted in memory while being written, and top-issues +
    # summary + the JSON report doc all derive from the cached frames — no
    # parquet read-backs, no extra .count() jobs.
    deduped_d = agg.dedup_turns(
        route.kept_turns(stage_df), extra_keys=("p_date",), audit=True
    ).persist()
    cached.append(deduped_d)
    # materialize the ONE wide shuffle before fanning out (the result
    # branches below then read the cached frame concurrently instead of
    # racing to populate it) AND, in the same job, count the dated groups and
    # the hash-key collision groups — the sentinel for the 64-bit dedup key
    # (nonzero lands in _metrics)
    n_groups, n_collisions = deduped_d.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.col("key_collision").cast("long")), F.lit(0)),
    ).collect()[0]
    # fuzzy mode: one component map over DISTINCT templates, applied to the
    # dated AND global aggregations (scale shape: the graph is O(cluster
    # count); each aggregation stays one hash-agg shuffle)
    comp = agg.fuzzy_component_map(deduped_d) if fuzzy else None
    # S7 date-keyed upsert (analysis_results_store.py:75-131 keeps one result
    # row set per analysis_date): results partitioned by analysis_date +
    # dynamic partition overwrite = MERGE keyed by date. A second run touches
    # only the dates present in ITS input; other runs' dates survive, and
    # re-running a date is idempotent (all transforms deterministic).
    # Persisted: BOTH dated writers read it; uncached, each would re-run the
    # dated bucket aggregation (measured: two identical agg jobs per run).
    scored_d = agg.score_clusters(
        agg.report_buckets(deduped_d, comp, ("p_date",))
    ).withColumnRenamed("p_date", "analysis_date").persist()
    cached.append(scored_d)
    dated = [
        # the rebalance puts each date's clusters in one write task (measured
        # with the repartition it replaced: 736 -> 30 files and 1.98 s ->
        # 0.46 s at sf0.1)
        ex.submit(
            _write_by_date,
            scored_d.withColumn("run_id", F.lit(run_id)),
            f"{out_dir}/analysis_results",
            "analysis_date",
        ),
        # no rebalance: the groupBy already puts each date in one task, and
        # a rebalance after it adds an exchange and a job
        ex.submit(
            agg.run_summary(scored_d, group_keys=("analysis_date",))
            .withColumn("run_id", F.lit(run_id))
            .write.mode("overwrite")
            .partitionBy("analysis_date")
            .parquet,
            f"{out_dir}/analysis_summary",
        ),
    ]
    # the global chain proceeds concurrently on this thread (FAIR scheduler
    # interleaves the small jobs); inputs are the cached dated frame, so
    # nothing recomputes the wide shuffle. The rollup re-hashes dedup_key, so
    # it runs its OWN collision audit (a cross-date collision here is
    # invisible to the per-date sentinel); the sentinel sum rides the
    # report_buckets write via observe() — zero extra jobs. With no dated
    # groups AQE drops the empty rollup below the bucket shuffle and the
    # observation never arrives; there is nothing to audit then.
    rollup_obs = Observation("rollup_audit")
    deduped = agg.dedup_rollup(deduped_d, audit=True).observe(
        rollup_obs,
        F.coalesce(F.sum(F.col("key_collision").cast("long")), F.lit(0)).alias("n_collisions"),
    )
    # fuzzy mode writes the merged table NEXT TO the exact one, and the
    # report derives from the merged clustering, like the reference's
    # DBSCAN-fed report. Only the report's basis is persisted (its write and
    # the two collects read it); the exact table in fuzzy mode is read once.
    exact = agg.score_clusters(agg.report_buckets(deduped))
    merged = agg.score_clusters(agg.report_buckets(deduped, comp)) if comp is not None else None
    basis = (exact if merged is None else merged).persist()
    cached.append(basis)
    _write_global(exact, out_dir, run_id, "report_buckets")
    if merged is not None:
        _write_global(merged, out_dir, run_id, "report_buckets_fuzzy")
    n_rollup_collisions = rollup_obs.get["n_collisions"] if n_groups else 0
    # both collects read the persisted tiny scored frame; overlap them on the
    # pool (two small jobs, each <= TOP_ISSUES_N rows / 1 row by
    # construction) instead of serializing two job round-trips
    top, summary = agg.top_issues(basis), agg.run_summary(basis)
    top_fut, summary_fut = ex.submit(top.collect), ex.submit(summary.collect)
    top_rows, summary_row = top_fut.result(), summary_fut.result()[0]
    # tiny tables from already-collected rows: driver-written, no job
    run_field = T.StructField("run_id", T.StringType())
    for table, src, rows in (
        ("top_issues", top, top_rows),
        ("report_summary", summary, [summary_row]),
    ):
        _publish_rows(
            out_dir,
            table,
            T.StructType(src.schema.fields + [run_field]),
            [(*r, run_id) for r in rows],
            SMALL_TABLE_FILE,
        )
    for f in dated:
        f.result()
    return top_rows, summary_row, int(n_collisions), int(n_rollup_collisions)


def _publish_run(
    out_dir: str, run_id: str, metrics: list[tuple], top_rows: list, summary_row: Row,
    webhook_url: str | None, webhook_spool: str | None,
) -> dict | None:
    """Publish the run's ``_metrics`` file and its JSON report, then post
    the report to the webhook when one is configured; return the post's
    delivery record, or None."""
    _publish_rows(out_dir, "_metrics", METRICS_SCHEMA, metrics, _metrics_file(run_id))
    # S6 analog: single JSON report document (reporting/generator.py:101-131)
    # — the human-facing daily report; built from the already-collected rows.
    report_doc = {
        "run_id": run_id,
        "summary": summary_row.asDict(),
        "top_issues": [r.asDict() for r in sorted(top_rows, key=lambda r: r["rank"])],
    }
    _publish_json(f"{out_dir}/daily_analysis_{run_id}.json", report_doc)
    # S8 webhook notification (generator.py:133-166): POST the summary
    # payload, spool on failure (at-least-once; no silent drop)
    if not (webhook_url or webhook_spool):
        return None
    from .webhook import post_report

    return post_report(report_doc, url=webhook_url, spool_dir=webhook_spool)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    run_id: str,
    replicate: int = 1,
    input_table: str | None = None,
    webhook_url: str | None = None,
    webhook_spool: str | None = None,
    fuzzy_buckets: bool = False,
    redact: bool = False,
) -> RunResult:
    """Run (or resume) the full pipeline.

    Partition unit = event date. Partitions already committed for this
    run_id (per the _lineage table) are skipped — that is the
    resume-from-checkpoint behavior: a rerun after a crash, or after new
    input files for new dates were added to ``input_table``, processes only
    the uncommitted dates. Rows that arrive later for an already-committed
    date are not picked up.

    fuzzy_buckets=True additionally merges near-miss clusters (the
    reference's DBSCAN analog, engine.py:104-106: clusters feed the report,
    not a side query): the fingerprint->component map is computed ONCE over
    distinct templates, ``analysis_results``/``analysis_summary`` group by
    merged component, the merged global table is written next to the exact
    one as ``report_buckets_fuzzy``, and top_issues + the report summary
    derive from the merged clustering.

    redact=True scrubs PII/identifier tokens from every free-text surface
    before the stage checkpoint (:func:`_stage_frame` gives the scope).

    The stages are the functions above: ``_stage_frame`` ->
    ``_write_stage`` -> (``_commit_stage`` | ``_write_sink`` x3 |
    ``_report``) on one pool -> ``_publish_run``.
    """
    t0 = time.time()
    _pin_run_config(
        out_dir,
        run_id,
        {
            "sf_dir": sf_dir,
            "input_table": input_table,
            "replicate": replicate,
            "redact": bool(redact),
            "fuzzy_buckets": bool(fuzzy_buckets),
        },
    )
    # resume correctness depends on dynamic partition overwrite: with the
    # static default, re-writing one date partition would truncate the rest
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    if input_table:
        tr = spark.read.parquet(input_table)
    else:
        tr = load_transcripts(spark, sf_dir, replicate=replicate)
    classified = _stage_frame(tr, run_id, redact)
    done = _committed_dates(spark, out_dir, run_id)
    stage_write_s, stage_df = _write_stage(classified, out_dir, run_id, done)

    # The stage commit, the three sink writes, the two dated writes and the
    # two report collects are independent jobs; each gets its own thread of
    # ONE pool, sized so none queues behind another (Spark's scheduler is
    # thread-safe; session.py enables FAIR mode), and the small jobs fill
    # executor slots the wide dedup shuffle leaves idle. This thread runs the
    # report chain the dated writes and the collects depend on, so the
    # serial driver tail is one barrier instead of a queue of small jobs.
    # The frames the chain persists are released in the finally on every
    # exit, a failed attempt included; the finally runs after the pool has
    # drained (the with block waits), so no write still reading a cached
    # frame loses it mid-job.
    t_stage = time.time()
    cached: list[DataFrame] = []
    try:
        with ThreadPoolExecutor(1 + len(SINKS) + 2 + 2) as ex:
            commit = ex.submit(_commit_stage, stage_df, out_dir, run_id, done)
            sinks = [ex.submit(_write_sink, stage_df, out_dir, run_id, s) for s in SINKS]
            top_rows, summary_row, n_collisions, n_rollup_collisions = _report(
                ex, stage_df, out_dir, run_id, fuzzy_buckets, cached
            )
            todo, per_date = commit.result()
            sink_runs = [f.result() for f in sinks]
    finally:
        for df in cached:
            df.unpersist()
    counts = {sink: rows for sink, (_, rows) in zip(SINKS, sink_runs)}
    counts |= {
        "report_buckets": int(summary_row["clusters_found"]),
        "top_issues": len(top_rows),
        "report_summary": 1,
    }
    # Every date of the run, committed now or by an earlier attempt: the
    # run's _metrics file is rewritten whole each attempt. A wall time is
    # recorded once, at partition "*"; per-date rows carry counts only
    # (rows_out = valid rows), so every column sums cleanly. The collision
    # sentinels count groups whose members disagree under an independent
    # second hash (expected 0; nonzero = two distinct messages merged under
    # one 64-bit key): per date, then in the rollup's OWN hashed groupBy
    # (cross-date collisions the per-date audit cannot see, inherited
    # verdicts included).
    metrics = [
        (run_id, STAGE_CLASSIFIED, "*", None, None, None, stage_write_s),
        *(
            (run_id, STAGE_CLASSIFIED, p, n, n - bad, bad, None)
            for p, (n, bad) in sorted(per_date.items())
        ),
        *((run_id, sink, "*", None, rows, None, el) for sink, (el, rows) in zip(SINKS, sink_runs)),
        (run_id, "aggregate", "*", None, counts["report_buckets"], None, time.time() - t_stage),
        (run_id, "dedup_hash_collisions", "*", None, n_collisions, None, None),
        (run_id, "dedup_rollup_hash_collisions", "*", None, n_rollup_collisions, None, None),
    ]
    webhook = _publish_run(
        out_dir, run_id, metrics, top_rows, summary_row, webhook_url, webhook_spool
    )
    if webhook is not None:
        counts["webhook"] = webhook
    return RunResult(
        run_id, partitions_processed=todo, partitions_skipped=sorted(done),
        counts=counts, elapsed_sec=time.time() - t0,
    )


def iceberg_ddl(table: str = "transcripts") -> str:
    """The Iceberg DDL this layout maps to on a real cluster (S5 analog —
    log-ingestor/internal/storage/milvus.go:100-179 collection bootstrap)."""
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ( {TRANSCRIPT_SCHEMA})"
        " USING iceberg PARTITIONED BY (days(ts), bucket(64, conv_id))"
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True when the iceberg-spark-runtime jar is on the JVM classpath.
    This sandbox has no network and no vendored jar (pinned in BENCH.md),
    so here it returns False; on a real cluster with
    ``--packages org.apache.iceberg:iceberg-spark-runtime-...`` it gates
    :func:`bootstrap_iceberg`."""
    try:
        # resolve through the CONTEXT classloader, not Class.forName's
        # caller loader: jars added via --packages/--jars live in Spark's
        # MutableURLClassLoader, which only the context loader sees — the
        # caller-loader probe returns a false negative on exactly the
        # deployment this function is meant to enable
        (
            spark._jvm.java.lang.Thread.currentThread()
            .getContextClassLoader()
            .loadClass("org.apache.iceberg.spark.SparkCatalog")
        )
        return True
    except Exception:
        return False


def bootstrap_iceberg(
    spark: SparkSession, table: str = "local.db.transcripts"
) -> None:
    """EXECUTE the S5 store bootstrap against a configured Iceberg catalog:
    create the partitioned table if absent. Requires the runtime jar plus a
    catalog conf, e.g.::

        spark.sql.catalog.local = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.local.type = hadoop
        spark.sql.catalog.local.warehouse = <path>

    Raises RuntimeError with the pinned sandbox constraint when the jar is
    absent, so callers fail loud instead of silently skipping the store."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "iceberg-spark-runtime jar not on the classpath (this sandbox is "
            "offline and ships no Iceberg jar — see BENCH.md 'Iceberg "
            "constraint'); run with --packages org.apache.iceberg:"
            "iceberg-spark-runtime to enable the executed DDL path"
        )
    spark.sql(iceberg_ddl(table))


def main(argv=None):
    from .session import get_spark

    ap = argparse.ArgumentParser(description="timberline_spark pipeline runner")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--input-table", default=None, help="pre-built transcripts parquet")
    ap.add_argument("--webhook-url", default=None, help="POST the report summary here")
    ap.add_argument(
        "--webhook-spool", default=None,
        help="spool dir for undeliverable webhook payloads",
    )
    ap.add_argument(
        "--fuzzy-buckets", action="store_true",
        help="merge near-miss clusters (DBSCAN analog) into"
        " analysis_results/top_issues/summary; writes report_buckets_fuzzy",
    )
    ap.add_argument(
        "--redact", action="store_true",
        help="scrub PII/identifier tokens from parsed messages and label"
        " values before the stage checkpoint (free-text surfaces of all"
        " sinks/reports are scrubbed; conv_id stays pseudonymous)",
    )
    ap.add_argument(
        "--iceberg-table", default=None,
        help="execute the S5 Iceberg DDL bootstrap for this catalog table"
        " before running (requires iceberg-spark-runtime on the classpath)",
    )
    args = ap.parse_args(argv)
    spark = get_spark("timberline_pipeline", cores=args.cores)
    if args.iceberg_table:
        bootstrap_iceberg(spark, args.iceberg_table)
    res = run_pipeline(
        spark,
        args.sf_dir,
        args.out,
        args.run_id,
        replicate=args.replicate,
        input_table=args.input_table,
        webhook_url=args.webhook_url,
        webhook_spool=args.webhook_spool,
        fuzzy_buckets=args.fuzzy_buckets,
        redact=args.redact,
    )
    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "partitions_processed": res.partitions_processed,
                "partitions_skipped": res.partitions_skipped,
                "counts": res.counts,
                "elapsed_sec": round(res.elapsed_sec, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
