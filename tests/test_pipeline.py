"""End-to-end runner: sink contents, lineage/metrics tables, idempotent resume."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from timberline_spark.pipeline import run_pipeline

from .conftest import SF_TINY, normalize


@pytest.fixture(scope="module")
def outdirs():
    a, b = tempfile.mkdtemp(prefix="tl_full_"), tempfile.mkdtemp(prefix="tl_resume_")
    yield a, b
    shutil.rmtree(a, ignore_errors=True)
    shutil.rmtree(b, ignore_errors=True)


@pytest.fixture(scope="module")
def full_run(spark, outdirs):
    """One uninterrupted run into the first out dir; tests reading that dir
    take this fixture so they never depend on test order."""
    return run_pipeline(spark, SF_TINY, outdirs[0], run_id="r1")


OUTPUT_TABLES = (
    "stage_classified", "sink_errors", "sink_tool_calls", "sink_anomalies",
    "analysis_results", "analysis_summary", "report_buckets", "top_issues",
    "report_summary",
)


def _assert_converged(spark, ref_dir, got_dir):
    """Every output table and the report document of ``got_dir`` equal
    ``ref_dir``'s; ``_lineage`` holds exactly one committed row per date, and
    ``_metrics`` the same multiset of rows (wall times aside)."""
    import collections
    import json

    for t in OUTPUT_TABLES:
        a = normalize(spark.read.parquet(f"{ref_dir}/{t}").toPandas())
        b = normalize(spark.read.parquet(f"{got_dir}/{t}").toPandas())
        assert a.equals(b), t

    def lineage(d):
        rows = sorted(
            (r.run_id, r.stage, r.partition, r.rows, r.status)
            for r in spark.read.parquet(f"{d}/_lineage").collect()
        )
        assert len({r[:3] for r in rows}) == len(rows), "a date committed twice"
        return rows

    def metrics(d):
        return collections.Counter(
            (r.run_id, r.stage, r.partition, r.rows_in, r.rows_out, r.invalid)
            for r in spark.read.parquet(f"{d}/_metrics").collect()
        )

    assert lineage(got_dir) == lineage(ref_dir)
    assert metrics(got_dir) == metrics(ref_dir)

    def report(d):
        with open(f"{d}/daily_analysis_r1.json") as fh:
            return json.load(fh)

    assert report(got_dir) == report(ref_dir)


def test_resume_produces_identical_sinks(spark, outdirs, full_run):
    """Incremental input: half of the dates first, then the other half's
    files added to the same input table. The rerun skips the committed
    dates, processes only the new ones, and ends equal to one run over the
    union; a third run has nothing to do. The halves share no date (split
    on the pipeline's own p_date): rows arriving later for a committed date
    are not picked up, by design."""
    from timberline_spark import route
    from timberline_spark.pipeline import _p_date
    from timberline_spark.transcripts import load_transcripts

    full_dir, resume_dir = outdirs
    assert full_run.partitions_processed and not full_run.partitions_skipped

    tr = load_transcripts(spark, SF_TINY)
    p_dates = route.classified(tr).select(
        "conv_id", "turn_idx", _p_date("effective_ts_ms").alias("p_date")
    )
    tagged = tr.join(p_dates, ["conv_id", "turn_idx"]).select(*tr.columns, "p_date")
    dates = sorted(r.p_date for r in p_dates.select("p_date").distinct().collect())
    assert dates == full_run.partitions_processed
    first, later = dates[: len(dates) // 2], dates[len(dates) // 2 :]

    in_base = tempfile.mkdtemp(prefix="tl_incr_in_")
    try:
        table = f"{in_base}/transcripts"
        tagged.filter(F.col("p_date").isin(first)).drop("p_date").write.parquet(table)
        res_a = run_pipeline(spark, "", resume_dir, run_id="r1", input_table=table)
        assert res_a.partitions_processed == first
        assert not res_a.partitions_skipped

        tagged.filter(F.col("p_date").isin(later)).drop("p_date").write.mode(
            "append"
        ).parquet(table)
        res_b = run_pipeline(spark, "", resume_dir, run_id="r1", input_table=table)
        assert res_b.partitions_skipped == first
        assert res_b.partitions_processed == later
        _assert_converged(spark, full_dir, resume_dir)

        # third run: everything already committed -> no partitions processed
        res_c = run_pipeline(spark, "", resume_dir, run_id="r1", input_table=table)
        assert not res_c.partitions_processed
        assert res_c.partitions_skipped == dates
        _assert_converged(spark, full_dir, resume_dir)
    finally:
        shutil.rmtree(in_base, ignore_errors=True)


class _Crash(RuntimeError):
    """The failure a crash-injection test raises."""


CRASH_POINTS = (
    "after_stage_write",
    "after_lineage_append",
    "between_dated_and_rollup_writes",
    "before_small_table_writes",
    "after_metrics_append",
)


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_rerun_after_crash_converges(spark, outdirs, full_run, tmp_path, monkeypatch, point):
    """A crash at a commit point, then a rerun with the same run_id: every
    table equals the uninterrupted run's, ``_lineage`` holds one committed
    row per date and ``_metrics`` one set of rows. The stage commit, the
    sinks and the aggregate run concurrently, so every failure after the
    stage write first waits until the lineage append has been seen: the
    crash point is then fixed, not a race. The failed attempt leaves no
    persisted frame cached in the session."""
    import os
    import threading

    from timberline_spark import aggregate as agg
    from timberline_spark import pipeline as P
    from timberline_spark import route

    out = str(tmp_path / "out")
    lineage_seen = threading.Event()
    real_publish_rows = P._publish_rows

    def publish_rows(out_dir, table, *a):
        if table == "top_issues" and point == "before_small_table_writes":
            crash_after_lineage()
        real_publish_rows(out_dir, table, *a)
        if table == "_lineage":
            lineage_seen.set()

    def crash_after_lineage(*_a, **_kw):
        assert lineage_seen.wait(600), "the lineage append never happened"
        raise _Crash(point)

    monkeypatch.setattr(P, "_publish_rows", publish_rows)
    expected = _Crash
    if point == "after_stage_write":
        real_write = P._write_by_date

        def write(df, path, *a):
            real_write(df, path, *a)
            if path.endswith(P.STAGE_CLASSIFIED):
                raise _Crash(point)

        monkeypatch.setattr(P, "_write_by_date", write)
    elif point == "after_lineage_append":
        # the errors sink fails: sink_errors is never written
        monkeypatch.setattr(route, "errors_sink", crash_after_lineage)
    elif point == "between_dated_and_rollup_writes":
        # the rollup chain fails; the dated writes beside it on the pool
        # still finish before the error propagates
        monkeypatch.setattr(agg, "dedup_rollup", crash_after_lineage)
    elif point == "after_metrics_append":
        # the report document cannot be published over a directory
        os.makedirs(f"{out}/daily_analysis_r1.json")
        expected = IsADirectoryError

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    cached_before = n_cached()
    with pytest.raises(expected):
        run_pipeline(spark, SF_TINY, out, run_id="r1")
    monkeypatch.undo()
    assert n_cached() <= cached_before
    assert os.path.isdir(f"{out}/_lineage") == (point != "after_stage_write")
    assert os.path.isdir(f"{out}/_metrics") == (point == "after_metrics_append")
    if point == "after_metrics_append":
        os.rmdir(f"{out}/daily_analysis_r1.json")

    res = run_pipeline(spark, SF_TINY, out, run_id="r1")
    if point == "after_stage_write":
        assert res.partitions_processed == full_run.partitions_processed
    else:
        assert res.partitions_skipped == full_run.partitions_processed
    _assert_converged(spark, outdirs[0], out)


def test_run_leaves_callers_session_conf(spark, tmp_path):
    """The date writes carry their dynamic overwrite on the writer: a
    session the caller set to static overwrite is still static after a
    run. (The resume and crash tests run under the static default and show
    that only the run's own dates are replaced.)"""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        run_pipeline(spark, SF_TINY, str(tmp_path / "out"), run_id="conf")
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)


def test_fuzzy_run_releases_its_checkpoints(spark, tmp_path):
    """A fuzzy run frees what its component map checkpoints (the distinct
    templates and every connected-components round), not only what it
    persists: the session holds no persistent RDD after a run that it did
    not hold before. (Compared by RDD id: Spark's cleaner may drop older
    unreferenced RDDs meanwhile.)"""

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    run_pipeline(spark, SF_TINY, str(tmp_path / "a"), run_id="fz1", fuzzy_buckets=True)
    before = persistent()
    run_pipeline(spark, SF_TINY, str(tmp_path / "b"), run_id="fz2", fuzzy_buckets=True)
    assert persistent() - before == set()


def test_lineage_and_metrics_written(spark, outdirs, full_run):
    full_dir, _ = outdirs
    lineage = spark.read.parquet(f"{full_dir}/_lineage")
    assert lineage.filter(
        (F.col("stage") == "stage_classified") & (F.col("status") == "committed")
    ).count() > 0
    metrics = spark.read.parquet(f"{full_dir}/_metrics")
    stages = {r.stage for r in metrics.select("stage").distinct().collect()}
    assert {"stage_classified", "sink_errors", "aggregate"} <= stages
    # invalid-line counting (stream.go:236-254): classified metrics carry it
    bad = metrics.filter(F.col("stage") == "stage_classified").agg(
        F.sum("invalid")
    ).collect()[0][0]
    assert bad > 0
    # the stage rows add up: the write's wall time is recorded once (not
    # repeated on every date), and each date's valid + invalid rows are
    # its input rows
    stage_rows = metrics.filter(F.col("stage") == "stage_classified").collect()
    timed = [r for r in stage_rows if r.elapsed_sec is not None]
    assert [r.partition for r in timed] == ["*"]
    assert sum(r.elapsed_sec for r in timed) <= full_run.elapsed_sec
    dated = [r for r in stage_rows if r.partition != "*"]
    assert sorted(r.partition for r in dated) == full_run.partitions_processed
    assert all(r.rows_out + r.invalid == r.rows_in for r in dated)
    assert any(r.rows_out < r.rows_in for r in dated)


def test_date_partitioned_tables_one_file_per_date(spark, tmp_path):
    """Files are sized by bytes, not by a row-count salt: at this scale
    every date of the stage table, of each sink and of the two dated
    result tables is exactly one file, and so is each global cluster table,
    the fuzzy one included. (Three replicas: enough rows that a per-date
    salt would show, as the former floor of 4 stage files per date did
    from here up.)"""
    import os

    run_pipeline(spark, SF_TINY, str(tmp_path), run_id="layout", replicate=3, fuzzy_buckets=True)
    for table in ("report_buckets", "report_buckets_fuzzy"):
        files = [f for f in os.listdir(tmp_path / table) if f.endswith(".parquet")]
        assert len(files) == 1, (table, files)
    for table, col in (
        ("stage_classified", "p_date"),
        ("sink_errors", "p_date"),
        ("sink_tool_calls", "p_date"),
        ("sink_anomalies", "p_date"),
        ("analysis_results", "analysis_date"),
        ("analysis_summary", "analysis_date"),
    ):
        dates = [d for d in os.listdir(tmp_path / table) if d.startswith(f"{col}=")]
        assert dates, table
        for d in dates:
            files = [f for f in os.listdir(tmp_path / table / d) if f.endswith(".parquet")]
            assert len(files) == 1, (table, d, files)


def test_sink_counts_match_flags(spark, outdirs, full_run):
    """Each sink holds exactly the stage rows its flags select, and the run
    reports the rows each sink table holds, both in ``RunResult.counts``
    and in the sink's ``_metrics`` row at partition "*"."""
    full_dir, _ = outdirs
    stage = spark.read.parquet(f"{full_dir}/stage_classified")
    expected = {
        "sink_errors": stage.filter("is_valid AND level IN ('ERROR','CRITICAL')").count(),
        "sink_tool_calls": stage.filter("is_valid AND tool != ''").count(),
        "sink_anomalies": stage.filter("NOT is_valid").count(),
    }
    reported = {
        r.stage: r.rows_out
        for r in spark.read.parquet(f"{full_dir}/_metrics")
        .filter(F.col("partition") == "*")
        .collect()
    }
    for sink, n in expected.items():
        assert n > 0, sink
        assert spark.read.parquet(f"{full_dir}/{sink}").count() == n, sink
        assert full_run.counts[sink] == n, sink
        assert reported[sink] == n, sink


def test_empty_sink_counts_zero(spark, tmp_path):
    """Inputs with an empty output: the errors sink is empty and reported
    as 0 rows, and a run whose kept stream is empty (every row an anomaly)
    completes with empty cluster tables and zero collision counts. A count
    rides its write or the dedup job, so a write of no rows must still
    deliver it; each run is bounded so that a count that never arrives
    fails here instead of hanging the suite."""
    import datetime
    import threading

    ts = datetime.datetime(2024, 1, 5, 10, 0)
    no_errors = [
        ("conv-1", 0, "user", "2024-01-05 10:00:00 INFO [svc-1] started", "bash", ts),
        ("conv-1", 1, "assistant", "2024-01-05 10:01:00 WARN [svc-1] slow", "", ts),
        ("conv-2", 0, "user", "", "", ts),
    ]
    all_anomalies = [
        ("conv-1", 0, "user", "", "", ts),
        ("conv-2", 0, "user", "???", "", ts),
    ]

    def run(name, rows):
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        ).write.parquet(str(tmp_path / name / "in"))
        out = {}

        def go():
            try:
                out["res"] = run_pipeline(
                    spark, "", str(tmp_path / name / "out"), run_id="e",
                    input_table=str(tmp_path / name / "in"),
                )
            except BaseException as e:  # re-raised on the test thread
                out["err"] = e

        t = threading.Thread(target=go, daemon=True)
        t.start()
        t.join(timeout=600)
        assert not t.is_alive(), f"run_pipeline did not finish ({name})"
        if "err" in out:
            raise out["err"]
        metrics = spark.read.parquet(str(tmp_path / name / "out" / "_metrics"))
        return out["res"].counts, {
            r.stage: r.rows_out for r in metrics.filter("partition = '*'").collect()
        }

    counts, metrics = run("no_errors", no_errors)
    assert (counts["sink_errors"], counts["sink_tool_calls"], counts["sink_anomalies"]) == (0, 1, 1)
    assert metrics["sink_errors"] == 0

    counts, metrics = run("all_anomalies", all_anomalies)
    assert (counts["sink_errors"], counts["sink_tool_calls"], counts["sink_anomalies"]) == (0, 0, 2)
    assert (counts["report_buckets"], counts["top_issues"]) == (0, 0)
    assert metrics["dedup_hash_collisions"] == 0
    assert metrics["dedup_rollup_hash_collisions"] == 0


def test_analysis_results_upsert_by_date(spark):
    """S7 date-keyed merge (analysis_results_store.py:75-131): two runs with
    different run_ids over DIFFERENT date ranges upsert per analysis_date —
    the union of dates survives; re-running a date range is idempotent."""
    import pandas as pd

    from timberline_spark.transcripts import load_transcripts

    base = tempfile.mkdtemp(prefix="tl_upsert_")
    try:
        tr = load_transcripts(spark, SF_TINY)
        cut = "2024-01-15"
        tr.filter(F.col("ts") < cut).write.parquet(f"{base}/in_a")
        tr.filter(F.col("ts") >= cut).write.parquet(f"{base}/in_b")
        out = f"{base}/out"

        run_pipeline(spark, "", out, run_id="ra", input_table=f"{base}/in_a")
        a_rows = spark.read.parquet(f"{out}/analysis_results")
        a_dates = {r.analysis_date for r in a_rows.select("analysis_date").distinct().collect()}
        assert a_dates and all(str(d) < cut or str(d) >= "2029" for d in a_dates)

        run_pipeline(spark, "", out, run_id="rb", input_table=f"{base}/in_b")
        merged = spark.read.parquet(f"{out}/analysis_results")
        by_run = {
            r.run_id: r.dates
            for r in merged.groupBy("run_id")
            .agg(F.collect_set("analysis_date").alias("dates"))
            .collect()
        }
        # union preserved: run A's dates still present with run A's id
        assert set(map(str, by_run["ra"])) == set(map(str, a_dates))
        assert by_run.get("rb")
        # summary table mirrors the same upsert
        sdates = {
            str(r.analysis_date)
            for r in spark.read.parquet(f"{out}/analysis_summary")
            .select("analysis_date").distinct().collect()
        }
        assert sdates == set(map(str, a_dates)) | set(map(str, by_run["rb"]))

        # idempotent re-run of the same date range (new run_id, same data):
        # content identical apart from the run_id column
        before = normalize(merged.drop("run_id").toPandas())
        run_pipeline(spark, "", out, run_id="rc", input_table=f"{base}/in_b")
        after_df = spark.read.parquet(f"{out}/analysis_results")
        after = normalize(after_df.drop("run_id").toPandas())
        assert before.equals(after)
        runs = {r.run_id for r in after_df.select("run_id").distinct().collect()}
        assert runs == {"ra", "rc"}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_dedup_rollup_equals_direct(spark):
    """The per-date dedup + associative rollup must equal the direct global
    dedup exactly (the pipeline relies on this to shuffle raw rows once)."""
    from timberline_spark import aggregate as agg
    from timberline_spark import route
    from timberline_spark.pipeline import _p_date
    from timberline_spark.transcripts import load_transcripts

    kept = route.kept_turns(
        route.classified(load_transcripts(spark, SF_TINY))
    ).withColumn("p_date", _p_date("effective_ts_ms"))
    direct = normalize(agg.dedup_turns(kept).toPandas())
    rolled = normalize(
        agg.dedup_rollup(
            agg.dedup_turns(kept, extra_keys=("p_date",))
        ).toPandas()
    )
    assert direct.equals(rolled)


def test_dedup_rollup_audit_parity(spark):
    """VERDICT round 4 demand #6 / ADVICE: dedup_rollup re-hashes dedup_key,
    so it must run the same collision audit as dedup_turns — sentinel column
    present, zero on this corpus, result otherwise identical, and any
    per-date verdict from the input is OR-folded in. The audit leaves the
    dedup_turns result unchanged too, with its sentinel at zero."""
    from timberline_spark import aggregate as agg
    from timberline_spark import route
    from timberline_spark.pipeline import _p_date
    from timberline_spark.transcripts import load_transcripts

    kept = route.kept_turns(
        route.classified(load_transcripts(spark, SF_TINY))
    ).withColumn("p_date", _p_date("effective_ts_ms"))
    dated = agg.dedup_turns(kept, extra_keys=("p_date",), audit=True).cache()
    assert dated.filter("key_collision").count() == 0
    assert normalize(dated.drop("key_collision").toPandas()).equals(
        normalize(agg.dedup_turns(kept, extra_keys=("p_date",)).toPandas())
    )
    plain = normalize(agg.dedup_rollup(dated.drop("key_collision")).toPandas())
    audited = agg.dedup_rollup(dated, audit=True)
    assert "key_collision" in audited.columns
    assert audited.filter("key_collision").count() == 0
    assert normalize(audited.drop("key_collision").toPandas()).equals(plain)
    # a per-date collision verdict propagates through the rollup
    poisoned = dated.withColumn("key_collision", F.lit(True))
    assert (
        agg.dedup_rollup(poisoned, audit=True).filter("NOT key_collision").count()
        == 0
    )
    dated.unpersist()


def test_audit_hash_uses_independent_byte_stream(spark):
    """CODE-REVIEW round 4 (confirmed): multi-arg xxhash64(key, lit)
    chains — each argument is hashed with the running hash as its SEED, so
    a first-hash collision between two keys propagates into the second
    hash and a sentinel built on xxhash64(key, lit) can never fire. The
    audit therefore hashes concat(key, salt): a different byte stream,
    independent collision event. Seeds aren't expressible in SQL, so this
    test pins the observable half (the two formulas differ) and the source
    uses the concat form (asserted against the aggregate plan)."""
    from timberline_spark import aggregate as agg

    row = spark.sql(
        "SELECT xxhash64('a', '#audit') AS chained,"
        " xxhash64(concat('a', '#audit')) AS independent"
    ).collect()[0]
    assert row.independent != row.chained
    # the audit aggregate really hashes the concatenated byte stream
    kept = spark.createDataFrame(
        [("c", 0, "INFO", "svc", "msg", 1000)],
        "conv_id string, turn_idx int, level string, service string,"
        " message string, effective_ts_ms long",
    ).selectExpr("*", "'low' severity", "2 severity_score", "false is_error",
                 "false is_warning", "map('a','b') labels")
    plan = agg.dedup_turns(kept, audit=True)._jdf.queryExecution().analyzed().toString()
    assert "concat(lower(message" in plan, plan[:500]


def test_collision_metric_written(spark, outdirs, full_run):
    full_dir, _ = outdirs
    metrics = spark.read.parquet(f"{full_dir}/_metrics")
    for stage in ("dedup_hash_collisions", "dedup_rollup_hash_collisions"):
        rows = metrics.filter(F.col("stage") == stage).collect()
        assert rows and all(r.rows_out == 0 for r in rows), stage


def test_fuzzy_buckets_flag_merges_in_analysis_results(spark):
    """VERDICT round 4 demand #4: with --fuzzy-buckets, the 1-char-apart
    near-miss fixture lands in ONE cluster in analysis_results (the daily
    report a user actually reads), the merged global table is written next
    to the exact one, and top_issues/summary derive from the merged
    clustering. Default (flag off) keeps the exact behavior."""
    msg_a = ("connection timeout contacting upstream gateway exhausted"
             " retries while handling request alpha")
    msg_b = msg_a[:-1] + "b"  # 1 char apart -> different exact fingerprints
    rows = [
        ("c-1", 0, "user", f"2024-01-05 10:00:00 ERROR [svc-1] {msg_a}", "", "2024-01-05 10:00:00"),
        ("c-2", 1, "user", f"2024-01-05 10:00:01 ERROR [svc-2] {msg_b}", "", "2024-01-05 10:00:01"),
    ]
    tr = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    in_dir = tempfile.mkdtemp(prefix="tl_fz_in_")
    out_f = tempfile.mkdtemp(prefix="tl_fz_on_")
    out_x = tempfile.mkdtemp(prefix="tl_fz_off_")
    try:
        tr.coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/transcripts")
        run_pipeline(spark, "", out_x, run_id="fz", input_table=f"{in_dir}/transcripts")
        run_pipeline(spark, "", out_f, run_id="fz", input_table=f"{in_dir}/transcripts",
                     fuzzy_buckets=True)
        # flag off: two exact clusters, no fuzzy table
        import os
        assert spark.read.parquet(f"{out_x}/analysis_results").count() == 2
        assert not os.path.isdir(f"{out_x}/report_buckets_fuzzy")
        # flag on: ONE merged cluster in the dated results, with lineage
        res = spark.read.parquet(f"{out_f}/analysis_results").collect()
        assert len(res) == 1
        assert res[0].n_templates == 2 and res[0].total_log_count == 2
        assert str(res[0].analysis_date) == "2024-01-05"
        # merged global table written next to the exact one
        assert spark.read.parquet(f"{out_f}/report_buckets").count() == 2
        fz = spark.read.parquet(f"{out_f}/report_buckets_fuzzy").collect()
        assert len(fz) == 1 and fz[0].n_templates == 2
        # the report derives from the merged clustering
        assert spark.read.parquet(f"{out_f}/top_issues").count() == 1
        summ = spark.read.parquet(f"{out_f}/report_summary").collect()[0]
        assert summ.clusters_found == 1
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_f, ignore_errors=True)
        shutil.rmtree(out_x, ignore_errors=True)


def test_iceberg_surface(spark):
    """S5 executed-DDL gate. Offline sandbox: the runtime jar is absent, so
    (a) the probe reports it, (b) bootstrap fails LOUD with the pinned
    constraint, and (c) the DDL is valid Spark SQL whose ONLY missing piece
    is the iceberg provider (parse succeeds; resolution fails on the data
    source, never on syntax). With the jar on the classpath the same test
    executes the DDL + a round-trip instead."""
    import pytest as _pt

    from timberline_spark.pipeline import (
        bootstrap_iceberg,
        iceberg_available,
        iceberg_ddl,
    )

    if iceberg_available(spark):
        spark.conf.set(
            "spark.sql.catalog.it_local", "org.apache.iceberg.spark.SparkCatalog"
        )
        spark.conf.set("spark.sql.catalog.it_local.type", "hadoop")
        spark.conf.set(
            "spark.sql.catalog.it_local.warehouse", tempfile.mkdtemp("it_wh_")
        )
        bootstrap_iceberg(spark, "it_local.db.transcripts")
        from timberline_spark.transcripts import load_transcripts

        load_transcripts(spark, SF_TINY).writeTo("it_local.db.transcripts").append()
        assert spark.table("it_local.db.transcripts").count() > 0
        return
    with _pt.raises(RuntimeError, match="iceberg-spark-runtime"):
        bootstrap_iceberg(spark)
    # DDL string is real Spark SQL: the parser accepts it and analysis digs
    # all the way down to the missing 'iceberg' data source
    try:
        spark.sql(iceberg_ddl("spark_catalog.default.t_iceberg_probe"))
        raise AssertionError("DDL unexpectedly succeeded without the jar")
    except Exception as e:  # noqa: BLE001
        msg = str(e)
        assert "PARSE_SYNTAX_ERROR" not in msg
        assert (
            "DATA_SOURCE_NOT_FOUND" in msg
            or "Failed to find" in msg
            or "iceberg" in msg.lower()
        )


def test_publish_rows_complex_types(spark, tmp_path):
    """_publish_rows must not crash on non-primitive columns
    (timestamps, arrays) — pyarrow inference covers what the type map
    doesn't."""
    import datetime

    from timberline_spark.pipeline import _publish_rows

    df = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1, 12), [1, 2, 3])],
        "name string, at timestamp, xs array<int>",
    )
    _publish_rows(str(tmp_path), "t_complex", df.schema, df.collect())
    back = spark.read.parquet(f"{tmp_path}/t_complex").collect()
    assert len(back) == 1 and back[0].name == "a" and list(back[0].xs) == [1, 2, 3]


def test_redact_flag_scrubs_all_sinks(spark):
    """--redact: every sink and report surface carries scrubbed message
    text; default keeps raw text (the flag is the compliance opt-in)."""
    rows = [
        ("c-1", 0, "user",
         "2024-01-05 10:00:00 ERROR [svc-1] login failed for u42 in sess-991",
         "", "2024-01-05 10:00:00"),
        ("c-1", 1, "assistant",
         "2024-01-05 10:00:01 ERROR [svc-1] notify ops@example.com from 10.0.0.7",
         "", "2024-01-05 10:00:01"),
    ]
    tr = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    in_dir = tempfile.mkdtemp(prefix="tl_rd_in_")
    out_on = tempfile.mkdtemp(prefix="tl_rd_on_")
    out_off = tempfile.mkdtemp(prefix="tl_rd_off_")
    try:
        tr.coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/transcripts")
        run_pipeline(spark, "", out_off, run_id="rd",
                     input_table=f"{in_dir}/transcripts")
        run_pipeline(spark, "", out_on, run_id="rd",
                     input_table=f"{in_dir}/transcripts", redact=True)
        raw = " ".join(
            r.message for r in spark.read.parquet(f"{out_off}/sink_errors").collect()
        )
        assert "u42" in raw and "ops@example.com" in raw
        scrub = " ".join(
            r.message for r in spark.read.parquet(f"{out_on}/sink_errors").collect()
        )
        for leaked in ("u42", "sess-991", "ops@example.com", "10.0.0.7"):
            assert leaked not in scrub, scrub
        for tag in ("<USER>", "<SESSION>", "<EMAIL>", "<IP>"):
            assert tag in scrub, scrub
        # report surfaces (cluster templates + JSON doc) are scrubbed too
        ex = " ".join(
            r.fingerprint
            for r in spark.read.parquet(f"{out_on}/analysis_results").collect()
        )
        assert "u42" not in ex and "<user>" in ex  # fingerprints lowercase
        import glob as g
        doc = open(g.glob(f"{out_on}/daily_analysis_rd.json")[0]).read()
        assert "u42" not in doc
    finally:
        for d in (in_dir, out_on, out_off):
            shutil.rmtree(d, ignore_errors=True)


def test_resume_refuses_config_drift(spark):
    """A resume under different semantic flags (here: --redact flipped)
    must fail loudly instead of writing partitions that silently disagree
    with the already-committed ones."""
    rows = [
        ("c-1", 0, "user",
         "2024-01-05 10:00:00 ERROR [svc-1] login failed for u42",
         "", "2024-01-05 10:00:00"),
    ]
    tr = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    in_dir = tempfile.mkdtemp(prefix="tl_cfg_in_")
    out = tempfile.mkdtemp(prefix="tl_cfg_out_")
    try:
        tr.coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/transcripts")
        run_pipeline(spark, "", out, run_id="cf",
                     input_table=f"{in_dir}/transcripts", redact=True)
        with pytest.raises(ValueError, match="redact"):
            run_pipeline(spark, "", out, run_id="cf",
                         input_table=f"{in_dir}/transcripts")
        # same flags resume fine; a different run_id pins its own config
        run_pipeline(spark, "", out, run_id="cf",
                     input_table=f"{in_dir}/transcripts", redact=True)
        run_pipeline(spark, "", out, run_id="cf2",
                     input_table=f"{in_dir}/transcripts")
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_driver_writes_are_crash_safe(spark, outdirs, full_run, tmp_path, monkeypatch):
    """A crash inside a driver-side write (simulated: the writer leaves a
    truncated file behind, then raises) must leave the previous file
    unchanged and readable, with no partial file visible to readers — for
    the overwritten result tables (top_issues / report_summary), the
    appended bookkeeping (_lineage / _metrics) and the report JSON of a
    rerun. The next successful publish sweeps the stray."""
    import json
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from timberline_spark import pipeline as P

    out = str(tmp_path)
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("n", T.LongType())]
    )
    lineage_row = ("r1", P.STAGE_CLASSIFIED, "2024-01-01", 1, 0.0, "committed")
    P._publish_rows(out, "top_issues", schema, [("a", 1)], P.SMALL_TABLE_FILE)
    P._publish_rows(out, "_lineage", P.LINEAGE_SCHEMA, [lineage_row])

    def visible(table):
        # what Spark's and pyarrow's directory readers list
        return sorted(
            f for f in os.listdir(f"{out}/{table}") if not f.startswith((".", "_"))
        )

    def rows(table):
        spark_rows = sorted(
            (r.asDict() for r in spark.read.parquet(f"{out}/{table}").collect()),
            key=repr,
        )
        assert spark_rows == sorted(pq.read_table(f"{out}/{table}").to_pylist(), key=repr)
        return spark_rows

    before = {t: (visible(t), rows(t)) for t in ("top_issues", "_lineage")}

    def crash(table, where, **kwargs):
        with open(where, "wb") as fh:
            fh.write(b"PAR1\x15\x00")  # truncated parquet
        raise OSError("simulated crash mid-write")

    monkeypatch.setattr(pq, "write_table", crash)
    with pytest.raises(OSError):
        P._publish_rows(out, "top_issues", schema, [("b", 2)], P.SMALL_TABLE_FILE)
    with pytest.raises(OSError):
        P._publish_rows(out, "_lineage", P.LINEAGE_SCHEMA, [lineage_row])
    monkeypatch.undo()

    for t, (files, data) in before.items():
        assert visible(t) == files, t
        assert rows(t) == data, t

    P._publish_rows(out, "top_issues", schema, [("b", 2)], P.SMALL_TABLE_FILE)
    assert os.listdir(f"{out}/top_issues") == [P.SMALL_TABLE_FILE]
    assert rows("top_issues") == [{"k": "b", "n": 2}]

    # the report JSON: a rerun whose document write fails partway
    run_dir = str(tmp_path / "run")
    shutil.copytree(outdirs[0], run_dir)
    doc_path = f"{run_dir}/daily_analysis_r1.json"
    with open(doc_path) as fh:
        old_doc = fh.read()
    files_before = sorted(f for f in os.listdir(run_dir) if not f.startswith("."))

    def partial_dump(obj, fh, **kwargs):
        fh.write(json.dumps(obj, **kwargs)[:20])
        raise OSError("simulated crash mid-write")

    monkeypatch.setattr(json, "dump", partial_dump)
    with pytest.raises(OSError):
        run_pipeline(spark, SF_TINY, run_dir, run_id="r1")
    monkeypatch.undo()
    with open(doc_path) as fh:
        assert fh.read() == old_doc
    assert sorted(f for f in os.listdir(run_dir) if not f.startswith(".")) == files_before
