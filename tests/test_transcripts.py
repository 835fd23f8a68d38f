"""The transcript-table derivation leaves the caller's session as it was."""

from __future__ import annotations

from timberline_spark.transcripts import load_transcripts

from .conftest import SF_TINY


def test_load_transcripts_keeps_callers_events_view(spark):
    """load_transcripts reads ``events.parquet`` through a temp view of its
    own and drops it: a session view the caller named ``events`` still
    returns the caller's rows, and the derived frame still evaluates after
    the view is gone."""
    spark.createDataFrame([(7, "mine")], "id int, tag string").createOrReplaceTempView(
        "events"
    )
    try:
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        tr = load_transcripts(spark, SF_TINY)
        assert [tuple(r) for r in spark.table("events").collect()] == [(7, "mine")]
        assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views
        assert tr.count() == spark.read.parquet(f"{SF_TINY}/events.parquet").count()
    finally:
        spark.catalog.dropTempView("events")


def test_q_transcripts_builds_without_a_job(spark):
    """``events.parquet`` is read with its schema written down, so building
    and planning a query over it runs no schema-inference job."""
    from timberline_spark.queries import q_transcripts

    sc = spark.sparkContext
    group = "q_transcripts_build"
    sc.setJobGroup(group, "build q_transcripts")
    try:
        q_transcripts(spark, SF_TINY)._jdf.queryExecution().optimizedPlan()
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
