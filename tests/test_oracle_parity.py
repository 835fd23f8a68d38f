"""Stage-by-stage parity: Spark DataFrame pipeline vs DuckDB oracle SQL.

This is the repo-local version of the driver's correctness gate: every
pipeline query must produce bit-identical rows (after column-name sort and
null-safe stringify) to the independently-executed oracle SQL.
"""

from __future__ import annotations

import pytest

from timberline_spark import queries, sqlgen

from .conftest import SF_TINY, assert_frames_equal

FLOAT_COLS = {"summary": ("error_rate", "warning_rate")}

STAGES = [n for n in queries.PIPELINE_QUERIES if n != "parse_pandas_udf"]


@pytest.mark.parametrize("name", STAGES)
def test_stage_matches_oracle(spark, duck, name):
    sdf = queries.PIPELINE_QUERIES[name](spark, SF_TINY)
    oracle = duck.sql(getattr(sqlgen, f"q_{name}")())
    assert_frames_equal(sdf, oracle, float_cols=FLOAT_COLS.get(name, ()))


def test_pandas_udf_grok_equals_native(spark):
    """The Arrow-batched pandas-UDF grok path must equal the native path."""
    from .conftest import normalize

    a = normalize(queries.q_parse(spark, SF_TINY).toPandas())
    b = normalize(queries.q_parse_pandas_udf(spark, SF_TINY).toPandas())
    assert a.equals(b)


def test_log_search_tokenless_query_returns_empty(spark):
    """ADVICE round 4: a punctuation-only query has no [a-z0-9] tokens —
    search must return an empty frame, not crash with ZeroDivisionError."""
    assert queries.search_query_weights("!!! ???") == {}
    out = queries.q_log_search(spark, SF_TINY, query="!!! ???")
    assert out.count() == 0
    assert "score" in out.columns


def test_fuzzy_buckets_empty_input(spark):
    """Zero kept rows (e.g. a date range with no logs) must yield an empty
    fuzzy bucket table with the right schema, not a crash in the CC loop."""
    from timberline_spark import aggregate as agg

    deduped = spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, level string, service string,"
        " message string, duplicate_count long, first_ts_ms long,"
        " last_ts_ms long, is_error boolean, is_warning boolean",
    )
    out = agg.report_buckets_fuzzy(deduped)
    assert out.count() == 0
    assert "n_templates" in out.columns and "fingerprint" in out.columns


def test_fuzzy_buckets_merge_near_identical_messages(spark):
    """VERDICT round 3 #4 acceptance: two messages ONE character apart (so
    their digit-collapsed fingerprints differ and the exact path keeps two
    clusters) must land in ONE fuzzy cluster; an unrelated message stays
    its own cluster."""
    from timberline_spark import aggregate as agg

    msg_a = "connection timeout contacting upstream gateway exhausted retries while handling request alpha"
    msg_b = msg_a[:-1] + "b"  # ...alphb: 1 char apart, 11/12 shared tokens
    msg_c = "scheduled backup completed successfully without any warnings emitted today"
    rows = [
        ("c-1", 0, "ERROR", "svc-1", msg_a, 5, 1000, 2000, True, False),
        ("c-2", 1, "ERROR", "svc-2", msg_b, 3, 1500, 2500, True, False),
        ("c-3", 2, "INFO", "svc-1", msg_c, 1, 1200, 1200, False, False),
    ]
    deduped = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, level string, service string,"
        " message string, duplicate_count long, first_ts_ms long,"
        " last_ts_ms long, is_error boolean, is_warning boolean",
    )
    exact = agg.report_buckets(deduped)
    fuzzy = agg.report_buckets_fuzzy(deduped)
    assert exact.count() == 3  # exact path: a and b stay separate
    out = {r.fingerprint: r for r in fuzzy.collect()}
    assert len(out) == 2  # fuzzy path: a+b merged, c alone
    merged = next(r for r in out.values() if r.n_templates == 2)
    assert merged.n_unique == 2
    assert merged.total_log_count == 8
    assert merged.error_count == 8
    assert merged.n_sources == 2
    assert merged.first_ts_ms == 1000 and merged.last_ts_ms == 2500
    # representative: highest priority, most recent -> msg_b's row
    assert merged.representative_message == msg_b
    solo = next(r for r in out.values() if r.n_templates == 1)
    assert solo.representative_message == msg_c and solo.total_log_count == 1


def test_log_search_tokenless_oracle_sql_is_valid(duck):
    """ADVICE r5: a tokenless search query used to generate 'VALUES '
    (syntax error) in the ORACLE path; it must be executable SQL returning
    the empty relation with the populated branch's columns."""
    sql = sqlgen.q_log_search(query="!!! ???")
    df = duck.sql(sql).df()
    assert len(df) == 0
    assert list(df.columns) == [
        "conv_id", "turn_idx", "level", "service", "message", "ts_ms", "score",
    ]


def test_registry_within_driver_cap_and_fully_oracled():
    """The driver checks at most 50 registered queries per round in dict
    order (round-5 failure mode: a 51st registration silently dropped the
    last query out of the checked window). Fail loudly instead (ADVICE
    round 6)."""
    import importlib

    mod = importlib.import_module("__spark_entry__")
    qs, oracles = mod.queries(), mod.oracle_sql()
    assert len(qs) <= 50, f"registry over the driver cap: {len(qs)}"
    missing = [n for n in qs if n not in oracles]
    assert not missing, f"registered queries without an oracle: {missing}"


def test_ansi_mode_on_so_int64_overflow_is_loud(spark):
    """doc_token_mix's ppm arithmetic overflows int64 past ~9.2e12 tokens
    per source; the documented guard is ANSI mode raising on overflow
    (extras/textfns.py). Pin that the session really is ANSI."""
    import pytest as _pytest

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with _pytest.raises(Exception, match="(?i)overflow|arithmetic"):
        spark.sql("SELECT 9223372036854775807 * CAST(2 AS BIGINT)").collect()
