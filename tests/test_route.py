"""Routing semantics: validation bounds, anomaly precedence, deterministic
sampling, fan-out disjointness/completeness (reference: models/log.go:43-64,
fluent-bit-configmap.yaml:77-107)."""

from __future__ import annotations

import datetime
import uuid

from pyspark.sql import functions as F

from timberline_spark import route
from timberline_spark.dicts import SAMPLING_RATE_PCT, HASH_A, HASH_B, HASH_P
from timberline_spark.extras.xhash import py_char_hash
from timberline_spark.transcripts import load_transcripts

SF = "/root/testdata/sf0.001"


def _classified(spark):
    return route.classified(load_transcripts(spark, SF))


def test_sampling_is_pure_function_of_keys(spark):
    rows = (
        _classified(spark)
        .select("conv_id", "turn_idx", "hash100")
        .limit(200)
        .collect()
    )
    for r in rows:
        k = py_char_hash(r.conv_id)
        exp = (((k % HASH_P) * HASH_A + r.turn_idx * HASH_B) % HASH_P) % 100
        assert r.hash100 == exp


def test_sampling_covers_arbitrary_conv_id_formats(spark):
    """The sampler must be well-defined for ANY conv_id string (the input
    contract is `conv_id: string`). Regression for the round-3 landmine
    where non-`conv-N` ids (UUIDs) null-hashed and every INFO/DEBUG turn
    of those conversations was silently dropped."""
    base_ts = datetime.datetime(2024, 1, 1)
    rows = []
    uuids = [uuid.UUID(int=i * 2654435761, version=4) for i in range(40)]
    for u in uuids:
        for t in range(25):
            rows.append((str(u), t, "user", f"2024-01-01 00:00:00 INFO [s-1] msg {t}", "", base_ts))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = route.classified(df).cache()
    # nothing null-hashes, nothing is dropped from classification
    assert out.filter(F.col("hash100").isNull()).count() == 0
    assert out.filter(F.col("kept").isNull()).count() == 0
    # all rows are valid INFO -> kept iff sampled; rate lands near nominal
    n = out.count()
    kept = out.filter("kept").count()
    assert n == 1000
    assert 0 < kept < n
    assert abs(kept / n * 100 - SAMPLING_RATE_PCT) < 5
    # and the hash matches the cross-engine polynomial exactly
    for r in out.select("conv_id", "turn_idx", "hash100").limit(50).collect():
        k = py_char_hash(r.conv_id)
        exp = (((k % HASH_P) * HASH_A + r.turn_idx * HASH_B) % HASH_P) % 100
        assert r.hash100 == exp
    out.unpersist()


def test_fanout_partition_of_valid_rows(spark):
    """errors ∪ warnings ∪ sampled ∪ dropped partitions the valid set."""
    df = _classified(spark).cache()
    valid = df.filter("is_valid")
    n_valid = valid.count()
    n_keep_level = valid.filter("keep_level").count()
    n_sampled = valid.filter("keep_sampled").count()
    n_dropped = valid.filter("NOT keep_level AND NOT keep_sampled").count()
    assert n_keep_level + n_sampled + n_dropped == n_valid
    # keep flags are mutually exclusive
    assert valid.filter("keep_level AND keep_sampled").count() == 0
    df.unpersist()


def test_anomalies_have_reasons(spark):
    df = _classified(spark)
    bad = df.filter("NOT is_valid")
    assert bad.filter(F.col("anomaly_reason").isNull()).count() == 0
    reasons = {r.anomaly_reason for r in bad.select("anomaly_reason").distinct().collect()}
    # every reason classify_turns can assign
    assert reasons <= {
        "empty_text", "unparseable_ts", "empty_message", "invalid_bounds", "unknown_level",
    }
    # the synthetic corpus exercises every reject path
    assert {"empty_text", "unparseable_ts", "invalid_bounds", "unknown_level"} <= reasons


def test_bounds_validation(spark):
    """Rows whose parsed text timestamp is ancient/future are rejected
    (log.go:51-63); the row-level ts column is otherwise trusted."""
    data = [
        ("conv-000000001", 0, "user", "1999-01-01 00:00:00 ERROR [s-1] old", "", datetime.datetime(2024, 1, 1)),
        ("conv-000000001", 1, "user", "2030-01-01 00:00:00 ERROR [s-1] future", "", datetime.datetime(2024, 1, 1)),
        ("conv-000000001", 2, "user", "2024-01-01 00:00:00 ERROR [s-1] fine", "", datetime.datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(
        data,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = route.classified(df)
    got = {r.turn_idx: (r.is_valid, r.anomaly_reason) for r in out.collect()}
    assert got[0] == (False, "invalid_bounds")
    assert got[1] == (False, "invalid_bounds")
    assert got[2] == (True, None)


def test_sampling_rate_close_to_nominal(spark):
    df = _classified(spark)
    eligible = df.filter("is_valid AND NOT keep_level")
    n, kept = eligible.count(), eligible.filter("keep_sampled").count()
    assert abs(kept / n * 100 - SAMPLING_RATE_PCT) < 4  # hash-uniformity sanity
