"""Unit tests for the grok parse stage — mirrors the reference's parser tests
(log-ingestor/internal/handlers/flexible_timestamp_test.go,
stream_fluentbit_test.go): each grammar, each fallback, verbatim text
preservation."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from timberline_spark.parse import parse_turns

ROWS = [
    # (conv_id, turn_idx, role, text, tool, expected)
    (
        "conv-000000001",
        0,
        "user",
        "2024-03-01 10:00:00 ERROR [svc-1] Connection refused",
        "",
        dict(grammar="plain", level_raw="ERROR", service="svc-1",
             message="Connection refused", text_ts_ms=1709287200000, labels=None),
    ),
    (
        "conv-000000001",
        1,
        "assistant",
        '{"level":"WARN","service":"svc-2","message":"Rate limit exceeded"}',
        "http",
        dict(grammar="json", level_raw="WARN", service="svc-2",
             message="Rate limit exceeded", text_ts_ms=None, labels=None),
    ),
    (
        "conv-000000001",
        2,
        "tool",
        "E0301 10:00:00.000000 1 svc-3.go:42] pod crash loop ñ中文",
        "bash",
        dict(grammar="klog", level_raw="E", service="svc-3",
             message="pod crash loop ñ中文", text_ts_ms=None),
    ),
    (
        "conv-000000001",
        3,
        "user",
        "???unparseable???",
        "",
        dict(grammar=None, level_raw=None, service=None, message=None,
             text_ts_ms=None),
    ),
    (
        "conv-000000001",
        4,
        "user",
        "",
        "",
        dict(grammar=None, level_raw=None, service=None, message=None,
             text_ts_ms=None),
    ),
    # JSON-in-log stays verbatim: message containing embedded structures is
    # not re-parsed (flexible_timestamp_test.go:192-229)
    (
        "conv-000000002",
        0,
        "user",
        '2024-03-01 11:00:00 INFO [svc-4] payload {"a": 1} kept verbatim',
        "",
        dict(grammar="plain", level_raw="INFO", service="svc-4",
             message='payload {"a": 1} kept verbatim',
             text_ts_ms=1709290800000),
    ),
    # P15 label fallback chain labels -> kubernetes_labels -> kubernetes.labels
    # (models/log.py:177-199): the first path holding an object wins whole
    (
        "conv-000000003",
        0,
        "user",
        '{"level":"INFO","message":"m","labels":{"app":"a1"}}',
        "",
        dict(grammar="json", labels={"app": "a1"}),
    ),
    (
        "conv-000000003",
        1,
        "user",
        '{"level":"INFO","message":"m","kubernetes_labels":{"app":"a2"}}',
        "",
        dict(grammar="json", labels={"app": "a2"}),
    ),
    (
        "conv-000000003",
        2,
        "user",
        '{"log":"INFO m","kubernetes":{"labels":{"app":"a3"}}}',
        "",
        dict(grammar="fluentbit", labels={"app": "a3"}),
    ),
    # two paths present: the earlier one wins, maps are not merged
    (
        "conv-000000003",
        3,
        "user",
        '{"message":"m","labels":{"app":"x"},"kubernetes_labels":{"app":"y","sev":"z"}}',
        "",
        dict(grammar="json", labels={"app": "x"}),
    ),
    # a non-object `labels` is null, so the chain falls through
    (
        "conv-000000003",
        4,
        "user",
        '{"message":"m","labels":"x","kubernetes_labels":{"app":"k"}}',
        "",
        dict(grammar="json", labels={"app": "k"}),
    ),
    # non-string label values become their JSON text, as from_json casts them
    (
        "conv-000000003",
        5,
        "user",
        '{"message":"m","labels":{"sev":5,"ok":true}}',
        "",
        dict(grammar="json", labels={"sev": "5", "ok": "true"}),
    ),
]


def _mk_df(spark, rows=None):
    rows = ROWS if rows is None else rows
    return spark.createDataFrame(
        [(c, i, r, t, tool, datetime.datetime(2024, 3, 1)) for c, i, r, t, tool, _ in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def _check(rows):
    got = {(r["conv_id"], r["turn_idx"]): r for r in rows}
    for conv_id, turn_idx, _, _, _, exp in ROWS:
        r = got[(conv_id, turn_idx)]
        for k, v in exp.items():
            assert r[k] == v, f"({conv_id},{turn_idx}).{k}: {r[k]!r} != {v!r}"


def test_parse_native(spark):
    df = parse_turns(_mk_df(spark), impl="native")
    _check([r.asDict() for r in df.collect()])


def test_parse_pandas(spark):
    df = parse_turns(_mk_df(spark), impl="pandas")
    _check([r.asDict() for r in df.collect()])


def test_conv_key_is_cross_engine_string_hash(spark):
    from timberline_spark.extras.xhash import py_char_hash

    df = parse_turns(_mk_df(spark))
    keys = {r.conv_id: r.conv_key for r in df.select("conv_id", "conv_key").distinct().collect()}
    assert keys == {c: py_char_hash(c) for c in keys}
    assert all(k is not None for k in keys.values())


def test_flexible_timestamp_formats(spark):
    """Every timestamp format the reference accepts (stream.go:31-53,
    log_generator.py:70-79), incl. the seconds-vs-millis heuristic
    (stream.go:77-90); unparseable -> NULL sentinel (never now())."""
    from pyspark.sql import functions as F

    from timberline_spark.parse import flexible_ts_ms

    cases = [
        ("2024-03-01 10:00:00", 1709287200000),
        ("2024-03-01 10:00:00.123", 1709287200123),
        ("2024-03-01T10:00:00Z", 1709287200000),
        ("2024-03-01T10:00:00", 1709287200000),
        ("2024-03-01T10:00:00.123Z", 1709287200123),
        ("2024/03/01 10:00:00", 1709287200000),
        ("2024-03-01 10:00:00,123", 1709287200123),
        ("1709287200", 1709287200000),  # unix seconds -> x1000
        ("1709287200123", 1709287200123),  # already millis
        ("garbage", None),
        ("", None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = {r.s: r.ms for r in df.select("s", flexible_ts_ms(F.col("s")).alias("ms")).collect()}
    for s, exp in cases:
        assert got[s] == exp, (s, got[s], exp)


def test_text_preserved_verbatim(spark):
    """The pipeline never mutates the raw text column."""
    df = parse_turns(_mk_df(spark))
    texts = [r.text for r in df.orderBy("conv_id", "turn_idx").collect()]
    assert texts == [t for _, _, _, t, _, _ in ROWS]


# Hand-built text the synthetic corpus never emits. Columns:
# (text, grammar, level_raw, service, message, text_ts_ms).
PLAIN = "2024-03-01 10:00:00 ERROR [svc-1] "
KLOG = "E0301 10:00:00.000000 1 svc-3.go:42] "
T0 = 1709287200000
ADVERSARIAL = [
    # service is COALESCE(plain_svc, json_svc, fb_src, klog_svc) whatever
    # the grammar — also when no grammar matched
    ('{"message":"hi","source":"svc-a"}', "json", None, "svc-a", "hi", None),
    ('{"level":"INFO","message":"m","source":"svc-b"}', "json", "INFO", "svc-b", "m", None),
    ('{"log":"garbage-no-level","service":"svc-c"}', None, None, "svc-c", None, None),
    ('{"level":"WARN","message":"m","service":"svc-d","source":"svc-e"}',
     "json", "WARN", "svc-d", "m", None),
    ('{"log":"ERROR boom","source":"svc-f","service":"svc-g","date":1709287200.25}',
     "fluentbit", "ERROR", "svc-g", "boom", T0 + 250),
    # JSON values cast the way from_json casts them to JSON_SCHEMA
    ('{"level":5,"message":"m"}', "json", "5", None, "m", None),
    ('{"level":"INFO","message":{"k":[1,true]},"service":true}',
     "json", "INFO", "true", '{"k":[1,true]}', None),
    ('{"date":"1709287200","log":"INFO x","source":"s"}', "fluentbit", "INFO", "s", "x", None),
    ('{"date":true,"log":"INFO x"}', "fluentbit", "INFO", None, "x", None),
    ('{"level":null,"message":"m"}', "json", None, None, "m", None),
    # text_ts_ms takes the Fluent Bit date whenever the log has a level,
    # even when the direct shape wins the grammar
    ('{"level":"INFO","message":"m","log":"WARN x","date":1709287200}',
     "json", "INFO", None, "m", T0),
    # empty-string fields
    ('{"level":"","message":"m"}', "json", "", None, "m", None),
    ('{"message":"","service":""}', None, None, "", None, None),
    ('{"log":"","source":"s"}', None, None, "s", None, None),
    ('{"log":"INFO ","date":0}', "fluentbit", "INFO", None, "", 0),
    ('{"message":"","log":"DEBUG d"}', "fluentbit", "DEBUG", None, "d", None),
    # newline-bearing Fluent Bit log: (?s) keeps it, a final \n included
    ('{"log":"ERROR line1\\nline2"}', "fluentbit", "ERROR", None, "line1\nline2", None),
    ('{"log":"WARN tail\\n"}', "fluentbit", "WARN", None, "tail\n", None),
    # '.' matches every character but \n, as in RE2 and Python
    (PLAIN + "a\rb", "plain", "ERROR", "svc-1", "a\rb", T0),
    (PLAIN + "a\u0085b", "plain", "ERROR", "svc-1", "a\u0085b", T0),
    (KLOG + "a\u2028b", "klog", "E", "svc-3", "a\u2028b", None),
    (PLAIN + "a\nb", None, None, None, None, None),
    (PLAIN + "ends in cr\r", "plain", "ERROR", "svc-1", "ends in cr\r", T0),
    # the group separator inside a message survives the group split
    (PLAIN + "a\x01b\x01", "plain", "ERROR", "svc-1", "a\x01b\x01", T0),
    # trailing line terminator (see the test docstring)
    (PLAIN + "lf\n", "plain", "ERROR", "svc-1", "lf", T0),
    (PLAIN + "crlf\r\n", "plain", "ERROR", "svc-1", "crlf\r", T0),
    (KLOG + "lf\n", "klog", "E", "svc-3", "lf", None),
    # unicode
    ("2024-03-01 10:00:00 INFO [svc-u] ñ中文 🎉", "plain", "INFO", "svc-u", "ñ中文 🎉", T0),
    ('{"level":"INFO","message":"caf\\u00e9 \\ud83c\\udf89 中"}',
     "json", "INFO", None, "café 🎉 中", None),
    # truncated JSON, and text after a complete object
    ('{"level":"ERROR","message":"cut', None, None, None, None, None),
    ('{"level":"INFO","message":"m"} trailing', "json", "INFO", None, "m", None),
    # klog with a plain-looking message, plain with a bad level or date
    ("I0301 10:00:00.000000 1 svc-k.go:7] 2024-03-01 10:00:00 ERROR [svc-x] inner",
     "klog", "I", "svc-k", "2024-03-01 10:00:00 ERROR [svc-x] inner", None),
    ("2024-03-01 10:00:00 error [svc-1] lower", None, None, None, None, None),
    ("2024-13-45 10:00:00 ERROR [svc-1] bad date", "plain", "ERROR", "svc-1", "bad date", None),
]


def test_lanes_agree_on_adversarial_text(spark):
    """Both capture lanes give the expected fields on every ADVERSARIAL row.

    The expected values follow the DuckDB oracle's rules
    (``sqlgen.pipeline_ctes``: ``CASE`` grammar precedence, per-grammar
    level/message, ``COALESCE(plain_svc, json_svc, fb_src, klog_svc)``,
    ``text_ts_ms`` from the plain wall clock else ``date * 1000`` when the
    Fluent Bit log has a level) and ``regexp_extract`` on the same
    patterns. Known differences of the oracle's engine, which cannot be
    removed without editing the frozen oracle SQL:

    - a plain or klog line ending in "\\n" or "\\r\\n": Java's ``$`` under
      UNIX_LINES and Python's ``$`` may precede a final "\\n", so both lanes
      match and give "lf" / "crlf\\r"; RE2's ``$`` matches only at the very
      end, so DuckDB finds no grammar;
    - JSON is read the way ``from_json`` reads it: a non-number ``date`` is
      null (DuckDB's ``CAST`` reads "1709287200" as a number) and text after
      the leading object is ignored (DuckDB's ``json_valid`` rejects it).
    """
    rows = [("adv", i, "user", text, "", None) for i, (text, *_) in enumerate(ADVERSARIAL)]
    fields = ("grammar", "level_raw", "service", "message", "text_ts_ms")
    bad = []
    for impl in ("native", "pandas"):
        got = {r.turn_idx: r for r in parse_turns(_mk_df(spark, rows), impl=impl).collect()}
        for i, (text, *exp) in enumerate(ADVERSARIAL):
            row = [got[i][f] for f in fields]
            if row != exp:
                bad.append((impl, text, row, exp))
    assert not bad, bad
