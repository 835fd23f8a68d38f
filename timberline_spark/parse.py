"""Grok/JSON parse stage: raw turn text -> structured fields.

Reimplements (Spark-first) the reference's parse surface:

- plain leveled / syslog-ish lines: fluent-bit named-group regex parsers
  (``/root/reference/fluent-bit-config/parsers.yaml:2-13``) and the plain
  application lines of the synthetic corpus
  (``tests/docker/log_generator.py:100-106``);
- structured JSON lines parsed with REAL JSON parsing (``F.from_json``), not
  field regexes — any key order, escaped quotes, nested metadata, exactly
  like the reference's struct unmarshal
  (``log-ingestor/internal/handlers/stream.go:226-244``). Two accepted JSON
  shapes (dual-format fallback, stream.go:60-67): the direct LogEntry shape
  ``{level, service, message, labels|kubernetes_labels}`` and the Fluent Bit
  shape ``{date, log, source, kubernetes{labels}}`` whose float ``date``
  goes through the seconds-vs-millis heuristic (``stream.go:77-90``);
- open-schema metadata labels with the reference's 3-path fallback chain
  ``labels -> kubernetes_labels -> kubernetes.labels``
  (``ai-analyzer/analyzer/models/log.py:177-199``) -> a real
  ``map<string,string>`` column;
- k8s klog lines with single-char levels
  (``log_generator.py:273-339``; CRI parser in
  ``helm/timberline/templates/fluent-bit-configmap.yaml:123-127``);
- flexible timestamp parsing with deterministic sentinel fallback
  (``stream.go:20-58`` — the reference falls back to now(); we fall back to
  the row's ``ts`` column so reruns are byte-identical).

Two implementations with identical output:

- ``impl="native"`` (default): ``regexp_extract`` + ``from_json`` — JVM-side,
  whole-stage-codegen, zero Python in the hot path. This is the 100 TB path.
- ``impl="pandas"``: one vectorized Arrow-batched pandas UDF applying the
  precompiled regexes + ``json.loads`` and returning a struct — the "Lua
  scripting filter" extension point (``fluent-bit-configmap.yaml:59-62``)
  expressed the Spark way. Kept for parity testing and for grammars that
  outgrow the declarative path.

Regex patterns use only constructs Java regex and RE2 (DuckDB) parse
identically, so the DuckDB oracle re-runs the same patterns; the JSON path
is oracled with DuckDB's json_extract_string on the same JSONPaths.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extras.xhash import char_hash

# Grammar patterns (shared with the oracle SQL generator).
RE_PLAIN = (
    r"^([0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}) "
    r"([A-Z]+) \[([A-Za-z0-9-]+)] (.*)$"
)
RE_KLOG = (
    r"^([IEWF])([0-9]{4}) ([0-9]{2}:[0-9]{2}:[0-9]{2})\.[0-9]{6} 1 "
    r"([A-Za-z0-9-]+)\.go:([0-9]+)] (.*)$"
)
# level prefix inside the Fluent Bit log field. (?s) (DOTALL) is embedded in
# the pattern so all three engines (Java regex, Python re, DuckDB/RE2) agree
# that a log field containing a newline still parses as fluentbit grammar —
# without it the native path would route newline-bearing logs to anomalies
# while the pandas path accepted them.
RE_FB_LOG = r"(?s)^([A-Z]+) (.*)$"

TS_FMT = "yyyy-MM-dd HH:mm:ss"

# permissive schema for the dual-shape JSON ingest: the union of both
# accepted shapes; from_json leaves absent keys null (PERMISSIVE mode)
JSON_SCHEMA = (
    "level string, service string, message string,"
    " date double, log string, source string,"
    " labels map<string,string>, kubernetes_labels map<string,string>,"
    " kubernetes struct<labels:map<string,string>>"
)

# Flexible-timestamp surface (stream.go:20-58 + log_generator.py:70-79):
# every format the reference accepts, tried in order. Fallback is NULL (the
# caller substitutes the row ts — a deterministic sentinel, NOT now()).
FLEX_TS_FORMATS = [
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss,SSS",  # python-logging comma-millis
    "MMM dd HH:mm:ss yyyy",  # syslog + explicit year
]

PARSED_FIELDS = ["grammar", "level_raw", "service", "message", "text_ts_ms", "labels"]


def flexible_ts_ms(c: Column) -> Column:
    """Epoch-millis from a string timestamp in any accepted format.

    Includes the seconds-vs-millis heuristic for pure numerics
    (stream.go:77-90: values < 1e12 are seconds). Unparseable -> NULL.
    """
    attempts = [F.try_to_timestamp(c, F.lit(f)) for f in FLEX_TS_FORMATS]
    from_str = F.unix_millis(F.coalesce(*attempts))
    num = F.when(c.rlike("^[0-9]+([.][0-9]+)?$"), c.cast("double"))
    return F.coalesce(from_str, seconds_heuristic_ms(num))


def seconds_heuristic_ms(num: Column) -> Column:
    """P6: numeric timestamp < 1e12 is seconds -> millis.

    Applies to the ALTERNATE numeric ``timestamp`` surface (stream.go:77-90
    applies the <1e12 heuristic there); the Fluent Bit ``date`` field is
    always seconds and is multiplied unconditionally (stream.go
    transformToLogEntry), handled inline in the parse paths."""
    return F.when(num < 1e12, (num * 1000).cast("long")).otherwise(
        num.cast("long")
    )


def _nullif_empty(c: Column) -> Column:
    return F.when(c == "", None).otherwise(c)


def parse_turns(df: DataFrame, impl: str = "native") -> DataFrame:
    """Add parsed columns to a transcripts DataFrame.

    Adds: grammar, level_raw, service, message, text_ts_ms (epoch millis
    parsed out of the text, null when the grammar carries no timestamp),
    labels (open map<string,string> metadata after the 3-path fallback),
    conv_key (numeric conversation key used by the deterministic sampler).

    conv_key is the cross-engine polynomial hash of the conv_id STRING
    (extras/xhash.py char_hash) — never null for any id format. The input
    contract says ``conv_id: string``; an earlier revision extracted a
    number from ``conv-N``-shaped ids only, which silently null-sampled
    (dropped) every INFO/DEBUG turn of a UUID-keyed conversation.
    """
    if impl == "native":
        df = _parse_native(df)
    elif impl == "pandas":
        df = _parse_pandas(df)
    else:
        raise ValueError(f"unknown parse impl: {impl}")
    return df.withColumn("conv_key", char_hash(F.col("conv_id")))


def _group_split(t: Column, pattern: str, groups: int) -> Column:
    """All capture groups of an anchored pattern in ONE regex execution.

    ``regexp_replace`` of a ``^...$``-anchored pattern substitutes the whole
    string (minus an optional final line terminator, which Java's ``$``
    leaves in place) with the SEP-delimited groups; splitting on SEP yields
    ``["", g1, ..., gN(+terminator)]``. One matcher run replaces N
    ``regexp_extract`` runs of the same pattern (round-7 optimization: the
    plain grammar ran RE_PLAIN four times per matching row). Callers gate
    this under the already-computed match condition, so a non-matching row
    never reaches it and the sentinel character cannot be confused with
    input text. The LAST group may contain SEP or carry the terminator;
    use :func:`_last_group` to reassemble it exactly."""
    repl = "".join(_GROUP_SEP + f"${i}" for i in range(1, groups + 1))
    return F.split(F.regexp_replace(t, pattern, repl), _GROUP_SEP)


def _last_group(parts: Column, n_lead: int) -> Column:
    """Reassemble the final ``(.*)$`` group from a :func:`_group_split`
    array: rejoin any SEP-containing pieces, then strip the single final
    line terminator that ``$`` excludes from the group but
    ``regexp_replace`` leaves after the substitution."""
    tail = F.array_join(
        F.slice(parts, n_lead + 2, F.size(parts)), _GROUP_SEP
    )
    return F.regexp_replace(tail, _TRAIL_TERM_RE, "")


_GROUP_SEP = "\x01"
# Java regex line terminators that '.' excludes and '$' can precede
_TRAIL_TERM_RE = '(?:\\r\\n|[\\n\\r\\u0085\\u2028\\u2029])$'


def _parse_native(df: DataFrame) -> DataFrame:
    t = F.col("text")
    # Materialize the parsed JSON struct ONCE as a named column and extract
    # every field from it. Building each derived column from a shared Python
    # `Column` object would embed an independent JsonToStructs copy per use
    # (25 in the round-2 optimized plan — measured 2x parse cost at sf0.1);
    # as a non-cheap multi-referenced alias, CollapseProject keeps this one
    # un-inlined, so the optimized plan carries exactly 1 JsonToStructs
    # (asserted in tests/test_plans.py).
    df = df.withColumn("_j", F.when(t.startswith("{"), F.from_json(t, JSON_SCHEMA)))
    # Each anchored grammar regex runs at most TWICE per row (one rlike match
    # test + one group-splitting replace, gated on the match), not once per
    # extracted group: round 6 ran RE_PLAIN four times and RE_KLOG three
    # times on each matching row. Like `_j`, the split arrays are named
    # non-cheap multi-referenced aliases, so CollapseProject keeps them
    # evaluated once.
    df = df.withColumn(
        "_pp", F.when(t.rlike(RE_PLAIN), _group_split(t, RE_PLAIN, 4))
    ).withColumn("_kp", F.when(t.rlike(RE_KLOG), _group_split(t, RE_KLOG, 6)))
    j = F.col("_j")
    pp = F.col("_pp")
    kp = F.col("_kp")
    plain_lvl = F.element_at(pp, 3)  # [A-Z]+: non-empty whenever matched
    json_lvl = j["level"]
    fb_lvl = F.when(
        j["log"].isNotNull(), _nullif_empty(F.regexp_extract(j["log"], RE_FB_LOG, 1))
    )
    klog_char = F.element_at(kp, 2)  # [IEWF]: non-empty whenever matched
    # Grammar lanes. Direct-shape JSON is accepted whenever it carries a
    # non-empty message — the reference's direct parse requires only
    # Message != "" and defaults a missing level to INFO later
    # (stream.go:60-67, log.go:66-86) — so `level` may be absent and
    # level_raw null while grammar is still 'json'; the INFO-default path
    # in enrich_turns covers the missing level.
    cond_plain = pp.isNotNull()
    cond_json = json_lvl.isNotNull() | (
        _nullif_empty(j["message"]).isNotNull() & j["log"].isNull()
    )
    cond_fb = fb_lvl.isNotNull()
    cond_klog = kp.isNotNull()
    grammar = (
        F.when(cond_plain, "plain")
        .when(cond_json, "json")
        .when(cond_fb, "fluentbit")
        .when(cond_klog, "klog")
    )
    level_raw = (
        F.when(cond_plain, plain_lvl)
        .when(cond_json, json_lvl)
        .when(cond_fb, fb_lvl)
        .when(cond_klog, klog_char)
    )
    # direct shape carries `service`, Fluent Bit shape carries `source`
    service = F.coalesce(
        F.element_at(pp, 4),  # null when unmatched; [A-Za-z0-9-]+ otherwise
        j["service"],
        j["source"],
        F.element_at(kp, 5),
    )
    message = (
        F.when(cond_plain, _last_group(pp, 3))
        .when(cond_json, j["message"])
        .when(cond_fb, F.regexp_extract(j["log"], RE_FB_LOG, 2))
        .when(cond_klog, _last_group(kp, 5))
    )
    # Flexible timestamp (P5 analog): the plain grammar embeds a full
    # wall-clock date; the Fluent Bit `date` field is epoch SECONDS and is
    # multiplied by 1000 unconditionally (stream.go transformToLogEntry —
    # the <1e12 heuristic applies only to the alternate `timestamp` field,
    # see seconds_heuristic_ms). try_to_timestamp -> null on failure.
    plain_ts = F.try_to_timestamp(F.element_at(pp, 2), F.lit(TS_FMT))
    text_ts_ms = F.coalesce(
        F.unix_millis(plain_ts),
        F.when(cond_fb, (j["date"] * 1000).cast("long")),
    )
    # P15 label fallback chain (models/log.py:177-199)
    labels = F.coalesce(
        j["labels"], j["kubernetes_labels"], j["kubernetes"]["labels"]
    )
    return (
        df.withColumn("grammar", grammar)
        .withColumn("level_raw", level_raw)
        .withColumn("service", service)
        .withColumn("message", message)
        .withColumn("text_ts_ms", text_ts_ms)
        .withColumn("labels", labels)
        .drop("_j", "_pp", "_kp")
    )


# ---------------------------------------------------------------------------
# pandas-UDF grok variant (Arrow-batched, no per-row Python at the API level)
# ---------------------------------------------------------------------------
_GROK_SCHEMA = T.StructType(
    [
        T.StructField("grammar", T.StringType()),
        T.StructField("level_raw", T.StringType()),
        T.StructField("service", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("text_ts_ms", T.LongType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
    ]
)

_C_PLAIN = re.compile(RE_PLAIN)
_C_KLOG = re.compile(RE_KLOG)
_C_FB = re.compile(RE_FB_LOG)  # DOTALL comes from the inline (?s) flag


def _grok_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorized grok over one Arrow batch: .str.extract + json.loads."""
    out = pd.DataFrame(index=texts.index)
    plain = texts.str.extract(_C_PLAIN)
    klog = texts.str.extract(_C_KLOG)

    def _load(s):
        if isinstance(s, str) and s.startswith("{"):
            try:
                return json.loads(s)
            except ValueError:
                return None
        return None

    parsed = texts.map(_load)

    def _field(k):
        return parsed.map(lambda d: d.get(k) if isinstance(d, dict) else None)

    j_lvl, j_svc, j_msg = _field("level"), _field("service"), _field("message")
    j_log, j_src, j_date = _field("log"), _field("source"), _field("date")
    fb = j_log.map(lambda s: _C_FB.match(s) if isinstance(s, str) else None)
    fb_lvl = fb.map(lambda m: m.group(1) if m else None)
    fb_msg = fb.map(lambda m: m.group(2) if m else None)

    def _labels(d):
        if not isinstance(d, dict):
            return None
        for path in ("labels", "kubernetes_labels"):
            if isinstance(d.get(path), dict):
                return d[path]
        k8s = d.get("kubernetes")
        if isinstance(k8s, dict) and isinstance(k8s.get("labels"), dict):
            return k8s["labels"]
        return None

    labels = parsed.map(_labels)

    has_plain = plain[1].notna()
    # direct-shape JSON: a level OR a non-empty message (absent level stays
    # null and defaults to INFO downstream) — same lanes as _parse_native
    has_json = (j_lvl.notna() | (j_msg.notna() & (j_msg != "") & j_log.isna())) & ~has_plain
    has_fb = fb_lvl.notna() & ~has_plain & ~has_json
    has_klog = klog[0].notna() & ~has_plain & ~has_json & ~has_fb

    out["grammar"] = pd.Series(pd.NA, index=texts.index, dtype="object")
    out.loc[has_plain, "grammar"] = "plain"
    out.loc[has_json, "grammar"] = "json"
    out.loc[has_fb, "grammar"] = "fluentbit"
    out.loc[has_klog, "grammar"] = "klog"

    out["level_raw"] = plain[1].where(
        has_plain, j_lvl.where(has_json, fb_lvl.where(has_fb, klog[0]))
    )
    out["service"] = plain[2].where(
        has_plain, j_svc.where(has_json, j_src.where(has_fb, klog[3]))
    )
    out["message"] = plain[3].where(
        has_plain, j_msg.where(has_json, fb_msg.where(has_fb, klog[5]))
    )
    ts = pd.to_datetime(
        plain[0].where(has_plain), format="%Y-%m-%d %H:%M:%S", errors="coerce"
    )
    ms = (ts - pd.Timestamp("1970-01-01")) / pd.Timedelta(milliseconds=1)
    # `date` is always epoch seconds (stream.go transformToLogEntry
    # multiplies unconditionally; no <1e12 heuristic on this field)
    fb_ms = j_date.map(
        lambda v: None
        if v is None or v != v  # None or NaN (pandas coerces None -> NaN)
        else int(v * 1000)
    )
    out["text_ts_ms"] = ms.astype("Int64").where(has_plain, fb_ms.where(has_fb))
    out["labels"] = labels
    return out


def _parse_pandas(df: DataFrame) -> DataFrame:
    grok = F.pandas_udf(_grok_batch, returnType=_GROK_SCHEMA)
    # materialize the struct once, then expand — avoids re-running the UDF
    # per extracted field
    df = df.withColumn("_grok", grok(F.col("text")))
    for f in PARSED_FIELDS:
        df = df.withColumn(f, F.col("_grok")[f])
    return df.drop("_grok")
