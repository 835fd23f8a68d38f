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

One grammar spec, two capture lanes. A lane only extracts the raw captures
named in ``_RAW``: regex groups per ``_REGEX_CAPTURES``, JSON fields typed by
``JSON_SCHEMA``, labels by ``LABEL_PATHS``. :func:`_assemble` alone turns
them into the parsed fields — grammar precedence, the per-grammar level and
message, the ``service`` coalesce and the ``text_ts_ms`` rule — the same
rules the DuckDB oracle writes as SQL (``sqlgen.pipeline_ctes``).

- ``impl="native"`` (default): one ``from_json`` and one regex group-split
  per pattern — JVM-side, whole-stage codegen, no Python. The product path.
- ``impl="pandas"``: one Arrow-batched pandas UDF (one ``json.loads`` per
  row, one ``.str.extract`` per pattern) returning the captures as a flat
  struct — the "Lua scripting filter" extension point
  (``fluent-bit-configmap.yaml:59-62``) expressed the Spark way. It backs
  the ``parse_pandas_udf`` query.

Regex patterns use only constructs Java regex, Python ``re`` and RE2
(DuckDB) parse identically, so the DuckDB oracle re-runs the same patterns.
Java runs them under UNIX_LINES ``(?d)`` so that, as in Python and RE2, only
``\\n`` ends a line for ``.``. The JSON path is oracled with DuckDB's
json_extract_string on the same JSONPaths.
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
# that a log field containing a newline still parses as fluentbit grammar.
RE_FB_LOG = r"(?s)^([A-Z]+) (.*)$"

TS_FMT = "yyyy-MM-dd HH:mm:ss"

_STR = T.StringType()
_MAP = T.MapType(_STR, _STR)
# permissive schema for the dual-shape JSON ingest: the union of both
# accepted shapes; from_json leaves absent keys null (PERMISSIVE mode)
JSON_SCHEMA = T.StructType(
    [T.StructField(f, _STR) for f in ("level", "service", "message")]
    + [T.StructField("date", T.DoubleType())]
    + [T.StructField(f, _STR) for f in ("log", "source")]
    + [T.StructField(f, _MAP) for f in ("labels", "kubernetes_labels")]
    + [T.StructField("kubernetes", T.StructType([T.StructField("labels", _MAP)]))]
)
# P15 label fallback chain (models/log.py:177-199): the first path holding
# an object wins whole; maps are not merged across paths
LABEL_PATHS = (("labels",), ("kubernetes_labels",), ("kubernetes", "labels"))

# Raw-capture contract: each lane yields exactly the columns of _RAW (null
# when a pattern does not match or a key is absent), and only _assemble
# reads them. Regex captures: (source column, pattern, {capture: group});
# every pattern ends in its (.*)$ group.
_REGEX_CAPTURES = (
    ("text", RE_PLAIN, {"plain_ts": 1, "plain_lvl": 2, "plain_svc": 3, "plain_msg": 4}),
    ("text", RE_KLOG, {"klog_lvl": 1, "klog_svc": 4, "klog_msg": 6}),
    ("j_log", RE_FB_LOG, {"fb_lvl": 1, "fb_msg": 2}),
)
_J_FIELDS = ("level", "service", "message", "source", "log", "date")
_RAW = {
    **{f"j_{f}": JSON_SCHEMA[f].dataType for f in _J_FIELDS},
    "j_labels": _MAP,
    **{name: _STR for _, _, groups in _REGEX_CAPTURES for name in groups},
}

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
    transformToLogEntry), in :func:`_assemble`."""
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
    ``impl`` picks the capture lane, ``"native"`` or ``"pandas"``; the
    output is the same either way.

    conv_key is the cross-engine polynomial hash of the conv_id STRING
    (extras/xhash.py char_hash) — never null for any id format. The input
    contract says ``conv_id: string``; an earlier revision extracted a
    number from ``conv-N``-shaped ids only, which silently null-sampled
    (dropped) every INFO/DEBUG turn of a UUID-keyed conversation.
    """
    if impl not in _LANES:
        raise ValueError(f"unknown parse impl: {impl}")
    df = _LANES[impl](df)
    return df.select(
        *(c for c in df.columns if c not in _RAW),
        *_assemble(),
        char_hash(F.col("conv_id")).alias("conv_key"),
    )


def _assemble() -> list[Column]:
    """The parsed fields from the raw captures (which parse_turns drops).

    - Precedence plain > json > fluentbit > klog; each grammar picks its own
      level_raw and message. Direct-shape JSON is accepted whenever it
      carries a level or a non-empty message — the reference's direct parse
      requires only Message != "" and defaults a missing level to INFO later
      (stream.go:60-67, log.go:66-86) — so level_raw may be null while
      grammar is still 'json'; enrich_turns covers the missing level.
    - ``service`` coalesces across grammars, whichever one matched: the
      direct shape carries ``service``, the Fluent Bit shape ``source``.
    - ``text_ts_ms``: the plain grammar's wall clock, else the Fluent Bit
      ``date`` whenever the log carries a level. ``date`` is epoch SECONDS,
      multiplied by 1000 unconditionally (stream.go transformToLogEntry).
    """
    c = F.col
    json_match = c("j_level").isNotNull() | (
        _nullif_empty(c("j_message")).isNotNull() & c("j_log").isNull()
    )
    grammar = level_raw = message = F  # F.when opens each CASE, Column.when extends it
    for name, match, lvl, msg in (
        ("plain", c("plain_lvl").isNotNull(), "plain_lvl", "plain_msg"),
        ("json", json_match, "j_level", "j_message"),
        ("fluentbit", c("fb_lvl").isNotNull(), "fb_lvl", "fb_msg"),
        ("klog", c("klog_lvl").isNotNull(), "klog_lvl", "klog_msg"),
    ):
        grammar = grammar.when(match, name)
        level_raw = level_raw.when(match, c(lvl))
        message = message.when(match, c(msg))
    plain_ts = F.try_to_timestamp(c("plain_ts"), F.lit(TS_FMT))
    fb_ts = F.when(c("fb_lvl").isNotNull(), (c("j_date") * 1000).cast("long"))
    service = F.coalesce(*map(c, ("plain_svc", "j_service", "j_source", "klog_svc")))
    return [
        grammar.alias("grammar"),
        level_raw.alias("level_raw"),
        service.alias("service"),
        message.alias("message"),
        F.coalesce(F.unix_millis(plain_ts), fb_ts).alias("text_ts_ms"),
        c("j_labels").alias("labels"),
    ]


_SEP = "\x01"


def _native_captures(df: DataFrame) -> DataFrame:
    """The raw captures on the JVM.

    The parsed JSON struct and each pattern's group-split array are
    materialized ONCE as named columns, and every capture is read from them.
    Building each capture from a shared Python ``Column`` instead would embed
    an independent copy per use (round 2 shipped 25 JsonToStructs copies, a
    measured 2x parse cost at sf0.1); as non-cheap multi-referenced aliases,
    CollapseProject keeps them un-inlined, so each regex runs at most twice
    per row: one ``rlike`` match test and one group-splitting replace gated
    on it (asserted in tests/test_plans.py).

    The replace substitutes the anchored match with its SEP-delimited groups
    plus a closing SEP, so the split reads ``["", g1, ..., gN, rest]``, where
    ``rest`` is what ``$`` left after the match: "" or a final newline. The
    last group ``(.*)`` may itself contain SEP, so it is rejoined from
    everything between g(N-1) and ``rest``.
    """
    t = F.col("text")
    j = F.col("_j")
    raw = {f"j_{f}": j[f] for f in _J_FIELDS}
    raw["j_labels"] = F.coalesce(*(_walk(j, path) for path in LABEL_PATHS))
    # one projection per dependency level: _j and the splits of text, then
    # the splits of JSON fields (they read _j), then the captures
    of_text = {"_j": F.when(t.startswith("{"), F.from_json(t, JSON_SCHEMA))}
    of_json = {}
    for i, (src, pattern, groups) in enumerate(_REGEX_CAPTURES):
        s = t if src == "text" else raw[src]
        pattern = "(?d)" + pattern  # UNIX_LINES: only \n ends a line
        n = max(groups.values())
        repl = "".join(f"{_SEP}${g}" for g in range(1, n + 1)) + _SEP
        (of_text if src == "text" else of_json)[f"_p{i}"] = F.when(
            s.rlike(pattern), F.split(F.regexp_replace(s, pattern, repl), _SEP)
        )
        p = F.col(f"_p{i}")
        for name, g in groups.items():
            raw[name] = (
                F.element_at(p, g + 1)
                if g < n
                else F.array_join(F.slice(p, n + 1, F.size(p) - n - 1), _SEP)
            )
    out = df.columns
    for cols in (of_text, of_json):
        df = df.withColumns(cols)
    return df.select(*out, *(c.alias(name) for name, c in raw.items()))


def _walk(c: Column, path: tuple) -> Column:
    for key in path:
        c = c[key]
    return c


def _pandas_captures(df: DataFrame) -> DataFrame:
    """The raw captures from ONE Arrow-batched pandas UDF returning a flat
    struct, materialized once and then expanded."""
    schema = T.StructType([T.StructField(n, t) for n, t in _RAW.items()])
    captures = F.pandas_udf(_capture_batch, returnType=schema)
    out = df.columns
    return df.select(*out, captures(F.col("text")).alias("_raw")).select(*out, "_raw.*")


def _capture_batch(texts: pd.Series) -> pd.DataFrame:
    """The raw captures of one Arrow batch: one ``json.loads`` per row, then
    one vectorized ``.str.extract`` per pattern."""
    docs = [_load_json(s) for s in texts]
    out = pd.DataFrame(index=texts.index)
    for f in _J_FIELDS:
        typ = JSON_SCHEMA[f].dataType
        out[f"j_{f}"] = [None if d is None else _as_spark(d.get(f), typ) for d in docs]
    out["j_labels"] = [None if d is None else _labels(d) for d in docs]
    for src, pattern, groups in _REGEX_CAPTURES:
        m = (texts if src == "text" else out[src]).str.extract(re.compile(pattern))
        for name, g in groups.items():
            out[name] = m[g - 1]
    return out[list(_RAW)]


_JSON = json.JSONDecoder()


def _load_json(s) -> dict | None:
    """from_json's reading of one text: its leading JSON object (Jackson
    stops there, so trailing text is ignored), else None."""
    if isinstance(s, str) and s.startswith("{"):
        try:
            return _JSON.raw_decode(s)[0]
        except ValueError:
            return None
    return None


def _as_spark(v, typ: T.DataType):
    """A ``json.loads`` value cast the way ``from_json`` casts it to ``typ``:
    a non-string value in a string field becomes its JSON text; a
    non-number in a double field and a non-object in a map field become
    null."""
    if v is None:
        return None
    if isinstance(typ, T.StringType):
        return v if isinstance(v, str) else json.dumps(v, separators=(",", ":"), ensure_ascii=False)
    if isinstance(typ, T.DoubleType):
        return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else None
    if isinstance(v, dict):  # map<string,string>
        return {k: _as_spark(x, typ.valueType) for k, x in v.items()}
    return None


def _labels(doc: dict) -> dict | None:
    for path in LABEL_PATHS:
        v = doc
        for key in path:
            v = v.get(key) if isinstance(v, dict) else None
        if isinstance(v, dict):
            return _as_spark(v, _MAP)
    return None


_LANES = {"native": _native_captures, "pandas": _pandas_captures}
