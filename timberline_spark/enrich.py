"""Dictionary enrichment (severity / tool / role).

Spark-first replacement for the reference's dictionary-shaped computations
(``/root/reference/ai-analyzer/analyzer/models/log.py:16-58`` severity
mapping, ``analysis/engine.py:110-111`` error/warning classes, plus the
target table's ``tool``/``role`` dimensions).

The dictionaries are compile-time constants, so each enrichment is a
literal ``map<key, struct<attrs>>`` lookup fused into the scan-side
projection — zero joins, zero broadcast exchanges, zero driver->executor
dictionary shipping, at any scale (optimization guide §3.1: the cheapest
join strategy is not joining). ``try_element_at`` returns NULL for
unknown/null keys, exactly like a left join against the dictionary table
(the DuckDB oracle in :mod:`timberline_spark.sqlgen` is that join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dicts


def _fence(c: Column) -> Column:
    """Value-identity filter-pushdown fence.

    ``element_at(shuffle(array(c), 0), 1)`` always evaluates to ``c`` (a
    1-element shuffle is the identity), but ``shuffle`` is flagged
    non-deterministic, so PushDownPredicates will not rewrite filters
    through the projection that contains it. A fixed seed keeps it so
    (``Shuffle`` is ``Stateful``). The seed is pinned because an unseeded
    ``shuffle`` draws a random one per DataFrame build, and that literal in
    the generated code made every build of the same plan compile a new
    whole-stage class.

    Why this matters: the broadcast joins the literal-map lookups replaced
    were, incidentally, optimizer barriers. Without a barrier, a filter on
    any classify-derived flag (``kept``, ``is_valid``, ``level`` ...) is
    pushed below the enrich/parse projections with every referenced alias
    INLINED into the predicate — the whole from_json + regex parse tree
    duplicated several times over (measured: the kept-rows noop isolation
    went 1.15 s -> 28 s at sf0.1 when the fence was omitted). Nothing
    below this projection is filter-prunable anyway — every downstream
    predicate references text-derived columns, never raw input columns —
    so fencing costs no scan pruning at any scale; it only pins the
    single-evaluation plan shape (optimization guide §4.4 is the same
    maneuver for expensive UDFs).
    """
    return F.element_at(F.shuffle(F.array(c), 0), 1)


def _lit_map(pairs: list[tuple]) -> Column:
    """Literal map<string, struct> from (key, {field: value}) pairs, built
    as ONE SQL expression: one JVM call, where one ``F.lit`` / ``alias``
    per value costs py4j round trips each (~200 for the severity map, most
    of enrich's plan-building time). It parses to the same
    ``map(named_struct(...))`` tree, which Catalyst folds to one literal."""

    def sql(v) -> str:
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    entries = (
        f"{sql(key)}, named_struct("
        + ", ".join(f"{sql(name)}, {sql(v)}" for name, v in fields.items())
        + ")"
        for key, fields in pairs
    )
    return F.expr(f"map({', '.join(entries)})")


def _severity_map() -> Column:
    return _lit_map(
        [
            (
                raw,
                {
                    "level": canon,
                    "severity": bucket,
                    "severity_score": score,
                    "is_error": is_err,
                    "is_warning": is_warn,
                },
            )
            for raw, canon, bucket, score, is_err, is_warn in dicts.severity_dict_rows()
        ]
    )


def _tool_map() -> Column:
    return _lit_map(
        [
            (tool, {"tool_category": cat, "is_sensitive": sens})
            for tool, cat, sens in dicts.TOOL_DICT
        ]
    )


def _role_map() -> Column:
    return _lit_map(
        [(role, {"role_class": cls}) for role, cls in dicts.ROLE_DICT]
    )


def enrich_turns(
    spark: SparkSession,
    df: DataFrame,
    unknown_level_to_info: bool = False,
) -> DataFrame:
    """Attach the three dictionaries onto a parsed transcripts frame.

    Adds: level (canonical; null when level_raw is unknown -> routed to
    anomalies downstream), severity, severity_score, is_error, is_warning,
    tool_category, is_sensitive, role_class.

    unknown_level_to_info=True switches to the REFERENCE semantics for P8
    (log.go:66-86 / milvus_client.py:131-134): a parsed-but-unknown level
    falls back to INFO with INFO's severity attributes instead of becoming
    an unknown_level anomaly. The default keeps the stricter divergence
    (documented in dicts.py) so per-sink counts surface bad levels.
    """
    out = df.columns
    fenced = df.select(
        *out,
        _fence(F.try_element_at(_severity_map(), F.col("level_raw"))).alias("_sev"),
        _fence(F.try_element_at(_tool_map(), F.col("tool"))).alias("_tool"),
        _fence(F.try_element_at(_role_map(), F.col("role"))).alias("_role"),
    )
    df = fenced.select(*out, "_sev.*", "_tool.*", "_role.*")
    if unknown_level_to_info:
        # Keyed on grammar, not level_raw: a parsed direct-JSON line with no
        # `level` key (grammar='json', level_raw null) also defaults to INFO
        # (log.go:66-86 GetLevel on a missing level). withColumns evaluates
        # every column against its input, so the condition reads the
        # dictionary's `level`, not the defaulted one.
        unknown = F.col("grammar").isNotNull() & F.col("level").isNull()
        df = df.withColumns(
            {
                col: F.when(unknown, F.lit(default)).otherwise(F.col(col))
                for col, default in dicts.level_defaults("INFO").items()
            }
        )
    return df
