"""Physical-plan guarantees — the properties that matter at 100 TB.

These tests read .explain() output so a future change can't silently turn a
broadcast join into a shuffle or block filter pushdown.
"""

from __future__ import annotations

import re
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from timberline_spark import route
from timberline_spark.enrich import enrich_turns
from timberline_spark.parse import parse_turns
from timberline_spark.transcripts import load_transcripts

from .conftest import SF_TINY


def _plan(df, mode="formatted"):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def stage_table(spark):
    out = tempfile.mkdtemp(prefix="tl_plan_")
    df = route.classified(load_transcripts(spark, SF_TINY))
    df.write.mode("overwrite").parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_sink_filters_push_to_parquet_scan(spark, stage_table):
    stage = spark.read.parquet(stage_table)
    plan = _plan(route.errors_sink(stage))
    assert "PushedFilters" in plan
    assert "In(level, [CRITICAL,ERROR]" in plan
    # projection pruned: raw text is not in the sink, must not be read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema
    # no shuffle anywhere in a sink projection+filter
    assert "Exchange" not in plan


def test_enrichment_default_is_join_free(spark):
    """The literal-map enrichment is a pure projection: no joins, no
    exchanges of any kind — the dictionaries ride inside the row
    expression (optimization round 7; its output is checked against the
    DuckDB dictionary joins by the enrich_dims, level_info_default,
    route_* and kept_rows oracle cases)."""
    df = enrich_turns(spark, parse_turns(load_transcripts(spark, SF_TINY)))
    plan = _plan(df, "simple")
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan


def test_dedup_aggregates_map_side(spark, stage_table):
    """dedup must be a partial+final aggregate (map-side combine shrinks the
    shuffle to one row per distinct message per task), never a Window (which
    would shuffle every row and sort whole partitions).

    Spark picks SortAggregate for min(struct) — fine: partial aggregation is
    what cuts shuffle volume; the within-partition sort is on the combined
    (deduped) rows."""
    from timberline_spark import aggregate as agg

    stage = spark.read.parquet(stage_table)
    plan = _plan(agg.dedup_turns(route.kept_turns(stage)), "simple")
    assert "partial_min" in plan  # map-side combine present
    assert "Window" not in plan


def _nodes(plan, name: str) -> list:
    """Every node called `name` in a JVM logical plan."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == name:
            out.append(node)
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())
    return out


def _filter_conditions(plan) -> list[str]:
    """Condition strings of every Filter node in a JVM logical plan."""
    return [node.condition().toString() for node in _nodes(plan, "Filter")]


def test_parse_plan_has_single_from_json(spark):
    """The JSON parse must run ONCE per row: the parsed struct is a shared
    non-cheap alias (`_j`), which CollapseProject keeps un-inlined. Round 2
    shipped 25 JsonToStructs copies in this plan (one per extracted field) —
    a measured 2x parse-stage cost at sf0.1.

    The enrich fence (enrich._fence) keeps every filter on a classify-
    derived flag ABOVE the parse projection. Without it the optimizer
    pushes the filter below and inlines the whole parse tree into the
    predicate (kept_rows: 1.15 s -> 28 s at sf0.1); so no Filter condition
    may contain from_json. A Spark upgrade that constant-folds the fence's
    1-element shuffle fails here instead of silently slowing down.

    Each grammar regex runs at most twice per row in `parse` and
    `kept_rows` (an rlike test plus one group-splitting replace); a regex
    Column shared across CASE branches instead of a named alias embeds one
    copy per branch. The pandas lane plans exactly one Arrow UDF and no
    from_json."""
    from timberline_spark import queries as Q
    from timberline_spark.parse import RE_FB_LOG, RE_KLOG, RE_PLAIN

    for name in ("parse", "kept_rows", "route_errors", "route_tool_calls",
                 "route_anomalies"):
        df = Q.PIPELINE_QUERIES[name](spark, SF_TINY)
        optimized = df._jdf.queryExecution().optimizedPlan()
        plan = optimized.toString()
        assert plan.count("from_json") == 1, (name, plan.count("from_json"))
        inlined = [c for c in _filter_conditions(optimized) if "from_json" in c]
        assert not inlined, (name, inlined[0][:300])
        if name in ("parse", "kept_rows"):
            runs = {p: plan.count(p) for p in (RE_PLAIN, RE_KLOG, RE_FB_LOG)}
            assert max(runs.values()) <= 2, (name, runs)

    df = Q.PIPELINE_QUERIES["parse_pandas_udf"](spark, SF_TINY)
    assert "from_json" not in df._jdf.queryExecution().optimizedPlan().toString()
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert physical.count("ArrowEvalPython") == 1, physical


def test_classify_chain_is_one_projection_per_level(spark):
    """parse -> enrich -> classify states each layer's columns once: one
    select / withColumns per dependency level, not one withColumn per
    column with temp columns and drops. PySpark re-analyzes the whole plan
    on every DataFrame call, so each per-column call is one more
    whole-plan analyzer pass on the driver (32 Project nodes here when each
    column had its own call; the optimizer collapsed them to the same plan
    it builds now). The bound leaves room for a few more levels, not for
    a per-column chain."""
    df = route.classified(load_transcripts(spark, SF_TINY))
    projects = _nodes(df._jdf.queryExecution().analyzed(), "Project")
    assert len(projects) <= 20, len(projects)


def test_cosine_pairs_is_one_grouped_map(spark):
    """cosine_pairs scores every pair in dense block products: ONE
    grouped-map pandas UDF over the block pairs, and no join of any kind
    (the replaced prefix filter planned a df window, a candidate equi-join
    and two map-lookup joins)."""
    from timberline_spark.extras.similarity import cosine_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(20)],
        "doc_id long, text string",
    )
    df = cosine_pairs(docs, 0.9)
    optimized = df._jdf.queryExecution().optimizedPlan()
    assert len(_nodes(optimized, "FlatMapGroupsInPandas")) == 1
    assert not _nodes(optimized, "Join")
    assert not _nodes(optimized, "Window")
    physical = _plan(df, "simple")
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical


def test_jaccard_pairs_is_one_prefix_join(spark):
    """doc_jaccard_pairs finds candidates with ONE prefix self-join: no
    Union (the old minhash rescue was unioned onto a df-capped index), no
    posexplode (its minhash permutations), and exactly 5 joins — shingle df
    onto each side of the prefix self-join, the self-join itself, and the
    two verify lookups (the capped generator planned 10). The self-join
    stays an equi-join on shingle, never a cartesian product."""
    from timberline_spark.extras.dedup import doc_jaccard_pairs

    df = doc_jaccard_pairs(spark, SF_TINY, 0.2)
    optimized = df._jdf.queryExecution().optimizedPlan()
    assert not _nodes(optimized, "Union")
    assert "posexplode" not in optimized.toString()
    assert len(_nodes(optimized, "Join")) == 5
    physical = _plan(df, "simple")
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical


def test_stage_write_rebalances_by_date(spark, tmp_path, monkeypatch):
    """run_pipeline's stage-table write leaves file sizing to AQE: its plan
    holds one RebalancePartitions on p_date and no row-count salt (pmod)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from timberline_spark import pipeline

    class _Captured(Exception):
        pass

    written = []

    def capture(self, path, *args, **kwargs):
        written.append((path, self._df))
        raise _Captured

    # the stage table is the run's first parquet write; stop the run there
    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    with pytest.raises(_Captured):
        pipeline.run_pipeline(spark, SF_TINY, str(tmp_path), run_id="plan")
    [(path, df)] = written
    assert path.endswith(pipeline.STAGE_CLASSIFIED)
    optimized = df._jdf.queryExecution().optimizedPlan()
    rebalances = _nodes(optimized, "RebalancePartitions")
    assert len(rebalances) == 1
    assert "p_date" in rebalances[0].partitionExpressions().toString()
    assert "pmod" not in optimized.toString()


def test_classify_is_single_stage_no_shuffle(spark, stage_table):
    """parse+enrich+validate+route is map-only over the input scan: the
    whole per-row path is one stage (broadcasts aside)."""
    tr = spark.read.parquet(stage_table).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    df = route.classified(tr)
    plan = _plan(df, "simple")
    # only broadcast exchanges, no shuffle exchange on the fact side
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "Broadcast" in line, line


def test_knn_lsh_bits_once_and_literal_folded(spark):
    """emb_knn_lsh computes its hyperplane sign bits ONCE per row from one
    folded matrix literal. The optimized plan holds exactly 3 zip_with
    nodes: the bit projection on each side of the bucket join plus the
    cosine rescore (an unrolled per-plane build had 81: 40 planes x 2 join
    sides + 1). Each table explode must sit ABOVE its bit projection: bits
    re-derived per table (in the generator or after it) re-run every dot
    product LSH_TABLES times per row. A Spark upgrade that stops
    constant-folding the JSON matrix literal leaves a from_json behind."""
    from timberline_spark.extras.similarity import emb_knn_lsh

    plan = emb_knn_lsh(spark, SF_TINY)._jdf.queryExecution().optimizedPlan()
    text = plan.toString()
    assert text.count("zip_with(") == 3, text.count("zip_with(")
    assert text.count("from_json") == 0
    generates = _nodes(plan, "Generate")
    assert len(generates) == 2, len(generates)
    for g in generates:
        assert "zip_with(" not in g.generator().toString()
        assert g.child().toString().count("zip_with(") == 1


def test_no_per_element_literal_arrays():
    """Literal arrays are built with one JVM call (similarity._lit_doubles),
    never one F.lit py4j round trip per element: 2,560 of them cost ~1.7 s
    of plan building per emb_knn_lsh call. The plan test above cannot see
    this regression, because a CreateArray of literals folds to the same
    Literal, so scan the source instead."""
    pattern = re.compile(r"F\.array\(\s*\*\s*[\[(]\s*F\.lit\(")
    root = Path(__file__).resolve().parent.parent / "timberline_spark"
    hits = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, hits


def test_each_pipeline_policy_is_spelled_once():
    """The Spark operators, the oracle SQL, streaming and curation read one
    definition of each policy; a second spelling can drift from the first
    (a curation gate and two top-issue orderings once did). Scan the source
    for literal re-spellings (the DuckDB tokenizer included) and for the
    parse -> enrich -> classify chain outside route.classified."""
    import inspect

    q = "[\"']"
    patterns = {
        "audit salt": rf"{q}#audit{q}",
        "token regex": rf"{q}\[a-z0-9\]\+{q}",
        "error classes": rf"{q}ERROR{q},\s*{q}CRITICAL{q}",
        "actionable severities": rf"{q}medium{q},\s*{q}high{q},\s*{q}critical{q}",
        # the medium bucket row in dicts; the unknown-level default reads it
        "medium default": rf"{q}medium{q}(?!,\s*{q}high)|ELSE 5\b|lit\(5\)",
        "token SQL": r"regexp_extract_all\(lower\(",
        "classify chain": r"classify_turns\(enrich_turns\(",
    }
    root = Path(__file__).resolve().parent.parent / "timberline_spark"
    sources = {
        path.relative_to(root).as_posix(): path.read_text()
        for path in sorted(root.rglob("*.py"))
    }
    hits = {
        what: [
            f"{rel}:{n}"
            for rel, text in sources.items()
            for n, line in enumerate(text.splitlines(), 1)
            if re.search(pat, line)
        ]
        for what, pat in patterns.items()
    }
    assert {what: len(h) for what, h in hits.items()} == dict.fromkeys(patterns, 1), hits
    assert re.search(patterns["classify chain"], inspect.getsource(route.classified))
