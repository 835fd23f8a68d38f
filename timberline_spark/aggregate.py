"""Dedup + report aggregation (the reference's analysis layer, batch-first).

Reference semantics re-expressed as single-shuffle Spark plans:

- Duplicate counting (``/root/reference/log-ingestor/internal/storage/
  milvus.go:273-328,354-409``): the reference counts near-duplicates online
  via ANN search; the batch equivalence (SURVEY.md J1/J2) is a groupBy on the
  normalized message key producing ``duplicate_count`` with the earliest
  occurrence as the kept example.
- Cluster grouping (``ai-analyzer/analyzer/storage/milvus_client.py:166-264``
  DBSCAN eps=0.2 min_samples=1): with min_samples=1 this is connected
  components of the similarity graph; the deterministic Spark equivalence is
  a groupBy on the message template fingerprint (digits collapsed).
- Per-cluster aggregates (``ai-analyzer/analyzer/models/log.py:143-155,
  201-204``): unique count, total_log_count (Σ duplicate_count),
  error_count, distinct sources, time range.
- Representative selection (``milvus_client.py:331-349``): most-recent
  ERROR/CRITICAL, else most-recent WARNING, else most-recent — with explicit
  (conv_id, turn_idx) tie-breaks (the reference relies on list order).
- Severity scoring (``ai-analyzer/analyzer/llm/client.py:186-278``): the
  reference asks an LLM; we apply the documented rubric deterministically —
  base score from the representative level, +1 when the cluster is frequent,
  clamped to 10; bucket mapping from ``models/log.py:16-58``; MEDIUM stays
  the unknown/failure default (``client.py:275-276``).
- Summary stats (``analysis/engine.py:108-129``, ``models/log.py:277-319``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import dicts


def dedup_key(message: Column) -> Column:
    """The exact-dedup group key of a message: its lowercased text."""
    return F.lower(message)


def audit_hash(key_text: Column) -> Column:
    """A 64-bit hash independent of ``xxhash64(key_text)``, for collision
    audits. NOT multi-arg xxhash64(key_text, lit): Spark folds that as
    XXH64("audit", seed=XXH64(key_text)), so a first-hash collision implies
    a second-hash one and the sentinel is blind; concat feeds other bytes."""
    return F.xxhash64(F.concat(key_text, F.lit("#audit")))


def _level_priority(col):
    expr = F.lit(0)
    for level, priority, _ in dicts.LEVEL_META:
        expr = F.when(col == level, priority).otherwise(expr)
    return expr


def dedup_turns(
    kept: DataFrame,
    extra_keys: tuple[str, ...] = (),
    audit: bool = False,
) -> DataFrame:
    """Exact-key dedup: one row per normalized message, with duplicate_count.

    Single shuffle on the group key; representative = earliest
    (effective_ts_ms, conv_id, turn_idx) — deterministic at any parallelism.
    extra_keys prepends grouping columns (e.g. ``("p_date",)`` for the
    per-analysis-date results the reference stores keyed by date,
    analysis_results_store.py:75-131); the global view is recoverable from
    the dated one via :func:`dedup_rollup` (min/sum are associative), so the
    pipeline never runs the wide dedup shuffle twice.

    The shuffle key is the 8-byte xxhash64 of the normalized message.
    ``audit=True`` appends a ``key_collision`` boolean per group: min/max
    of a SECOND independent 64-bit hash within the group (16 extra
    map-side-combined bytes per group, never the string) — any group whose
    members disagree under the second hash merged two distinct messages
    under the first. The pipeline surfaces the sum in _metrics. The exact
    reference is the DuckDB oracle's ``GROUP BY`` on the string itself.
    """
    return _dedup_groups(
        kept, extra_keys, dedup_key(F.col("message")), F.count(F.lit(1)),
        "effective_ts_ms", "effective_ts_ms", audit,
    )


def dedup_rollup(dated: DataFrame, audit: bool = False) -> DataFrame:
    """Global dedup derived from a per-date dedup frame WITHOUT re-shuffling
    the raw rows: min(rep)/sum(count)/min/max are associative, and a date
    group's rep carries first_ts_ms == its effective_ts_ms (the min-struct's
    leading field), so re-packing the struct reproduces the exact global
    representative. Input is one row per (date, message) — orders of
    magnitude smaller than the kept stream.

    ``audit=True`` mirrors the :func:`dedup_turns` collision sentinel at
    THIS stage's hashed groupBy (ADVICE round 4: a cross-date 64-bit
    collision introduced here was invisible to the per-date audit): the
    same independent second hash of the incoming ``dedup_key`` strings is
    min/max-aggregated per rollup group, and any per-date ``key_collision``
    verdict present on the input is OR-folded in, so the output column
    covers both hashed-group stages.
    """
    return _dedup_groups(
        dated, (), F.col("dedup_key"), F.sum("duplicate_count"),
        "first_ts_ms", "last_ts_ms", audit,
    )


def _dedup_groups(
    df: DataFrame, keys, key_text, count, first_ts: str, last_ts: str, audit: bool
) -> DataFrame:
    """One row per (``keys``, ``key_text``) group: the earliest
    representative, ``count`` as duplicate_count, and the group's first and
    last timestamps (min of ``first_ts``, max of ``last_ts``)."""
    # Group on xxhash64(key_text), NOT the text itself: the wide dedup
    # shuffle otherwise carries the full message twice (as the group key
    # AND inside the rep struct). The 8-byte key roughly halves shuffle
    # bytes on the heaviest stage; dedup_key is re-derived from the winning
    # rep's message (identical for every group member). A 64-bit collision
    # would merge two unrelated messages into one count — odds ~n^2/2^65
    # (≈3% at 10^9 DISTINCT messages); audit=True counts them.
    df = df.withColumn("dedup_h", F.xxhash64(key_text))
    # min(struct(...)) hash-aggregate instead of a row_number window: gets
    # map-side partial aggregation and avoids the per-partition sort — the
    # difference between "works" and "works at 100 TB". The struct's leading
    # fields (effective_ts_ms, conv_id, turn_idx) are a unique total order,
    # so the winner is deterministic at any parallelism.
    rep = F.struct(
        F.col(first_ts).alias("effective_ts_ms"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("level"),
        F.col("severity"),
        F.col("severity_score"),
        F.col("is_error"),
        F.col("is_warning"),
        F.col("service"),
        F.col("message"),
        # maps aren't orderable inside min(struct); serialize and restore.
        # Never reached by the comparison: (ts, conv_id, turn_idx) is unique.
        F.to_json(F.col("labels")).alias("labels_json"),
    )
    aggs = [
        F.min(rep).alias("rep"),
        count.alias("duplicate_count"),
        F.min(first_ts).alias("first_ts_ms"),
        F.max(last_ts).alias("last_ts_ms"),
    ]
    extra_cols = []
    if audit:
        h2 = audit_hash(key_text)
        aggs += [F.min(h2).alias("_h2min"), F.max(h2).alias("_h2max")]
        coll = F.col("_h2min") != F.col("_h2max")
        if "key_collision" in df.columns:
            aggs.append(F.max(F.col("key_collision").cast("int")).alias("_inherited"))
            coll = coll | (F.col("_inherited") == 1)
        extra_cols = [coll.alias("key_collision")]
    g = df.groupBy(*keys, "dedup_h").agg(*aggs)
    return g.select(*keys, *_unpack_rep(), *extra_cols)


def _unpack_rep():
    return [
        dedup_key(F.col("rep.message")).alias("dedup_key"),
        F.col("rep.conv_id").alias("conv_id"),
        F.col("rep.turn_idx").alias("turn_idx"),
        F.col("rep.level").alias("level"),
        F.col("rep.severity").alias("severity"),
        F.col("rep.severity_score").alias("severity_score"),
        F.col("rep.is_error").alias("is_error"),
        F.col("rep.is_warning").alias("is_warning"),
        F.col("rep.service").alias("service"),
        F.col("rep.message").alias("message"),
        F.from_json(F.col("rep.labels_json"), "map<string,string>").alias("labels"),
        F.col("duplicate_count"),
        F.col("first_ts_ms"),
        F.col("last_ts_ms"),
    ]


def _first_n_examples(df: DataFrame, key: str, n_examples: int) -> DataFrame:
    """The first ``n_examples`` occurrences of each ``key`` group, ranked by
    (effective_ts_ms, conv_id, turn_idx), each carrying the group size.
    The window partitions on the high-cardinality key (never a global
    sort), so it parallelizes at any scale."""
    order = [F.col("effective_ts_ms"), F.col("conv_id"), F.col("turn_idx")]
    w = Window.partitionBy(key).orderBy(*order)
    wc = Window.partitionBy(key)
    return (
        df.withColumns(
            {
                "example_rank": F.row_number().over(w),
                "duplicate_count": F.count(F.lit(1)).over(wc),
            }
        )
        .filter(F.col("example_rank") <= n_examples)
        .select(
            key,
            "example_rank",
            "conv_id",
            "turn_idx",
            "level",
            "service",
            "message",
            F.col("effective_ts_ms").alias("ts_ms"),
            "duplicate_count",
        )
    )


def dedup_examples(kept: DataFrame, n_examples: int = dicts.DEDUP_EXAMPLES_N) -> DataFrame:
    """First-N-examples dedup retention (milvus.go:374-397 with
    MIN_EXAMPLES_BEFORE_EXCLUSION=3, config.go:46): the first 3 occurrences
    of each duplicate group stay stored as examples; later occurrences only
    count."""
    df = kept.withColumn("dedup_key", dedup_key(F.col("message")))
    return _first_n_examples(df, "dedup_key", n_examples)


def dedup_examples_simhash(kept: DataFrame, n_examples: int = dicts.DEDUP_EXAMPLES_N) -> DataFrame:
    """First-N-examples dedup keyed by the message's 32-bit SimHash instead
    of the exact normalized string: near-identical messages (differing in a
    few low-weight tokens whose votes don't flip any bit sign) share one
    group. Batch twin of the streaming simhash dedup
    (streaming.stream_dedup_examples key_mode='simhash'); the reference
    dedups at ingest against the growing corpus with cosine > 0.95
    (milvus.go:354-409, config.go:45) — SimHash buckets are the
    shuffle-keyable analog.

    Scale shape: the simhash is a pure per-row projection riding the scan.
    Hamming-radius > 0 matching needs banded multi-probe (see
    extras.dedup.doc_minhash_lsh_pairs for the banding pattern) — out of
    scope for the first-3-kept retention semantics here.
    """
    from .extras.dedup import with_simhash

    df = with_simhash(
        kept.select(
            "conv_id", "turn_idx", "level", "service", "message",
            "effective_ts_ms",
        ),
        "message",
        "simhash",
    )
    return _first_n_examples(df, "simhash", n_examples)


def cluster_fingerprint(message_col, level_col):
    """Template fingerprint: level + message with digit runs collapsed."""
    return F.concat_ws(
        "|", level_col, F.regexp_replace(F.lower(message_col), "[0-9]+", "#")
    )


def report_buckets(
    deduped: DataFrame, comp: DataFrame | None = None, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """Cluster-level aggregates + representative, one shuffle (hash-agg only).

    Without ``comp`` a cluster is one exact fingerprint (level +
    digit-collapsed message). Like dedup_turns, the shuffle then groups on
    xxhash64(fingerprint), and the fingerprint string is re-derived from the
    winning representative, which by construction yields the group's
    fingerprint for any member.

    With ``comp`` (the :func:`fuzzy_component_map` of these rows) a cluster
    is one fuzzy component: the (tiny) map is joined onto the rows, the
    shuffle groups on the component, and the output carries it as
    ``fingerprint``, plus ``n_templates`` (how many exact fingerprints
    merged into it). No explicit broadcast hint on the map join (ADVICE
    round 4): comp is expected tiny, but forcing broadcast on an
    unexpectedly large distinct-template population risks OOM — AQE
    converts the join to broadcast at runtime when the measured size
    allows, and degrades to shuffle when it doesn't.

    Representative order (milvus_client.py:331-349): priority desc, recency
    desc, then (conv_id, turn_idx) asc — encoded as a min(struct) by
    negating the numeric desc keys, so the whole bucket build is one hash
    aggregate (map-side combinable; no window sort)."""
    fp = cluster_fingerprint(F.col("message"), F.col("level"))
    priority = _level_priority(F.col("level"))
    aggs = {}
    if comp is None:
        df = deduped.withColumns({"fp_h": F.xxhash64(fp), "level_priority": priority})
        key, label = "fp_h", cluster_fingerprint(F.col("rep.message"), F.col("rep.level"))
    else:
        df = deduped.withColumns({"fingerprint": fp, "level_priority": priority})
        df, key, label = df.join(comp, "fingerprint"), "component", F.col("component")
        aggs["n_templates"] = F.size(F.collect_set("fingerprint")).cast("long")
    dup = F.col("duplicate_count")
    aggs |= {
        "n_unique": F.count(F.lit(1)),
        "total_log_count": F.sum(dup),
        "error_count": F.sum(F.when(F.col("is_error"), dup).otherwise(F.lit(0))),
        "warning_count": F.sum(F.when(F.col("is_warning"), dup).otherwise(F.lit(0))),
        # size(collect_set) == countDistinct (both ignore nulls) but stays a
        # SINGLE aggregation layer: countDistinct plans Spark's two-level
        # distinct rewrite — an extra Exchange + aggregate pass over the
        # deduped stream per bucket build (round 7; plan diff 2 Exchange ->
        # 1 for report_buckets). The set is bounded by the service domain;
        # n_templates above is the same single-layer distinct.
        "n_sources": F.size(F.collect_set("service")).cast("long"),
        "first_ts_ms": F.min("first_ts_ms"),
        "last_ts_ms": F.max("last_ts_ms"),
    }
    rep = F.struct(
        (-F.col("level_priority")).alias("neg_priority"),
        (-F.col("last_ts_ms")).alias("neg_last_ts"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("level"),
        F.col("message"),
    )
    g = df.groupBy(*extra_keys, key).agg(
        *(c.alias(name) for name, c in aggs.items()), F.min(rep).alias("rep")
    )
    return g.select(
        *extra_keys,
        label.alias("fingerprint"),
        *aggs,
        F.col("rep.level").alias("rep_level"),
        _truncate_message(F.col("rep.message")).alias("representative_message"),
    )


FUZZY_COSINE_THRESHOLD = 0.9  # template-similarity merge bar (DBSCAN eps analog)


def report_buckets_fuzzy(
    deduped: DataFrame,
    threshold: float = FUZZY_COSINE_THRESHOLD,
    max_iter: int = 20,
) -> DataFrame:
    """Near-miss cluster merging for the report path — the batch analog of
    the reference's DBSCAN eps=0.2 over message embeddings
    (ai-analyzer/analyzer/storage/milvus_client.py:166-264), which merges
    messages that are similar-but-not-identical. The exact path
    (:func:`report_buckets`) groups on the digit-collapsed fingerprint
    only; here, fingerprints whose TEMPLATE TEXT is token-cosine-similar
    (>= threshold) are merged via connected components, so two messages
    one word apart land in one cluster.

    Scale shape: the similarity graph is built over DISTINCT fingerprints
    (the cluster count, orders of magnitude below the row count) by the
    same all-pairs block products as doc_cosine_neardup
    (:func:`extras.similarity.cosine_pairs`): quadratic in the template
    count, in blocks of bounded memory. The resulting (fingerprint ->
    component) map is tiny and broadcast back onto the deduped frame; the
    bucket aggregation is then ONE hash-agg shuffle keyed by component,
    same as the exact path.

    Output schema = report_buckets plus n_templates (how many exact
    templates merged into the cluster); fingerprint carries the component
    label (the lexicographically-min member fingerprint).
    """
    from .extras.similarity import release, reliable_checkpoint

    # the dedup frame feeds BOTH the template graph and the final
    # aggregation; persist it so the upstream parse+dedup chain runs once,
    # and checkpoint the (tiny) output so the cache and the component map
    # are released before returning
    deduped = deduped.persist()
    comp = fuzzy_component_map(deduped, threshold, max_iter)
    out = reliable_checkpoint(report_buckets(deduped, comp))
    deduped.unpersist()
    release(comp)
    return out


def fuzzy_component_map(
    deduped: DataFrame,
    threshold: float = FUZZY_COSINE_THRESHOLD,
    max_iter: int = 20,
) -> DataFrame:
    """(fingerprint, component) map merging token-cosine-similar templates
    via connected components — the reusable half of
    :func:`report_buckets_fuzzy`. Built over DISTINCT fingerprints only;
    the returned frame is component-labeled by the lexicographically-min
    member fingerprint and is tiny (cluster count, not row count). The
    pipeline computes it once and applies it to both the dated and the
    global bucket aggregations, then frees its checkpoint (``release``).
    The distinct templates, the one deep input, are checkpointed: uncut,
    every connected-components round re-plans the dedup chain (BENCH.md,
    "Settings and lineage cuts, each measured")."""
    from .extras.similarity import (
        connected_components, cosine_pairs, release, reliable_checkpoint,
    )

    fp = cluster_fingerprint(F.col("message"), F.col("level"))
    fps = reliable_checkpoint(deduped.select(fp.alias("doc_id")).distinct())
    pairs = cosine_pairs(
        fps.withColumn("text", F.col("doc_id")), threshold
    ).select("doc_a", "doc_b")
    comp = connected_components(fps, pairs, max_iter)
    release(fps)
    return comp.select(F.col("doc_id").alias("fingerprint"), "component")


def _truncate_message(c, limit: int = dicts.REPORT_MESSAGE_LIMIT):
    """Message truncation for reports (generator.py:93-99)."""
    return F.when(
        F.length(c) > limit, F.concat(F.substring(c, 1, limit - 3), F.lit("..."))
    ).otherwise(c)


def score_clusters(buckets: DataFrame) -> DataFrame:
    """Rule-based severity rubric replacing the reference's LLM scorer.

    ``cluster_score`` is staged as a column: every bucket bound reads it,
    and an inlined copy would be re-evaluated per reference."""
    base = F.lit(dicts.DEFAULT_SCORE)
    for level, _, score in dicts.LEVEL_META:
        base = F.when(F.col("rep_level") == level, score).otherwise(base)
    score = F.least(
        F.lit(dicts.SCORE_MAX),
        base
        + F.when(F.col("total_log_count") >= dicts.FREQ_BONUS_THRESHOLD, 1).otherwise(0),
    )
    df = buckets.withColumn("cluster_score", score)
    bucket = F.lit(dicts.DEFAULT_SEVERITY)
    numeric = F.lit(dicts.DEFAULT_SEVERITY_NUMERIC)
    for lo, hi, name, num in dicts.SEVERITY_BUCKETS:
        cond = (F.col("cluster_score") >= lo) & (F.col("cluster_score") <= hi)
        bucket = F.when(cond, name).otherwise(bucket)
        numeric = F.when(cond, num).otherwise(numeric)
    return df.withColumns(
        {
            "cluster_severity": bucket,
            "severity_numeric": numeric,
            "actionable": bucket.isin(*dicts.ACTIONABLE_SEVERITIES),
        }
    )


def top_issue_order() -> list:
    """The cluster ranking of every top-N view: score desc, then volume
    desc, then fingerprint — a strict total order, so each cut is stable."""
    return [
        F.col("cluster_score").desc(),
        F.col("total_log_count").desc(),
        F.col("fingerprint"),
    ]


def top_issues(scored: DataFrame, n: int = dicts.TOP_ISSUES_N) -> DataFrame:
    """Top-N actionable clusters (W3) with deterministic tie-breaks.

    orderBy().limit(n) plans TakeOrderedAndProject — a parallel partial
    top-k per partition, merged on the driver — instead of a global
    no-partition window over the full cluster table (which would sort it in
    one task at 100x the cluster count; the source of the "No Partition
    Defined" warnings in round 1). Rank is then a row_number window over
    the <= n SURVIVORS only: one bounded single-partition sort of <= n
    rows, the same ROW_NUMBER definition the oracle uses. (Round 7: this
    replaces a broadcast count-of-strictly-smaller self-join + hash
    aggregate — equal output, since the sort keys are a strict total
    order, but three fewer plan stages and no broadcast build job.)
    """
    keys = top_issue_order()
    top = scored.filter(F.col("actionable")).orderBy(*keys).limit(n)
    return top.select(
        F.row_number().over(Window.orderBy(*keys)).alias("rank"),
        "fingerprint",
        "cluster_severity",
        "cluster_score",
        "total_log_count",
        "error_count",
        "representative_message",
    )


def run_summary(scored: DataFrame, group_keys: tuple[str, ...] = ()) -> DataFrame:
    """One-row run summary (engine.py:108-129, models/log.py:277-319) —
    or one row per group_keys (e.g. per analysis date).

    Computed entirely from the (tiny) scored-buckets frame — the cluster
    sums already carry the dedup-weighted totals, so the expensive dedup
    shuffle runs exactly once per pipeline, not once per report table.
    coalesce(0): an empty window yields a zero-row report, not nulls
    (the reference returns an explicit empty result — engine.py:88-102).
    """
    totals = scored.groupBy(*group_keys).agg(
        F.coalesce(F.sum("total_log_count"), F.lit(0)).alias("total_logs_processed"),
        F.coalesce(F.sum("error_count"), F.lit(0)).alias("error_count"),
        F.coalesce(F.sum("warning_count"), F.lit(0)).alias("warning_count"),
        F.count(F.lit(1)).alias("clusters_found"),
        F.coalesce(
            F.sum(F.when(F.col("actionable"), 1).otherwise(0)), F.lit(0)
        ).alias("actionable_count"),
    )
    total = F.nullif(F.col("total_logs_processed"), F.lit(0))
    return totals.withColumns(
        {
            "info_count": F.col("total_logs_processed")
            - F.col("error_count")
            - F.col("warning_count"),
            "error_rate": F.round(F.col("error_count") * 100.0 / total, 4),
            "warning_rate": F.round(F.col("warning_count") * 100.0 / total, 4),
            "top_issues_count": F.least(
                F.lit(dicts.TOP_ISSUES_N), F.col("actionable_count")
            ).cast("long"),
        }
    )
