"""Corpus curation runner: the document operators composed into one job.

The training-data extras (`extras/textfns.py`, `extras/dedup.py`) exist as
independently oracled queries; this module chains them the way a pretraining
data pipeline actually runs them — one pass per stage, every stage a
building block that is already driver-oracle-checked on its own:

    documents
      -> quality/lang/repetition signals        (scan-only projections)
      -> curation gate                          (filter)
      -> exact-dedup keepers                    (hash-agg + join keyed on
                                                 xxhash64(norm text), with
                                                 a collision-audit hash)
      -> stratified quota sample                (hash filter, shuffle-free)
      -> greedy sequence packing                (one shuffle by shard)
      -> curated_docs parquet + metrics JSON

Scale shape: two wide shuffles total (keeper window on the 8-byte norm
hash, packing window by shard); everything else rides the scan. Per-stage row counts
are collected from ONE count aggregate over a frame that tags each
document with how far it survived — no per-stage count jobs (each would
re-run the chain; the reference's per-stage Prometheus counters,
log-ingestor/internal/handlers/stream.go:108-158, are the model).

Run: ``python -m timberline_spark.curation --sf-dir ... --out ... --run-id r1``
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregate import audit_hash
from .extras.textfns import (
    PACK_TOKEN_BUDGET,
    QUOTA_DEFAULT_PCT,
    QUOTA_OVERRIDES,
    _curate_gate,
    _doc_hash,
    _is_en,
    _n_stopwords,
    _norm_text,
    _pack_slot,
    _per_source,
    _punct_ratio,
    max_equal_run,
    sorted_bigrams,
)
from .extras.xhash import tokens
from .pipeline import _publish_json

# repetition gates (Gopher-style; loose defaults that only drop degenerate
# boilerplate, not ordinary prose)
CURATE_MAX_DUP_TOKEN_FRAC = 0.95
CURATE_MAX_TOP_BIGRAM_FRAC = 0.90


def curate_docs(
    spark: SparkSession,
    sf_dir: str,
    default_pct: int = QUOTA_DEFAULT_PCT,
    overrides: dict[str, int] | None = None,
    budget: int = PACK_TOKEN_BUDGET,
    shards: int | None = None,
) -> DataFrame:
    """One frame per input document, tagged with its curation fate.

    Columns: doc_id, source, n_tokens, plus the booleans pass_quality,
    is_keeper, pass_quota — a doc survives when all three hold — and
    key_collision (dedup hash audit, see below). Survivors additionally
    carry shard/pack_id/offset_in_pack (null otherwise). The single tagged
    frame is what lets the runner report per-stage counts from one
    aggregate instead of one job per stage.

    ``shards`` defaults to ``sparkContext.defaultParallelism`` (packing
    parallelism == shards, so a naive caller gets cluster-sized packing,
    not a sandbox constant); pass it explicitly for cross-layout
    reproducible pack ids and read the chosen value back from the
    runner's ``n_shards`` metric.

    Scale shape — exactly TWO corpus-wide shuffles, no joins:

    1. Keeper selection is a window over ``xxhash64(norm_text)`` — 8 bytes
       per doc on the wire instead of the full normalized text (KB-sized
       for training corpora; the log pipeline measured −34% shuffle bytes
       from the same change, BENCH.md "Dedup shuffle-byte cut"), and
       ``min(doc_id) OVER (PARTITION BY norm_h)`` replaces the previous
       groupBy+join-back (which shuffled the frame twice and re-computed
       the tokenize chain for the second join side — measured 3.8x the
       runner cost at 100k docs, BENCH.md round 6).
    2. Packing is a conditional cumulative sum over the UNCONDITIONAL
       doc-id hash shard (every doc, survivor or not, hashes to a shard, so
       no NULL-shard skew partition; non-survivors contribute null -> 0 to
       the running token sum), which makes pack assignment identical to
       packing the survivors alone while needing no join-back.

    A 64-bit key collision would merge two distinct documents under one
    keeper, so each window partition carries the same independent
    second-hash sentinel as aggregate.dedup_turns: ``key_collision`` is
    true for every member of a group whose members disagree under
    ``aggregate.audit_hash(norm_text)``, and the runner surfaces the sum.
    The exact-text keeper reference is the DuckDB oracle of ``doc_curated``.

    The quality gate is ``doc_curated``'s ``_curate_gate`` with the two
    repetition screens ANDed on; the quota rate, doc-id hash and pack slot
    are the standalone operators' helpers too, so no signal is a copy.
    """
    from pyspark.sql import Window

    if shards is None:
        shards = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s1 = df.select("doc_id", "source", "text", tokens(F.col("text")).alias("toks"))
    # bigrams staged as a named column BEFORE max_equal_run references it
    # (HOF lambdas inline, not CSE, repeated exprs — see doc_repetition)
    s1b = s1.select("doc_id", "source", "text", "toks",
                    sorted_bigrams(F.col("toks")).alias("bigrams"))
    n_tok = F.size("toks").cast("long")
    norm = _norm_text(F.col("text"))
    dup_frac = F.when(
        n_tok > 0,
        (n_tok - F.size(F.array_distinct("toks")).cast("long")) / n_tok,
    )
    top_bigram_frac = F.when(
        F.size("bigrams") > 0,
        max_equal_run(F.col("bigrams")) / F.size("bigrams").cast("double"),
    )
    scored = s1b.select(
        "doc_id",
        "source",
        n_tok.alias("n_tokens"),
        F.xxhash64(norm).alias("norm_h"),
        audit_hash(norm).alias("norm_h2"),
        (
            _curate_gate(
                _is_en(n_tok, _n_stopwords(F.col("text"))),
                n_tok,
                _punct_ratio(F.col("text")),
            )
            & (F.coalesce(dup_frac <= CURATE_MAX_DUP_TOKEN_FRAC, F.lit(False)))
            # Gopher-style modal-bigram screen: drops degenerate boilerplate
            # where one 2-gram dominates; <2-token docs have no bigrams and
            # pass this screen (the min-token gate already rejects them)
            & (
                F.coalesce(
                    top_bigram_frac <= CURATE_MAX_TOP_BIGRAM_FRAC, F.lit(True)
                )
            )
        ).alias("pass_quality"),
    )
    # wide shuffle 1: keeper + collision audit via ONE window on the 8-byte
    # key (no join-back, no second evaluation of the tokenize chain)
    wk = Window.partitionBy("norm_h")
    tagged = scored.select(
        "doc_id",
        "source",
        "n_tokens",
        "pass_quality",
        (F.col("doc_id") == F.min("doc_id").over(wk)).alias("is_keeper"),
        (F.min("norm_h2").over(wk) != F.max("norm_h2").over(wk)).alias(
            "key_collision"
        ),
    )
    ov = QUOTA_OVERRIDES if overrides is None else overrides
    rate = _per_source(ov, default_pct)
    # the quota bucket (% 100) and the pack shard (% shards) share one mixed
    # hash of doc_id: stage it as a single named column so it is evaluated
    # once per row by construction (not left to codegen CSE)
    tagged = tagged.withColumn("_mixed_hash", _doc_hash())
    tagged = tagged.withColumn("pass_quota", F.col("_mixed_hash") % 100 < rate)
    survives = F.col("pass_quality") & F.col("is_keeper") & F.col("pass_quota")
    tagged = tagged.withColumn("survives", survives)

    # wide shuffle 2: packing via a conditional running sum over the
    # UNCONDITIONAL hash shard (non-survivors sum as null -> 0, so a
    # survivor's cum_before equals the survivors-only computation exactly;
    # see doc_pack_sequences for the standalone operator)
    tagged = tagged.withColumn(
        "shard", (F.col("_mixed_hash") % shards).cast("long")
    ).drop("_mixed_hash")
    wp = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(F.when(F.col("survives"), F.col("n_tokens"))).over(wp), F.lit(0)
    ).cast("long")
    pack_id, offset = _pack_slot(F.col("shard"), cum_before, budget)
    return tagged.select(
        "doc_id",
        "source",
        "n_tokens",
        "pass_quality",
        "is_keeper",
        "key_collision",
        "pass_quota",
        "survives",
        F.when(F.col("survives"), F.col("shard")).alias("shard"),
        F.when(F.col("survives"), pack_id).alias("pack_id"),
        F.when(F.col("survives"), offset).alias("offset_in_pack"),
    )


def run_curation(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    run_id: str,
    **kwargs,
) -> dict:
    t0 = time.time()
    # resolve the shard count HERE so the metrics record the value actually
    # used (determinism contract: same corpus + same recorded n_shards ->
    # same packs on any cluster layout)
    if kwargs.get("shards") is None:
        kwargs["shards"] = spark.sparkContext.defaultParallelism
    n_shards = int(kwargs["shards"])
    tagged = curate_docs(spark, sf_dir, **kwargs)
    # Funnel metrics ride the WRITE job via observe(): a separate metrics
    # aggregate would re-run the whole tokenize/dedup/pack chain (measured
    # ~2x the runner's wall time at 100k docs) — observed metrics are
    # collected by the same tasks that write the survivors, the exact
    # one-pass-counters shape of the reference's per-stage Prometheus
    # counters (log-ingestor/internal/handlers/stream.go:108-158).
    from pyspark.sql import Observation

    ob = Observation(f"curation_{run_id}")
    observed = tagged.observe(
        ob,
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(F.col("pass_quality"), 1).otherwise(0)).alias("n_quality"),
        F.sum(
            F.when(F.col("pass_quality") & F.col("is_keeper"), 1).otherwise(0)
        ).alias("n_deduped"),
        F.sum(F.when(F.col("survives"), 1).otherwise(0)).alias("n_curated"),
        F.sum(F.when(F.col("survives"), F.col("n_tokens")).otherwise(0)).alias(
            "n_tokens_curated"
        ),
        F.sum(F.when(F.col("key_collision"), 1).otherwise(0)).alias(
            "n_key_collisions"
        ),
    )
    (
        observed.filter("survives")
        .select(
            "doc_id", "source", "n_tokens", "shard", "pack_id", "offset_in_pack"
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/curated_docs")
    )
    obs = ob.get
    # n_packs needs an exact distinct (observe() forbids count_distinct);
    # counting it over the WRITTEN survivors reads one small column of the
    # output parquet instead of re-running the chain
    n_packs = (
        spark.read.parquet(f"{out_dir}/curated_docs")
        .agg(F.count_distinct("pack_id").alias("n"))
        .collect()[0]["n"]
    )
    metrics = {
        "run_id": run_id,
        # `or 0`: F.sum over an empty corpus observes NULL, not 0
        "n_input": int(obs["n_input"] or 0),
        "n_pass_quality": int(obs["n_quality"] or 0),
        "n_after_dedup": int(obs["n_deduped"] or 0),
        "n_curated": int(obs["n_curated"] or 0),
        "n_tokens_curated": int(obs["n_tokens_curated"] or 0),
        "n_packs": int(n_packs or 0),
        "n_shards": n_shards,
        "n_key_collisions": int(obs["n_key_collisions"] or 0),
        "elapsed_sec": round(time.time() - t0, 3),
    }
    _publish_json(f"{out_dir}/curation_{run_id}.json", metrics)
    return metrics


def main(argv=None):
    from .session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--quota-default-pct", type=int, default=QUOTA_DEFAULT_PCT)
    ap.add_argument("--pack-budget", type=int, default=PACK_TOKEN_BUDGET)
    ap.add_argument(
        "--pack-shards", type=int, default=None,
        help="packing shard count (default: the session's defaultParallelism)",
    )
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)
    spark = get_spark("timberline_curation", cores=args.cores)
    metrics = run_curation(
        spark,
        args.sf_dir,
        args.out,
        args.run_id,
        default_pct=args.quota_default_pct,
        budget=args.pack_budget,
        shards=args.pack_shards,
    )
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
