"""Text analysis operators over the ``documents`` table.

All hot-path math is JVM-side (``pyspark.sql.functions`` — regexp, arrays,
higher-order functions); ratios are computed from integer counts so the
DuckDB oracle reproduces them bit-identically.

Operators:
- ``doc_text_stats``: token counts, quality ratios, language-ID and the
  token-shape fingerprint in one scan (one standalone oracle per group).
- ``doc_curated``, ``doc_quota_sample``, ``doc_quota_topn``,
  ``doc_token_mix``, ``doc_pack_sequences``, ``doc_vocab``,
  ``doc_tfidf_topterms``, ``doc_contamination``, ``doc_repetition``.

``curation.curate_docs`` composes the helpers below (doc-id hash, per-source
CASE, pack slot, curation gate) instead of copying them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import xhash as xh

BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"  # word / number / punct pieces
EN_STOPWORDS = (
    "the,a,of,and,to,in,is,it,that,was,for,on,are,as,with,at,by,an,be,this"
)
STOPWORD_RE = r"\b(" + "|".join(EN_STOPWORDS.split(",")) + r")\b"
PUNCT_RE = "[^a-z0-9 ]"
LANG_STOPWORD_MIN_RATIO = 0.03  # >=3% stopword tokens -> English

# rolling-hash constants (token-shape fingerprint): a cheap, deterministic,
# cross-engine polynomial over (token length, first char) per token.
FP_MULT = 31
FP_MOD = 1_000_000_007


def _doc_hash() -> Column:
    """The doc-id hash behind every per-document sample and shard decision
    (quota, top-N, token mix, packing, and the curation runner's)."""
    return xh.mix32(xh.char_hash(F.col("doc_id").cast("string")))


def _sql_doc_hash() -> str:
    """:func:`_doc_hash` as DuckDB SQL, for the oracles."""
    return xh.sql_mix32(xh.sql_char_hash("CAST(doc_id AS VARCHAR)"))


# The per-document signals doc_text_stats reports and every gate below
# (doc_curated and curation.curate_docs) takes: one definition each, so a
# gate cannot drift from the operator it composes.
def _n_stopwords(col) -> Column:
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(STOPWORD_RE), 0)).cast("long")


def _n_punct(col) -> Column:
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(PUNCT_RE), 0)).cast("long")


def _punct_ratio(col) -> Column:
    """Punctuation chars per char, rounded to 4 dp like the oracle's
    ``ROUND(…, 4)``: the value the punctuation gate compares."""
    return F.round(_n_punct(col) / F.nullif(F.length(col).cast("double"), F.lit(0.0)), 4)


def _is_en(n_tok: Column, n_stop: Column) -> Column:
    return (n_tok > 0) & (
        n_stop.cast("double") / n_tok.cast("double") >= LANG_STOPWORD_MIN_RATIO
    )


def _norm_text(col) -> Column:
    return F.regexp_replace(F.trim(F.lower(col)), "[ ]+", " ")


def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts + quality + lang-ID + fingerprint in ONE scan-only
    projection: the only Spark definition of these per-document signals.
    Its oracle joins one standalone oracle per column group, and tests
    check each group against its own. At 100 TB this is also simply the
    better plan — one scan computes all the signals, not four passes."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # toks staged as a named column: the mean-token-len and fingerprint
    # HOF folds below reference it repeatedly (HOF lambdas inline, not CSE)
    s1 = df.select(
        "doc_id", "lang", "text", xh.tokens(F.col("text")).alias("toks")
    )
    n_tok = F.size("toks").cast("long")
    n_stop = _n_stopwords(F.col("text"))
    n_punct = _n_punct(F.col("text"))
    total_tok_chars = F.aggregate(
        F.col("toks"), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    fp = F.aggregate(
        F.col("toks"),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FP_MULT + F.length(x) * 17 + F.ascii(x)) % FP_MOD,
    )
    lang_pred = F.when(_is_en(n_tok, n_stop), "en").otherwise("unknown")
    return s1.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws_tokens"),
        n_tok.alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0))
        .cast("long")
        .alias("n_bpe_pieces"),
        F.length("text").cast("long").alias("n_chars_actual"),
        n_stop.alias("n_stopwords"),
        n_punct.alias("n_punct"),
        F.round(n_stop / F.nullif(n_tok.cast("double"), F.lit(0.0)), 4).alias(
            "stopword_ratio"
        ),
        _punct_ratio(F.col("text")).alias("punct_ratio"),
        F.round(
            total_tok_chars / F.nullif(n_tok.cast("double"), F.lit(0.0)), 4
        ).alias("mean_token_len"),
        F.col("lang").alias("lang_label"),
        lang_pred.alias("lang_pred"),
        fp.alias("fingerprint"),
    )


def oracle_text_stats() -> str:
    """Join of the four standalone oracles on doc_id — semantics stay
    pinned to the individually-tested generators."""
    return f"""
SELECT t.doc_id, t.n_ws_tokens, t.n_tokens, t.n_bpe_pieces, t.n_chars_actual,
       q.n_stopwords, q.n_punct, q.stopword_ratio, q.punct_ratio,
       q.mean_token_len, l.lang_label, l.lang_pred, f.fingerprint
FROM ({oracle_token_counts()}) t
JOIN ({oracle_quality()}) q USING (doc_id)
JOIN ({oracle_lang_id()}) l USING (doc_id)
JOIN ({oracle_fingerprint()}) f USING (doc_id)"""


# curation thresholds (doc_curated): the standard pretraining-filter shape
CURATE_MIN_TOKENS = 5
CURATE_MAX_TOKENS = 5000
CURATE_MAX_PUNCT_RATIO = 0.2


def _curate_gate(is_en: Column, n_tokens: Column, punct_ratio: Column) -> Column:
    """The language / length / punctuation gate, one left-deep conjunction:
    ``doc_curated`` applies it (its keeper test ANDed in front of
    ``is_en``) and the curation runner ANDs its repetition screens onto
    it."""
    return (
        is_en
        & (n_tokens >= CURATE_MIN_TOKENS)
        & (n_tokens <= CURATE_MAX_TOKENS)
        & (punct_ratio <= CURATE_MAX_PUNCT_RATIO)
    )


def doc_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation filter: the composition a real
    corpus pipeline runs before tokenization — language (stopword
    heuristic) == en, token count in bounds, punctuation ratio bounded,
    and exact-dedup keeper only (doc_id == min doc_id of its
    normalized-text group). One scan + ONE window shuffle keyed on
    ``xxhash64(norm_text)`` (8 bytes/doc on the wire, not the KB-sized
    text; the DuckDB oracle groups on the text itself — same keepers
    absent a 64-bit collision, and the curation runner carries the
    collision sentinel for that). Every signal is shared with the
    standalone operators above so thresholds stay in one place."""
    from pyspark.sql import Window

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = xh.tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_stop = _n_stopwords(F.col("text"))
    scored = df.select(
        "doc_id",
        _norm_text(F.col("text")).alias("norm_text"),
        n_tok.alias("n_tokens"),
        _punct_ratio(F.col("text")).alias("punct_ratio"),
        _is_en(n_tok, n_stop).alias("is_en"),
    )
    wk = Window.partitionBy(F.xxhash64(F.col("norm_text")))
    return (
        scored.withColumn("keeper_id", F.min("doc_id").over(wk))
        .filter(
            # the keeper test leads the language operand: the filter stays
            # one left-deep conjunction, keeper first
            _curate_gate(
                (F.col("doc_id") == F.col("keeper_id")) & F.col("is_en"),
                F.col("n_tokens"),
                F.col("punct_ratio"),
            )
        )
        .select("doc_id", "n_tokens", "punct_ratio")
    )


def oracle_curated() -> str:
    return f"""
WITH scored AS (
  SELECT doc_id,
    regexp_replace(trim(lower(text)), '[ ]+', ' ', 'g') AS norm_text,
    CAST(len({xh.sql_tokens('text')}) AS BIGINT) AS n_tokens,
    ROUND(len({xh.sql_tokens('text', PUNCT_RE)})
      / NULLIF(CAST(length(text) AS DOUBLE), 0.0), 4) AS punct_ratio,
    (len({xh.sql_tokens('text')}) > 0 AND
     CAST(len({xh.sql_tokens('text', STOPWORD_RE)}) AS DOUBLE)
       / len({xh.sql_tokens('text')})
       >= {LANG_STOPWORD_MIN_RATIO}) AS is_en
  FROM documents
), keepers AS (
  SELECT norm_text, MIN(doc_id) AS keeper_id FROM scored GROUP BY norm_text
)
SELECT s.doc_id, s.n_tokens, s.punct_ratio
FROM scored s JOIN keepers k USING (norm_text)
WHERE s.doc_id = k.keeper_id AND s.is_en
  AND s.n_tokens BETWEEN {CURATE_MIN_TOKENS} AND {CURATE_MAX_TOKENS}
  AND s.punct_ratio <= {CURATE_MAX_PUNCT_RATIO}"""


# ---- stratified quota sampling (corpus balancing) ---------------------------
# The standard source-mixing step of a pretraining pipeline: downsample
# over-represented strata (e.g. common-crawl-ish sources) to target rates
# while keeping curated strata whole. Rates are deterministic per-document
# hash decisions, so the sample is reproducible, mergeable across runs, and
# requires NO shuffle — a pure scan+filter that composes with predicate
# pushdown (cf. the reference's fixed keep/sample router,
# log-ingestor/internal/processor/processor.go sampling — same decision
# shape, per-stratum instead of per-level).

QUOTA_DEFAULT_PCT = 30
QUOTA_OVERRIDES = {"src0": 100, "src1": 5}


def _per_source(values: dict[str, int], default: int) -> Column:
    """``values[source]``, else ``default``, as a literal CASE over the tiny
    per-source dict (quota rates, token-mix shares): never a join."""
    out = F.lit(int(default))
    for src, v in sorted(values.items()):
        out = F.when(F.col("source") == src, F.lit(int(v))).otherwise(out)
    return out


def _sql_per_source(values: dict[str, int], default: int) -> str:
    """DuckDB mirror of :func:`_per_source`."""
    whens = "".join(
        f"WHEN source = '{src}' THEN {int(v)} " for src, v in sorted(values.items())
    )
    return f"CASE {whens}ELSE {int(default)} END"


def doc_quota_sample(
    spark: SparkSession,
    sf_dir: str,
    default_pct: int = QUOTA_DEFAULT_PCT,
    overrides: dict[str, int] | None = None,
) -> DataFrame:
    """Deterministic per-stratum quota sampling over ``documents``.

    A document is kept iff ``_doc_hash() % 100 < rate(source)`` where rate
    is the stratum's quota percent (``overrides`` else ``default_pct``).
    The decision hashes the DOCUMENT ID, not the row position, so it is
    stable under repartitioning, incremental loads, and re-runs — two
    pipeline invocations at the same quotas keep exactly the same
    documents. Plan shape at 100 TB: scan + filter only (no shuffle,
    no window, no state); the rate lookup is a literal CASE over the tiny
    quota dict, never a join. For EXACT per-stratum counts (top-N by hash
    rank instead of a rate) use a row_number window partitioned by source
    over the same hash — documented, not registered, because the rate form
    is the one that stays shuffle-free at corpus scale.
    """
    ov = QUOTA_OVERRIDES if overrides is None else overrides
    rate = _per_source(ov, default_pct)
    bucket = _doc_hash() % 100
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        df.select(
            "doc_id",
            "source",
            bucket.cast("long").alias("sample_bucket"),
            rate.cast("long").alias("quota_pct"),
        )
        .filter(F.col("sample_bucket") < F.col("quota_pct"))
    )


def oracle_quota_sample(
    default_pct: int = QUOTA_DEFAULT_PCT,
    overrides: dict[str, int] | None = None,
) -> str:
    ov = QUOTA_OVERRIDES if overrides is None else overrides
    case = _sql_per_source(ov, default_pct)
    h = _sql_doc_hash()
    return f"""
SELECT doc_id, source, sample_bucket, quota_pct FROM (
  SELECT doc_id, source,
    CAST(({h}) % 100 AS BIGINT) AS sample_bucket,
    CAST({case} AS BIGINT) AS quota_pct
  FROM documents
) WHERE sample_bucket < quota_pct"""


# ---- exact per-stratum top-N sampling ---------------------------------------

QUOTA_TOPN_PER_SOURCE = 40


def doc_quota_topn(
    spark: SparkSession, sf_dir: str, n: int = QUOTA_TOPN_PER_SOURCE
) -> DataFrame:
    """EXACT per-stratum sample counts: the window twin of
    :func:`doc_quota_sample`.

    Ranks documents within each source by ``_doc_hash`` (ties broken by
    doc_id) and keeps the first ``n`` — so the sample is still
    reproducible and mergeable, but the per-stratum count is exactly
    ``min(n, |stratum|)`` instead of a binomial around a rate.

    Scale shape: ONE shuffle keyed by source plus a per-stratum sort — at
    100 TB a single giant stratum makes the sort the bottleneck, so prefer
    the rate form (shuffle-free) and use this only when exact counts are a
    hard requirement; a two-pass variant (approx hash-quantile pre-filter
    to ~n survivors per stratum, then exact rank on the survivors) keeps
    the sort bounded and is the documented scale path.
    """
    from pyspark.sql import Window

    h = _doc_hash()
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        df.select("doc_id", "source", h.cast("long").alias("hash_rank"))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= n)
        .select("doc_id", "source", "hash_rank", "sample_rank")
    )


def oracle_quota_topn(n: int = QUOTA_TOPN_PER_SOURCE) -> str:
    h = _sql_doc_hash()
    return f"""
SELECT doc_id, source, hash_rank, sample_rank FROM (
  SELECT doc_id, source, CAST(({h}) AS BIGINT) AS hash_rank,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY ({h}) ASC, doc_id ASC
    ) AS BIGINT) AS sample_rank
  FROM documents
) WHERE sample_rank <= {int(n)}"""


# ---- sequence packing (concat-and-chunk pretraining prep) -------------------

PACK_TOKEN_BUDGET = 256
# pack_id = shard * PACK_SHARD_STRIDE + local pack index. 2^40 local packs
# per shard keeps ids collision-free up to budget * 2^40 tokens per shard
# (~2.8e14 tokens at budget=256) — a 1e6 stride overflowed into the next
# shard's id space at ~256M tokens/shard, i.e. routinely at corpus scale.
PACK_SHARD_STRIDE = 1 << 40
# registered-query / oracle pin ONLY: doc_pack_sequences(shards=None) scales
# its shard count with the session's defaultParallelism (packing
# parallelism == shards; a constant default would hand a 1000-core cluster
# 8-way parallelism). The driver-checked query and the DuckDB oracle pin
# shards=PACK_SHARDS so the checked output is engine-independent.
PACK_SHARDS = 8


def _pack_slot(shard: Column, cum_before: Column, budget: int) -> tuple[Column, Column]:
    """``(pack_id, offset_in_pack)`` of a document whose first token lands
    ``cum_before`` tokens into its shard's concatenated stream."""
    return (
        shard * PACK_SHARD_STRIDE + F.floor(cum_before / budget),
        cum_before % budget,
    )


def doc_pack_sequences(
    spark: SparkSession,
    sf_dir: str,
    budget: int = PACK_TOKEN_BUDGET,
    shards: int | None = None,
) -> DataFrame:
    """Greedy contiguous sequence packing (GPT-style concat-and-chunk).

    Documents are sharded by ``_doc_hash() % shards``, ordered by
    doc_id within the shard, and concatenated; a document belongs to the
    pack in which its first token lands (``_pack_slot``:
    ``floor(cum_tokens_before / budget)``). Packs can therefore overflow by up to one document's
    tokens — the standard streaming-packer contract (strict bin packing is
    neither order-preserving nor one-pass).

    Scale shape: ONE shuffle keyed by shard + a per-shard sort by doc_id.
    Packing parallelism == ``shards``; at corpus scale pick shards ~ the
    cluster's core count so every shard's window fits one task, and pack
    ids stay globally unique via the shard prefix. Deterministic: same
    corpus + same (budget, shards) -> same packs on any cluster layout.
    """
    from pyspark.sql import Window

    if shards is None:
        shards = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    shard = (_doc_hash() % shards).cast("long")
    n_tok = F.size(xh.tokens(F.col("text"))).cast("long")
    base = df.select("doc_id", shard.alias("shard"), n_tok.alias("n_tokens"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    out = base.select(
        "doc_id",
        "shard",
        "n_tokens",
        cum_before.alias("cum_before"),
    )
    pack_id, offset = _pack_slot(F.col("shard"), F.col("cum_before"), budget)
    return out.select(
        "doc_id",
        "shard",
        "n_tokens",
        pack_id.alias("pack_id"),
        offset.alias("offset_in_pack"),
    )


def oracle_pack_sequences(
    budget: int = PACK_TOKEN_BUDGET, shards: int = PACK_SHARDS
) -> str:
    h = _sql_doc_hash()
    return f"""
WITH base AS (
  SELECT doc_id,
    CAST(({h}) % {int(shards)} AS BIGINT) AS shard,
    CAST(len({xh.sql_tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (
      PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS BIGINT) AS cum_before
  FROM base
)
SELECT doc_id, shard, n_tokens,
  shard * {PACK_SHARD_STRIDE} + CAST(FLOOR(cum_before / {int(budget)}) AS BIGINT) AS pack_id,
  cum_before % {int(budget)} AS offset_in_pack
FROM c"""


# ---- token-budget corpus mixing ----------------------------------------------
# A pretraining mix is specified in TOKEN shares per source ("50% web, 25%
# code, 25% books"), not document counts. Given target shares, derive
# deterministic per-source keep-rates from the actual per-source token
# totals so the sampled token mass approximates the target mix, then apply
# the same per-doc-id hash decision as doc_quota_sample.

TOKEN_MIX_TARGETS = {"src0": 0.5, "src1": 0.25, "src2": 0.25}
_PPM = 1_000_000


def doc_token_mix(
    spark: SparkSession,
    sf_dir: str,
    targets: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministic token-share corpus mixing.

    The achievable sampled-corpus size is limited by the most-constrained
    source: ``M = min_s floor(tokens_s * 1e6 / share_ppm_s)`` (the total
    token mass, scaled by 1e6, at which source s would be fully consumed).
    Source s then keeps ``rate_ppm_s = min(1e6, (share_ppm_s * M) DIV
    tokens_s)`` parts-per-million of its documents, decided by
    ``_doc_hash() % 1e6 < rate_ppm`` — the binding source
    keeps ~everything, over-represented sources are down-sampled to the
    target ratio. All arithmetic is integer (ppm + floor division), so
    Spark and DuckDB compute bit-identical rates; untargeted sources get
    rate 0. At ~100 TB ``share_ppm * M`` can exceed int64 — swap the two
    DIV steps to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); the structure
    is unchanged.

    Scale shape: ONE combinable hash-agg to per-source token totals (rows
    == #sources), a driver-free broadcast join of the tiny rate table back
    onto the scan, then filter. No corpus-wide shuffle; the decision is
    reproducible and mergeable across runs (the same ``_doc_hash`` as
    doc_quota_sample).
    """
    tg = TOKEN_MIX_TARGETS if targets is None else targets
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = df.select(
        "doc_id",
        "source",
        F.size(xh.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    share_ppm = _per_source({src: round(s * _PPM) for src, s in tg.items()}, 0)
    totals = (
        base.groupBy("source")
        .agg(F.sum("n_tokens").alias("src_tokens"))
        .withColumn("share_ppm", share_ppm.cast("long"))
    )
    # src_tokens > 0 guard: a targeted source with only zero-token docs
    # would otherwise drive M to 0 AND produce a NULL rate (x DIV 0) that
    # F.least skips — inverting the mix (everything real dropped, the
    # degenerate source kept). Zero-token sources contribute nothing to a
    # token mix; exclude them from both the bound and the rates.
    targeted = totals.filter((F.col("share_ppm") > 0) & (F.col("src_tokens") > 0))
    # int64 range: src_tokens * 1e6 (here) and share_ppm * m (below) both
    # overflow once a targeted source exceeds ~9.2e12 tokens. The session
    # runs ANSI mode (Spark 4 default; tests/test_extras.py pins it), so
    # the overflow RAISES instead of silently wrapping into wrong
    # keep-rates; DuckDB's BIGINT arithmetic errors likewise. Past that
    # bound, swap this block to DECIMAL(38,0) on both engines.
    m = targeted.select(
        F.min(F.expr(f"src_tokens * {_PPM} DIV share_ppm")).alias("m")
    )
    rates = (
        targeted.crossJoin(F.broadcast(m))
        .select(
            "source",
            F.least(
                F.lit(_PPM).cast("long"),
                F.expr("share_ppm * m DIV src_tokens"),
            ).alias("rate_ppm"),
        )
    )
    bucket = (_doc_hash() % _PPM).cast("long")
    return (
        base.join(F.broadcast(rates), "source")
        .withColumn("mix_bucket", bucket)
        .filter(F.col("mix_bucket") < F.col("rate_ppm"))
        .select("doc_id", "source", "n_tokens", "rate_ppm")
    )


def oracle_token_mix(targets: dict[str, float] | None = None) -> str:
    tg = TOKEN_MIX_TARGETS if targets is None else targets
    case = _sql_per_source({src: round(s * _PPM) for src, s in tg.items()}, 0)
    h = _sql_doc_hash()
    return f"""
WITH base AS (
  SELECT doc_id, source,
    CAST(len({xh.sql_tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
), totals AS (
  SELECT source, SUM(n_tokens) AS src_tokens,
         CAST({case} AS BIGINT) AS share_ppm
  FROM base GROUP BY source
), targeted AS (
  SELECT * FROM totals WHERE share_ppm > 0 AND src_tokens > 0
), m AS (
  SELECT MIN(src_tokens * {_PPM} // share_ppm) AS m FROM targeted
), rates AS (
  SELECT source,
         CAST(LEAST(CAST({_PPM} AS BIGINT), share_ppm * m.m // src_tokens)
              AS BIGINT) AS rate_ppm
  FROM targeted CROSS JOIN m
)
SELECT b.doc_id, b.source, b.n_tokens, r.rate_ppm
FROM base b JOIN rates r USING (source)
WHERE ({h}) % {_PPM} < r.rate_ppm"""


# ---- corpus vocabulary ------------------------------------------------------

VOCAB_TOP_K = 100


def doc_vocab(spark: SparkSession, sf_dir: str, top_k: int = VOCAB_TOP_K) -> DataFrame:
    """Corpus vocabulary: the ``top_k`` most frequent tokens with counts,
    document frequencies, and a deterministic rank — the seed step of
    building a tokenizer vocab / stopword list over a corpus.

    Scale shape: explode + ONE combinable hash-agg shuffle keyed by token
    (classic wordcount — per-token partial counts merge map-side), then a
    global top-k via TakeOrderedAndProject (no full sort, no window over
    the whole vocab). Ties are broken by token string so the rank is
    reproducible across engines and cluster layouts.
    """
    from pyspark.sql import Window

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = df.select("doc_id", F.explode(xh.tokens(F.col("text"))).alias("token"))
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    )
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(top_k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def oracle_vocab(top_k: int = VOCAB_TOP_K) -> str:
    return f"""
SELECT token, n_occurrences, n_docs,
  CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token ASC) AS BIGINT) AS rank
FROM (
  SELECT token,
    CAST(COUNT(*) AS BIGINT) AS n_occurrences,
    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM (
    SELECT doc_id, unnest({xh.sql_tokens('text')}) AS token
    FROM documents
  ) GROUP BY token
) ORDER BY n_occurrences DESC, token ASC LIMIT {int(top_k)}"""


# ---- characteristic terms (tf-idf) ------------------------------------------

TFIDF_TOP_TERMS = 3
TFIDF_SCALE = 1_000_000


def doc_tfidf_topterms(
    spark: SparkSession, sf_dir: str, top_n: int = TFIDF_TOP_TERMS
) -> DataFrame:
    """Per-document characteristic terms: top ``top_n`` tokens by a
    tf-idf-style score, ties broken by token string.

    The idf factor is the RATIONAL form ``tf * SCALE // df`` (integer
    division) rather than ``tf * ln(N/df)``: rank-equivalent for fixed N,
    but exact integer arithmetic — the DuckDB oracle reproduces it
    bit-identically, which a transcendental ln() cannot guarantee across
    libm implementations.

    Scale shape: explode -> per-(doc, token) count (hash-agg, map-side
    combinable) -> equi-join with the token document-frequency table
    (AQE broadcasts it when small; plain shuffle join when the vocabulary
    is corpus-sized) -> per-doc rank window (partitions on high-cardinality
    doc_id — parallel at any scale).
    """
    from pyspark.sql import Window

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = df.select("doc_id", F.explode(xh.tokens(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = toks.groupBy("token").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    scored = tf.join(dfreq, "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.floor(F.col("tf") * TFIDF_SCALE / F.col("df")).cast("long").alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= top_n)
        .select("doc_id", "token", "tf", "df", "score", "term_rank")
    )


def oracle_tfidf_topterms(top_n: int = TFIDF_TOP_TERMS) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({xh.sql_tokens('text')}) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY token
),
scored AS (
  SELECT doc_id, token, tf, df,
    CAST(FLOOR(tf * {TFIDF_SCALE} / df) AS BIGINT) AS score
  FROM tf JOIN dfreq USING (token)
)
SELECT doc_id, token, tf, df, score, term_rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, token ASC
  ) AS BIGINT) AS term_rank
  FROM scored
) WHERE term_rank <= {int(top_n)}"""


# ---- eval-set contamination screening ---------------------------------------
# Before training, a corpus is screened for verbatim overlap with held-out
# benchmark/eval text (decontamination). Probes are the eval strings; a
# document is contaminated if it shares any K-token shingle with a probe.
# The probe set is tiny (thousands of eval items) -> broadcast side of the
# join; the corpus side is the same exploded-shingle stream the dedup
# family already uses, so the screen composes with one scan.

CONTAMINATION_PROBES = (
    "connection pool exhausted for",
    "payment gateway timeout after",
    "slow query detected in the batch window",
)


def doc_contamination(
    spark: SparkSession,
    sf_dir: str,
    probes: tuple[str, ...] = CONTAMINATION_PROBES,
) -> DataFrame:
    """Documents sharing any token shingle (K = dedup.SHINGLE_K) with a
    probe string: (doc_id, probe_id, n_shared_shingles).

    Plan shape at 100 TB: corpus scan -> shingle explode -> BROADCAST
    hash join against the (tiny) probe-shingle set -> one combinable
    hash-agg on (doc_id, probe_id). No shuffle of corpus data beyond the
    aggregation; rows sharing no shingle never leave the scan stage.
    """
    from .dedup import _shingles

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_sh = df.select(
        "doc_id", F.explode(_shingles(F.col("text"))).alias("shingle")
    )
    probe_rows = [(i, p) for i, p in enumerate(probes)]
    probe_sh = (
        spark.createDataFrame(probe_rows, "probe_id long, probe_text string")
        .select(
            "probe_id", F.explode(_shingles(F.col("probe_text"))).alias("shingle")
        )
        .distinct()
    )
    return (
        doc_sh.join(F.broadcast(probe_sh), "shingle")
        .groupBy("doc_id", "probe_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_shingles"))
    )


def oracle_contamination(
    probes: tuple[str, ...] = CONTAMINATION_PROBES,
) -> str:
    probe_values = ", ".join(
        f"({i}, '" + p.replace("'", "''") + "')" for i, p in enumerate(probes)
    )
    # K = dedup.SHINGLE_K = 3, matching the Spark side's _shingles
    sh = (
        "list_distinct(CASE WHEN len(toks) >= 3 THEN"
        " list_transform(range(1, len(toks) - 1), i ->"
        " toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
        " ELSE []::VARCHAR[] END)"
    )
    return f"""
WITH probes(probe_id, probe_text) AS (VALUES {probe_values}),
dt AS (
  SELECT doc_id, {xh.sql_tokens('text')} AS toks
  FROM documents
),
ds AS (
  SELECT doc_id, unnest({sh}) AS shingle FROM dt
),
pt AS (
  SELECT probe_id, {xh.sql_tokens('probe_text')} AS toks
  FROM probes
),
ps AS (
  SELECT DISTINCT probe_id, unnest({sh}) AS shingle FROM pt
)
SELECT ds.doc_id, CAST(ps.probe_id AS BIGINT) AS probe_id,
  CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
FROM ds JOIN ps USING (shingle)
GROUP BY ds.doc_id, ps.probe_id"""


# ---- repetition signals (Gopher-style quality filters) ----------------------
# Repetitious documents (boilerplate, scraped templates, degenerate
# generations) are a standard pretraining removal target (Rae et al. 2021,
# "Scaling Language Models" §A1.1 repetition filters). Two signals, both
# computed per-row JVM-side with higher-order functions — NO shuffle, NO
# explode: at 100 TB an explode-to-bigrams + groupBy would shuffle the full
# token stream, while the sorted-array max-run formulation keeps the work
# embarrassingly parallel inside the scan stage.


def sorted_bigrams(toks_col) -> Column:
    """Sorted array of space-joined 2-grams (empty array below 2 tokens).

    Pass the RESULT through a staged select (name it as a column) before
    referencing it more than once — see the doc_repetition note."""
    return (
        F.when(
            F.size(toks_col) >= 2,
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks_col) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(toks_col, i),
                        F.element_at(toks_col, i + 1),
                    ),
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )


def max_equal_run(srt_col) -> Column:
    """Longest equal-run in a SORTED array == the modal element's count,
    as one per-row fold (no explode, no shuffle)."""
    zero = F.lit(0).cast("long")
    return F.aggregate(
        srt_col,
        F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            ).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals.

    - ``dup_token_frac``: 1 - distinct/total tokens (token-level
      repetitiousness).
    - ``top_bigram_frac``: share of all 2-grams taken by the most frequent
      2-gram. Computed as the longest equal-run in the SORTED bigram array
      (equivalent to the modal count) so the whole signal stays a per-row
      expression.
    """
    # Staged projections matter enormously here: naming toks/srt as columns
    # makes later references cheap ATTRIBUTE reads. Inlining them instead
    # re-evaluates the whole tokenize→bigram→sort chain at EVERY reference
    # (Catalyst does not CSE across when()/HOF lambda boundaries) — measured
    # 16.9 s vs 0.5 s for identical output at sf0.1.
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s1 = df.select("doc_id", xh.tokens(F.col("text")).alias("toks"))
    s2 = s1.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_uniq"),
        sorted_bigrams(F.col("toks")).alias("srt"),
    )
    top_cnt = max_equal_run(F.col("srt"))
    s3 = s2.select(
        "doc_id",
        "n_tokens",
        "n_uniq",
        F.size("srt").cast("long").alias("n_bigrams"),
        top_cnt.alias("top_bigram_count"),
    )
    return s3.select(
        "doc_id",
        "n_tokens",
        "n_bigrams",
        "top_bigram_count",
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                (F.col("n_tokens") - F.col("n_uniq")) / F.col("n_tokens"), 4
            ),
        ).alias("dup_token_frac"),
        F.when(
            F.col("n_bigrams") > 0,
            F.round(F.col("top_bigram_count") / F.col("n_bigrams"), 4),
        ).alias("top_bigram_frac"),
    )


def oracle_repetition() -> str:
    # The oracle uses the plain relational formulation (explode + two
    # GROUP BYs) — deliberately a DIFFERENT algorithm from the Spark
    # sorted-run expression, so agreement checks the semantics, not the
    # implementation.
    return f"""
WITH t AS (
  SELECT doc_id, {xh.sql_tokens('text')} AS toks
  FROM documents
),
g AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
  FROM t, UNNEST(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
),
c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
m AS (SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS n_bg FROM c GROUP BY 1)
SELECT t.doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(COALESCE(m.n_bg, 0) AS BIGINT) AS n_bigrams,
  CAST(COALESCE(m.top_cnt, 0) AS BIGINT) AS top_bigram_count,
  CASE WHEN len(toks) > 0 THEN
    ROUND((len(toks) - len(list_distinct(toks))) / CAST(len(toks) AS DOUBLE), 4)
  END AS dup_token_frac,
  CASE WHEN COALESCE(m.n_bg, 0) > 0 THEN
    ROUND(m.top_cnt / CAST(m.n_bg AS DOUBLE), 4)
  END AS top_bigram_frac
FROM t LEFT JOIN m USING (doc_id)"""


# ---- matching DuckDB oracle SQL ---------------------------------------------


def oracle_token_counts() -> str:
    return f"""
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
  CAST(len({xh.sql_tokens('text')}) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS n_bpe_pieces,
  CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents"""


def oracle_quality() -> str:
    return f"""
WITH c AS (
  SELECT doc_id, text,
    CAST(len({xh.sql_tokens('text')}) AS BIGINT) AS n_tokens,
    CAST(len({xh.sql_tokens('text', STOPWORD_RE)}) AS BIGINT) AS n_stopwords,
    CAST(len({xh.sql_tokens('text', PUNCT_RE)}) AS BIGINT) AS n_punct,
    CAST(list_sum(list_transform({xh.sql_tokens('text')},
        t -> length(t))) AS BIGINT) AS tok_chars
  FROM documents
)
SELECT doc_id, n_tokens, n_stopwords, n_punct,
  ROUND(n_stopwords / NULLIF(CAST(n_tokens AS DOUBLE), 0.0), 4) AS stopword_ratio,
  ROUND(n_punct / NULLIF(CAST(length(text) AS DOUBLE), 0.0), 4) AS punct_ratio,
  ROUND(tok_chars / NULLIF(CAST(n_tokens AS DOUBLE), 0.0), 4) AS mean_token_len
FROM c"""


def oracle_lang_id() -> str:
    return f"""
WITH c AS (
  SELECT doc_id, lang,
    CAST(len({xh.sql_tokens('text')}) AS BIGINT) AS n_tokens,
    CAST(len({xh.sql_tokens('text', STOPWORD_RE)}) AS BIGINT) AS n_stopwords
  FROM documents
)
SELECT doc_id, lang AS lang_label,
  CASE WHEN n_tokens > 0
        AND CAST(n_stopwords AS DOUBLE) / n_tokens >= {LANG_STOPWORD_MIN_RATIO}
       THEN 'en' ELSE 'unknown' END AS lang_pred
FROM c"""


def oracle_fingerprint() -> str:
    return f"""
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform({xh.sql_tokens('text')},
                     t -> CAST(length(t) * 17 + ascii(t) AS BIGINT))),
    (acc, x) -> (acc * {FP_MULT} + x) % {FP_MOD}) AS fingerprint
FROM documents"""
