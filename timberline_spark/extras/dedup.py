"""Deduplication families over the ``documents`` table.

Spark-first implementations of the near-dup toolbox a training-data pipeline
needs (the reference's online cosine-0.95 dedup —
``/root/reference/log-ingestor/internal/storage/milvus.go:354-409`` — is the
streaming ancestor of these batch operators):

- exact dedup: normalized-text hash groupBy (J2 batch semantics)
- n-gram Jaccard: prefix-filtered token-shingle index (each doc indexes
  only its rarest shingles, enough that no qualifying pair is missed) ->
  candidate pairs -> exact-Jaccard verify
- MinHash + LSH: hashed shingles -> K minhashes -> B bands -> bucket join ->
  candidate pairs -> exact-Jaccard verify
- SimHash: 32-bit sign-aggregated token hashes
- embedding-cosine near-dup: see extras.similarity

All hashing is the cross-engine polynomial arithmetic in
:mod:`timberline_spark.extras.xhash` (no crc32 — DuckDB can't compute it),
so every operator here has a DuckDB oracle executing the identical math.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import xhash as xh
from .textfns import _norm_text

SHINGLE_K = 3
MINHASH_PERMS = 16
LSH_BANDS = 4  # 4 bands x 4 rows
MINHASH_P = 1_073_741_789  # prime < 2^30: shingle hash (<2^30) * coeff stays < 2^63
COEFF_MOD = 1_073_741_789
JACCARD_THRESHOLD = 0.8
# Candidate-index cap and rare-K floor of the DuckDB oracle mirror
# (oracle_jaccard_pairs); the Spark side, doc_jaccard_pairs, is
# prefix-filtered and needs neither.
MAX_SHINGLE_DF = 100
RARE_SHINGLES_PER_DOC = 2
# Safety margin subtracted from the threshold where a float score or bound
# pre-filters what the verify keeps (here when sizing prefixes; in
# similarity.cosine_pairs it is the slack of the in-block filter ahead of
# Spark's rounding): the verify keeps round(score, 4) >= t, i.e. true score
# >= t - 0.00005, and the float arithmetic carries ~1e-15 noise; 1e-3
# covers both with orders of magnitude to spare.
_PREFIX_MARGIN = 1e-3


# deterministic per-permutation coefficients (Knuth-style multiplicative
# sequences — public-domain arithmetic, reproducible in SQL and plain Python)
def _perm_coeffs(j: int) -> tuple[int, int]:
    a = (2_654_435_761 * (j + 1) + 104_729) % COEFF_MOD
    b = (40_503 * (j + 1) + 7_919) % COEFF_MOD
    return (a | 1), b  # odd a


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition iff the frame's scan parallelism is below
    the session's core count.

    Heavy per-row chains (regex tokenize, shingle hashing, per-perm
    minhash) otherwise run on as few tasks as the source has row groups —
    a single small parquet file serializes ALL of it on one core (measured:
    the minhash docs chain alone took 150 s at sf0.1 on a 1-row-group
    file). The exchange is also a CollapseProject barrier: projections
    computed after it cannot be inlined back into the scan, so downstream
    multi-reference plans replay a cheap parallel scan instead of the
    expensive chain. On a many-file corpus (scan partitions >= cores) this
    is a NO-OP — the cluster-scale plan pays nothing.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _shingles(col):
    """Distinct K-token STRING shingles (used by the Jaccard family).

    The token array is let-bound (xhash.let): it is referenced three times
    per shingle position, and an unbound reference re-runs the regexp
    tokenize per element."""

    def _build(toks):
        n = F.size(toks)
        # guard: sequence(1, 0) would generate a DESCENDING range in Spark
        sh = F.when(n >= SHINGLE_K, F.transform(
            F.sequence(F.lit(1), n - (SHINGLE_K - 1)),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        )).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(sh)

    return xh.let(xh.tokens(col), _build)


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: groups + keeper + duplicate_count."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        df.withColumn("norm_text", _norm_text(F.col("text")))
        .groupBy("norm_text")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("duplicate_count"),
        )
        .select("keeper_doc_id", "duplicate_count")
    )


def _verify_pairs(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    the full shingle sets (works for string or hashed shingles)."""
    verified = (
        cand.join(
            sh.withColumnsRenamed({"doc_id": "doc_a", "sh": "sh_a", "n_sh": "n_a"}),
            "doc_a",
        )
        .join(
            sh.withColumnsRenamed({"doc_id": "doc_b", "sh": "sh_b", "n_sh": "n_b"}),
            "doc_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def doc_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Near-dup pairs by exact token-shingle Jaccard.

    Candidate generation is PREFIX FILTERING (Bayardo/Ma/Srikant, "Scaling
    Up All Pairs Similarity Search", WWW'07): order shingles globally by
    (document frequency, shingle), rarest first, and index only each doc's
    first n - ceil(t*n) + 1 shingles. J(a, b) >= t forces
    |a & b| >= ceil(t * max(n_a, n_b)), so two qualifying docs MUST share a
    prefix shingle — the prefix self-join is an equi-join on shingle that
    provably misses no pair (sized with threshold - _PREFIX_MARGIN to also
    cover the verify's 4-decimal rounding). Hot stop-phrase shingles sort
    last, so at the 0.8-0.9 operating thresholds a prefix is the doc's few
    rarest shingles. The Jaccard itself is computed exactly over the FULL
    shingle sets of each candidate.
    """
    from pyspark.sql import Window

    docs = (
        spread_for_compute(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        )
        .select("doc_id", _shingles(F.col("text")).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .filter(F.col("n_sh") > 0)
    )
    exploded = docs.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    dfreq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    t_eff = max(threshold - _PREFIX_MARGIN, 0.0)
    prefix = (
        exploded.join(dfreq, "shingle")
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "shingle")),
        )
        .filter(F.col("rk") <= F.col("n_sh") - F.ceil(F.col("n_sh") * t_eff) + 1)
        .select("doc_id", "shingle")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_pairs(cand, docs, threshold)


# The DuckDB oracles' candidate generator (oracle_jaccard_pairs and
# similarity.sql_cosine_pairs_ctes): df-capped index + minhash-any-band
# rescue. The Spark operators find the same pairs (Jaccard by prefix
# filtering, cosine by scoring every pair in block products); the
# Spark functions the docstrings below name no longer exist.
def sql_rescue_doc_ids(max_df: int, rare_k: int) -> str:
    """DuckDB mirror of rescue_doc_ids as a CTE body; requires the
    ``ranked(doc_id, <key>, df, rk)`` CTE from :func:`sql_capped_index` to
    be in scope."""
    return (
        f"SELECT doc_id FROM ranked WHERE df >= 2 GROUP BY doc_id"
        f" HAVING MAX(df) > {max_df}"
        f" AND SUM(CASE WHEN df <= {max_df} THEN 1 ELSE 0 END) <= {rare_k}"
    )


def sql_minhash_any_cand(hotsets_rel: str = "hotsets") -> str:
    """DuckDB mirror of minhash_any_pairs: CTE bodies ``hotmh`` + ``cand2``
    over ``{hotsets_rel}(doc_id, hs BIGINT[])``."""
    perm_selects = []
    for j in range(MINHASH_PERMS):
        a, b = _perm_coeffs(j)
        perm_selects.append(
            f"SELECT doc_id, {j} AS perm,"
            f" list_min(list_transform(hs, x -> (x * {a} + {b}) % {MINHASH_P}))"
            f" AS mh FROM {hotsets_rel}"
        )
    perms_sql = "\n  UNION ALL\n  ".join(perm_selects)
    return f"""hotmh AS (
  {perms_sql}
), cand2 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM hotmh a JOIN hotmh b
    ON a.perm = b.perm AND a.mh = b.mh AND a.doc_id < b.doc_id
)"""


def sql_capped_index(source: str, key: str, max_df: int, rare_k: int) -> str:
    """DuckDB mirror of capped_index: CTE body over `source(doc_id, {key})`."""
    return f"""dfreq AS (
  SELECT {key}, COUNT(*) AS df FROM {source} GROUP BY {key}
), ranked AS (
  SELECT s.doc_id, s.{key}, d.df,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id
           ORDER BY (d.df = 1), d.df, s.{key}) AS rk
  FROM {source} s JOIN dfreq d USING ({key})
), capped AS (
  SELECT doc_id, {key} FROM ranked WHERE df <= {max_df} OR rk <= {rare_k}
)"""


def _hashed_shingle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh: array<long>, n_sh) — distinct hashed shingles per doc."""
    return (
        spread_for_compute(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        )
        .select(
            "doc_id",
            xh.shingle_hashes(xh.token_hashes(F.col("text")), SHINGLE_K).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        .filter(F.col("n_sh") > 0)
    )


def _minhash_col(sh_col: Column) -> Column:
    """Array of MINHASH_PERMS min-hashes over a hashed-shingle array.

    Built as ONE transform over a literal (a, b)-coefficient array so the
    shingle expression appears exactly once in the tree: the earlier
    16-separate-array_min construction referenced it 16 times, and
    Catalyst re-evaluated the full upstream chain per reference (no CSE
    across HOF lambda boundaries) — measured 150 s vs ~2 s at sf0.1.
    """
    perms = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in (_perm_coeffs(j) for j in range(MINHASH_PERMS))
        ]
    )
    return F.transform(
        perms,
        lambda p: F.array_min(
            F.transform(sh_col, lambda x: (x * p["a"] + p["b"]) % F.lit(MINHASH_P))
        ),
    )


def doc_minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band-bucket join then exact-Jaccard verify.

    Candidates come from B band buckets (rows/band = K/B); each band join is
    an equi-join on the concatenated band hash — the classic LSH recipe, all
    JVM-side. Verified pairs carry the exact hashed-shingle Jaccard, which
    the DuckDB oracle recomputes with identical arithmetic.
    """
    docs = _hashed_shingle_docs(spark, sf_dir).withColumn(
        "minhash", _minhash_col(F.col("sh"))
    )
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    # single-reference bucket construction (see _minhash_col): minhash
    # appears once, inside one transform over the band indices
    buckets = F.transform(
        F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
        lambda bd: F.concat_ws(
            "_",
            F.transform(
                F.slice(F.col("minhash"), bd * rows_per_band + 1, rows_per_band),
                lambda m: m.cast("string"),
            ),
        ),
    )
    bands = docs.select(
        "doc_id", F.posexplode(buckets).alias("band", "bucket")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_pairs(cand, docs.select("doc_id", "sh", "n_sh"), threshold)


def with_simhash(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash",
    bits: int = 32
) -> DataFrame:
    """Append a SimHash column: per-token polynomial hash mixed to ``bits``
    bits, sign-aggregated per bit — pure JVM-side higher-order functions,
    no UDF, usable in batch AND streaming plans (pure projection).

    For each bit position, sum (+1 / -1) over token hashes (duplicates
    count); the sign forms the fingerprint bit.
    """
    # hashes is materialized as a COLUMN before the 32 per-bit aggregates:
    # inlining the expression instead re-runs tokenize+hash once per bit
    # (no CSE across HOF lambda boundaries) — measured 13.4 s vs 0.7 s for
    # identical output at sf0.1.
    cols = df.columns
    base = df.select(
        *cols,
        F.transform(xh.token_hashes(F.col(text_col)), xh.mix32).alias("_sh_hashes"),
    )

    def _vote_lambda(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    voted = base.select(
        *cols,
        *[
            F.aggregate(
                F.col("_sh_hashes"), F.lit(0).cast("long"), _vote_lambda(i)
            ).alias(f"_sh_v{i}")
            for i in range(bits)
        ],
    )
    simhash = None
    for i in range(bits):
        term = F.when(F.col(f"_sh_v{i}") > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return voted.select(*cols, simhash.alias(out_col))


def doc_simhash(spark: SparkSession, sf_dir: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint per document (see :func:`with_simhash`)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_simhash(df.select("doc_id", "text"), "text", "simhash", bits).select(
        "doc_id", "simhash"
    )


# ---- DuckDB oracles ---------------------------------------------------------


def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch dedup: NEW documents vs an EXISTING corpus
    snapshot — the batched form of the reference's per-insert dedup check
    against the growing collection (milvus.go:354-409). A new doc is
    dropped when its normalized text already exists in the corpus, and
    within the new batch only the min-doc_id keeper of each group stays.

    Snapshot stand-in: even doc_id = existing corpus, odd = new batch
    (deterministic split of the one synthetic table; production passes two
    real tables).

    Scale shape: both sides reduce to ``xxhash64(norm_text)`` — the corpus
    side ships ONLY 8-byte keys (distinct-aggregated, map-side
    combinable), the anti-join and the keeper window are hash equi-ops on
    that key; no document text is ever shuffled. A 64-bit collision drops
    a genuinely-new doc (conservative direction for dedup); the curation
    runner's second-hash audit pattern applies if that must be ruled out.
    """
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = df.select(
        "doc_id", "source", F.xxhash64(_norm_text(F.col("text"))).alias("h")
    )
    corpus_keys = base.filter(F.col("doc_id") % 2 == 0).select("h").distinct()
    new = base.filter(F.col("doc_id") % 2 == 1)
    from pyspark.sql import Window

    wk = Window.partitionBy("h")
    return (
        new.join(corpus_keys, "h", "left_anti")
        .withColumn("keeper_id", F.min("doc_id").over(wk))
        .filter(F.col("doc_id") == F.col("keeper_id"))
        .select("doc_id", "source")
    )


def oracle_incremental_dedup() -> str:
    """Text-keyed DuckDB twin (hash-free — agreement additionally rules
    out any Spark-side 64-bit collision at check scale)."""
    return """
WITH base AS (
  SELECT doc_id, source,
         regexp_replace(trim(lower(text)), '[ ]+', ' ', 'g') AS norm_text
  FROM documents
), corpus AS (
  SELECT DISTINCT norm_text FROM base WHERE doc_id % 2 = 0
), new_docs AS (
  SELECT * FROM base WHERE doc_id % 2 = 1
), fresh AS (
  SELECT n.* FROM new_docs n ANTI JOIN corpus c USING (norm_text)
)
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         MIN(doc_id) OVER (PARTITION BY norm_text) AS keeper_id
  FROM fresh
) t WHERE doc_id = keeper_id"""


def oracle_exact_dedup() -> str:
    return """
SELECT MIN(doc_id) AS keeper_doc_id, COUNT(*) AS duplicate_count
FROM (SELECT doc_id, regexp_replace(trim(lower(text)), '[ ]+', ' ', 'g') AS norm_text
      FROM documents) t
GROUP BY norm_text"""


_SQL_VERIFY = """
SELECT c.doc_a, c.doc_b,
       ROUND(len(list_intersect(a.sh, b.sh)) /
             CAST(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
             4) AS jaccard
FROM cand c
JOIN docs a ON a.doc_id = c.doc_a
JOIN docs b ON b.doc_id = c.doc_b
WHERE ROUND(len(list_intersect(a.sh, b.sh)) /
            CAST(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
            4) >= {threshold}"""


def oracle_jaccard_pairs(
    threshold: float = JACCARD_THRESHOLD, max_shingle_df: int = MAX_SHINGLE_DF
) -> str:
    return f"""
WITH sh0 AS (
  SELECT doc_id, list_distinct(list_transform(
      range(1, greatest(len(toks) - {SHINGLE_K - 2}, 1)),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM (SELECT doc_id, {xh.sql_tokens('text')} AS toks
        FROM documents)
), docs AS (
  SELECT doc_id, sh, len(sh) AS n_sh FROM sh0 WHERE len(sh) > 0
), e AS (
  SELECT doc_id, unnest(sh) AS shingle FROM docs
), {sql_capped_index("e", "shingle", max_shingle_df, RARE_SHINGLES_PER_DOC)}, hot AS (
  {sql_rescue_doc_ids(max_shingle_df, RARE_SHINGLES_PER_DOC)}
), hotsets AS (
  SELECT d.doc_id, list_transform(d.sh, s -> {xh.sql_char_hash('s')}) AS hs
  FROM docs d JOIN hot USING (doc_id)
), {sql_minhash_any_cand("hotsets")}, cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    UNION ALL
    SELECT doc_a, doc_b FROM cand2
  )
)""" + _SQL_VERIFY.format(threshold=threshold)


def _sql_hashed_docs() -> str:
    """CTE body producing docs(doc_id, sh BIGINT[], n_sh) — hashed shingles."""
    return f"""sh0 AS (
  SELECT doc_id, {xh.sql_shingle_hashes('hs', SHINGLE_K)} AS sh
  FROM (SELECT doc_id, {xh.sql_token_hashes('text')} AS hs FROM documents)
), docs AS (
  SELECT doc_id, sh, len(sh) AS n_sh FROM sh0 WHERE len(sh) > 0
)"""


def oracle_minhash_lsh_pairs(threshold: float = JACCARD_THRESHOLD) -> str:
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    mins = []
    for j in range(MINHASH_PERMS):
        a, b = _perm_coeffs(j)
        mins.append(
            f"list_min(list_transform(sh, x -> (x * {a} + {b}) % {MINHASH_P}))"
        )
    band_selects = []
    for band in range(LSH_BANDS):
        parts = " || '_' || ".join(
            f"CAST(minhash[{band * rows_per_band + r + 1}] AS VARCHAR)"
            for r in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {band} AS band, {parts} AS bucket FROM mh"
        )
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH {_sql_hashed_docs()}, mh AS (
  SELECT doc_id, [{", ".join(mins)}] AS minhash FROM docs
), bands AS (
  {bands_sql}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)""" + _SQL_VERIFY.format(threshold=threshold)


def sql_simhash_expr(hs_var: str = "hs", bits: int = 32) -> str:
    """DuckDB expression: the simhash of a list-of-mixed-hashes column
    ``hs_var`` — the SQL twin of :func:`with_simhash`'s vote fold."""
    terms = []
    for i in range(bits):
        terms.append(
            f"CASE WHEN COALESCE(list_sum(list_transform({hs_var},"
            f" h -> CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0"
            f" THEN CAST({2**i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def sql_mixed_token_hashes(text_expr: str) -> str:
    """DuckDB expression: list of mix32'd token hashes of ``text_expr``."""
    return (
        f"list_transform({xh.sql_token_hashes(text_expr)},"
        f" h -> {xh.sql_mix32('h')})"
    )


def oracle_simhash(bits: int = 32) -> str:
    return f"""
WITH h AS (
  SELECT doc_id, {sql_mixed_token_hashes('text')} AS hs
  FROM documents
)
SELECT doc_id, {sql_simhash_expr('hs', bits)} AS simhash FROM h"""
