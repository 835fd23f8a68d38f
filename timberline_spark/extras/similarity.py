"""Similarity search over the ``embeddings`` table and text near-dup cosine.

The reference's ANN path (HNSW cosine top-100 per insert,
``/root/reference/log-ingestor/internal/storage/milvus.go:205-271``) maps to:

- ``emb_knn_brute``: exact cosine top-k — broadcast the (small) query set,
  one scan over the corpus, per-query window top-k. The correctness
  baseline; oracle-checked against DuckDB.
- ``emb_knn_lsh``: random-hyperplane LSH buckets (deterministic arithmetic
  hyperplanes, no rand()) -> candidate join -> exact rescore. The scale
  path: bucket join instead of all-pairs.
- ``emb_knn_ivf``: deterministic k-means cells -> probe the nearest cells
  -> exact rescore.
- ``cosine_pairs``: hashed-token text -> vector projection (the surrogate for
  the reference's embedding service,
  ``log-ingestor/internal/embedding/service.go:72-159``) scored pair by pair
  in dense block products, one grouped-map pandas UDF per block pair.

Constant matrices (hyperplanes, centroids, seeds) enter the plan through
:func:`_lit_doubles`, one JVM call each; building them with one ``F.lit``
per number costs a py4j round trip per number.

Scores are computed in double and rounded to 4 decimals before ranking so
Spark and DuckDB rank identically; ties break on vec_id.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _PREFIX_MARGIN

EMBED_DIM = 64
LSH_TABLES = 8  # banded hyperplane LSH: union of candidates across tables
BITS_PER_TABLE = 5
N_PLANES = LSH_TABLES * BITS_PER_TABLE


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    return F.round(dot / F.nullif(na * nb, F.lit(0.0)), 4)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best-scored neighbors per query, ranked 1..k (ties on
    neighbor_id) — the tail every kNN operator shares."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def emb_knn_brute(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus scan, window top-k."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(F.col("q_emb"), F.col("embedding")).alias("score"),
        )
    )
    return _top_k(scored, k)


def oracle_knn_brute(k: int = 5, n_queries: int = 10) -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
  FROM embeddings WHERE vec_id < {n_queries}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    ROUND(list_dot_product(q.q_emb, e.embedding::DOUBLE[]) /
      NULLIF(sqrt(list_dot_product(q.q_emb, q.q_emb)) *
             sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 0.0),
      4) AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= {k}"""


def _hyperplanes(dim: int = EMBED_DIM, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (arithmetic hash, no rand())."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            v = ((j * 1_000_003 + i) * 2_654_435_761) % 4_294_967_296
            row.append(v / 4_294_967_296.0 - 0.5)
        planes.append(row)
    return planes


def _lit_doubles(values: list[list[float]]) -> Column:
    """A literal ``array<array<double>>`` built with ONE JVM call: the matrix
    travels as a JSON string and Catalyst constant-folds the ``from_json``,
    so the optimized plan holds a plain literal. ``json.dumps`` writes each
    float's shortest round-trip repr, so the parsed doubles are bit-identical
    to ``values``. One ``F.lit`` per element costs a py4j round trip each
    (2,560 for the hyperplanes: ~1.7 s of plan building per call)."""
    return F.from_json(
        F.lit(json.dumps(values)), "array<array<double>>", {"mode": "FAILFAST"}
    )


def _lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id int64, tbl int32, bucket string): one row per vector and
    table — banded hyperplane LSH over the :func:`_hyperplanes`.

    The N_PLANES sign bits are computed ONCE per row, in their own
    projection, as one ``transform`` over a single hyperplane-matrix
    literal. Each dot product is the ordered left fold
    ``acc + cast(x AS double) * y`` from 0.0 that :func:`oracle_knn_lsh`
    mirrors, so the bits match DuckDB exactly. The LSH_TABLES buckets are
    then exploded as BITS_PER_TABLE-character substrings of that bit
    string. Deriving a bucket from the bit EXPRESSION instead of the
    projected column (inside a per-table lambda, or after the explode)
    re-runs every dot product once per table."""
    bits = F.transform(
        _lit_doubles(_hyperplanes()),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(F.col("embedding"), p, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return (
        emb.select("vec_id", F.concat_ws("", bits).alias("bits"))
        .select(
            "vec_id",
            "bits",
            F.explode(F.sequence(F.lit(0), F.lit(LSH_TABLES - 1))).alias("tbl"),
        )
        .select(
            "vec_id",
            "tbl",
            F.col("bits")
            .substr(F.col("tbl") * BITS_PER_TABLE + 1, F.lit(BITS_PER_TABLE))
            .alias("bucket"),
        )
    )


def emb_knn_lsh(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """LSH-bucketed ANN: hyperplane sign bucket equi-join, exact rescore.

    Buckets come from :func:`_lsh_buckets`. A pair is a candidate if ANY
    table's bucket matches, which trades one shuffle per table for recall
    (the standard hyperplane-LSH banding).

    At corpus scale the bucket join shuffles only (vec_id, bucket) pairs —
    never the embedding vectors: candidate ids are deduplicated on
    (query_id, neighbor_id) FIRST, and the vectors join back afterwards
    (one row per candidate pair instead of one per shared bucket). Queries
    are broadcast. Recall < 1.0 by construction (single probe) — the test
    measures it against the brute-force baseline.
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    buckets = _lsh_buckets(emb)
    q_buckets = buckets.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
    )
    cand_ids = (
        buckets.join(
            F.broadcast(q_buckets),
            (F.col("tbl") == F.col("q_tbl")) & (F.col("bucket") == F.col("q_bucket")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q_vecs = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        cand_ids.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .join(F.broadcast(q_vecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("q_emb"), F.col("embedding")).alias("score"),
        )
    )
    return _top_k(scored, k)


def oracle_knn_lsh(k: int = 5, n_queries: int = 10) -> str:
    """DuckDB oracle re-running the identical LSH pipeline: the hyperplanes
    are emitted as literal DOUBLE[] rows, bucket bits from the sign of the
    same ordered dot products, then the same dedup -> exact rescore -> rank."""
    rows = []
    planes = _hyperplanes()
    for t in range(LSH_TABLES):
        for r in range(BITS_PER_TABLE):
            vec = ", ".join(repr(v) for v in planes[t * BITS_PER_TABLE + r])
            rows.append(f"({t}, {r}, [{vec}]::DOUBLE[])")
    values = ",\n    ".join(rows)
    return f"""
WITH planes(tbl, bit, plane) AS (
  SELECT * FROM (VALUES
    {values}) v(tbl, bit, plane)
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), bits AS (
  SELECT e.vec_id, p.tbl, p.bit,
         CASE WHEN list_dot_product(e.emb, p.plane) >= 0 THEN '1' ELSE '0' END AS b
  FROM e CROSS JOIN planes p
), buckets AS (
  SELECT vec_id, tbl, string_agg(b, '' ORDER BY bit) AS bucket
  FROM bits GROUP BY vec_id, tbl
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets c JOIN buckets q ON c.tbl = q.tbl AND c.bucket = q.bucket
  WHERE q.vec_id < {n_queries} AND c.vec_id <> q.vec_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
    ROUND(list_dot_product(eq.emb, en.emb) /
      NULLIF(sqrt(list_dot_product(eq.emb, eq.emb)) *
             sqrt(list_dot_product(en.emb, en.emb)), 0.0), 4) AS score
  FROM cand
  JOIN e en ON en.vec_id = cand.neighbor_id
  JOIN e eq ON eq.vec_id = cand.query_id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= {k}"""


def emb_centroid_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: representative-by-centroid (milvus_client.py:297-329) — per label
    cluster, the vector nearest the mean embedding.

    All JVM-side: posexplode -> per-dimension mean -> reassemble centroid ->
    broadcast join -> cosine -> top-1 per cluster. At corpus scale the
    per-dimension mean is a combinable hash aggregate on (label, pos)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pos = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    centroid = (
        pos.groupBy("label", "pos")
        .agg(F.avg("v").alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda x: x["cv"]
            ).alias("centroid")
        )
    )
    scored = emb.join(F.broadcast(centroid), "label").select(
        "label",
        "vec_id",
        _cosine(F.col("embedding"), F.col("centroid")).alias("cos_to_centroid"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cos_to_centroid").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", F.col("vec_id").alias("rep_vec_id"), "cos_to_centroid")
    )


def oracle_centroid_rep() -> str:
    """DuckDB oracle for A7: zipped unnest gives (pos, v), AVG per (label,
    pos) builds the centroid, ordered list() reassembles it."""
    return """
WITH e AS (
  SELECT label, vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), pos AS (
  SELECT label, unnest(emb) AS v, unnest(range(1, len(emb)+1)) AS pos FROM e
), cent AS (
  SELECT label, list(cv ORDER BY pos) AS centroid FROM (
    SELECT label, pos, AVG(v) AS cv FROM pos GROUP BY label, pos
  ) GROUP BY label
), scored AS (
  SELECT e.label, e.vec_id,
    ROUND(list_dot_product(e.emb, c.centroid) /
      NULLIF(sqrt(list_dot_product(e.emb, e.emb)) *
             sqrt(list_dot_product(c.centroid, c.centroid)), 0.0),
      4) AS cos_to_centroid
  FROM e JOIN cent c USING (label)
)
SELECT label, vec_id AS rep_vec_id, cos_to_centroid FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
      ORDER BY cos_to_centroid DESC, vec_id) AS rn
  FROM scored
) t WHERE rn = 1"""


# ---- IVF ANN: deterministic k-means coarse quantizer + cell probe -----------
# The second scale path next to hyperplane LSH (emb_knn_lsh): partition the
# corpus into K cells with a SEEDLESS, fixed-iteration k-means (init = the K
# lowest vec_ids; every distance and centroid coordinate rounded so Spark
# and DuckDB compute bit-identical assignments), then answer a query by
# probing only the IVF_NPROBE nearest cells and exact-rescoring candidates.
# At corpus scale the probe join is an equi-join on cluster id over ~nprobe/K
# of the corpus instead of a full scan.

KMEANS_K = 8
KMEANS_ITERS = 3
IVF_NPROBE = 2


def _l2_sq_to_lit(emb_col, centroid: Column) -> Column:
    """Rounded squared L2 distance to a literal centroid (one row of a
    :func:`_lit_doubles` matrix) — an ordered left fold, mirrored exactly by
    the DuckDB list_reduce in the oracle."""
    return F.round(
        F.aggregate(
            F.zip_with(
                emb_col,
                centroid,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _nearest_cells(emb_col, centroids: list[list[float]], n: int) -> Column:
    """Array of the n nearest centroid indices (ties -> lower index)."""
    entries = F.transform(
        _lit_doubles(centroids),
        lambda c, j: F.struct(_l2_sq_to_lit(emb_col, c).alias("d"), j.alias("j")),
    )
    ordered = F.slice(F.array_sort(entries), 1, n)
    return F.transform(ordered, lambda s: s["j"])


def kmeans_centroids(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> list[list[float]]:
    """Fixed-iteration Lloyd's k-means over the embeddings table, fully
    deterministic: seed centroids = the k lowest vec_ids present
    (coordinates rounded to 6 dp), `iters` rounds of (assign -> per-dim
    mean, rounded to 6 dp), empty cells keep their previous centroid. Centroids pass through the
    driver each round (k x dim doubles — exactly how MLlib's k-means
    broadcasts centroids); all per-row math is JVM-side.

    The 6-dp rounding at every assign/update step is what makes the DuckDB
    oracle bit-identical: the only cross-engine FP hazard left is the
    row-order of the AVG reduction, ~1e-15 relative — far inside the
    rounding guard."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rounded = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double"), 6)
    )
    # init = the k LOWEST vec_ids PRESENT, labeled by rank position — not
    # `vec_id < k`, which crashes on tables with < k rows and silently
    # diverges from the oracle when low ids are non-contiguous
    seeds = (
        emb.orderBy("vec_id").limit(k).select("vec_id", rounded.alias("c")).collect()
    )
    centroids = [list(r.c) for r in sorted(seeds, key=lambda r: r.vec_id)]
    if not centroids:
        raise ValueError("kmeans_centroids: embeddings table is empty")
    k = len(centroids)  # k_eff <= requested k when the table is small
    for _ in range(iters):
        # NOTE: the cluster assignment and the posexplode generator must be
        # in SEPARATE selects — resolving a generator alongside the
        # array_sort(array(struct(...))) HOF strips the struct field names
        # (FIELD_NOT_FOUND on `j`), a Spark 4 analyzer quirk
        assigned = emb.select(
            F.element_at(
                _nearest_cells(F.col("embedding"), centroids, 1), 1
            ).alias("cluster"),
            "embedding",
        ).select("cluster", F.posexplode("embedding").alias("pos", "v"))
        rows = (
            assigned.groupBy("cluster", "pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.cv
        centroids = [
            [by_cluster[j][p] for p in range(len(centroids[j]))]
            if j in by_cluster
            else centroids[j]  # empty cell: keep previous centroid
            for j in range(k)
        ]
    return centroids


def emb_kmeans(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """(vec_id, cluster): assignment under the final k-means centroids."""
    centroids = kmeans_centroids(spark, sf_dir, k, iters)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        "vec_id",
        F.element_at(_nearest_cells(F.col("embedding"), centroids, 1), 1).alias(
            "cluster"
        ),
    )


def emb_knn_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 10,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF ANN top-k: probe the nprobe nearest k-means cells per query,
    exact-cosine rescore the cell members, rank. Recall < 1.0 by
    construction (bounded probes) — measured against emb_knn_brute in
    tests. Same output schema as the other knn operators."""
    centroids = kmeans_centroids(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned = emb.select(
        "vec_id",
        "embedding",
        F.element_at(_nearest_cells(F.col("embedding"), centroids, 1), 1).alias(
            "cluster"
        ),
    )
    probes = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(  # two selects: generator + struct-HOF quirk, see kmeans
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _nearest_cells(F.col("embedding"), centroids, nprobe).alias("cells"),
        )
        .select("query_id", "q_emb", F.explode("cells").alias("cluster"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(F.col("q_emb"), F.col("embedding")).alias("score"),
        )
    )
    return _top_k(scored, k)


def _sql_l2(e: str, c: str, dim: int = EMBED_DIM) -> str:
    """DuckDB rounded squared-L2 — the same ordered left fold as
    :func:`_l2_sq_to_lit`."""
    return (
        f"round(list_reduce(list_prepend(CAST(0 AS DOUBLE),"
        f" list_transform(range(1, {dim + 1}),"
        f" i -> ({e}[i] - {c}[i]) * ({e}[i] - {c}[i]))),"
        f" (acc, x) -> acc + x), 6)"
    )


def _sql_kmeans_ctes(
    k: int = KMEANS_K, iters: int = KMEANS_ITERS, dim: int = EMBED_DIM
) -> str:
    """CTE chain: e, c0, (a1, m1, c1) .. unrolled to c{iters} — mirrors
    kmeans_centroids exactly (same init, rounding, empty-cell carry)."""
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        # the k lowest PRESENT ids, labeled by rank position (mirror of the
        # Spark init — robust to < k rows and non-contiguous ids)
        f"c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j,"
        f" list_transform(emb, x -> round(x, 6)) AS c"
        f" FROM e QUALIFY j < {k})",
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, emb, j AS cluster FROM (
    SELECT e.vec_id, e.emb, c.j,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_l2("e.emb", "c.c", dim)}, c.j) AS rn
    FROM e CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""m{i} AS (
  SELECT cluster, list(cv ORDER BY pos) AS c FROM (
    SELECT cluster, pos, round(AVG(v), 6) AS cv FROM (
      SELECT cluster, unnest(emb) AS v, unnest(range(1, {dim + 1})) AS pos
      FROM a{i}
    ) GROUP BY cluster, pos
  ) GROUP BY cluster
)"""
        )
        parts.append(
            f"c{i} AS (SELECT {prev}.j, COALESCE(m{i}.c, {prev}.c) AS c"
            f" FROM {prev} LEFT JOIN m{i} ON m{i}.cluster = {prev}.j)"
        )
    return ",\n".join(parts)


def oracle_kmeans(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    return f"""
WITH {_sql_kmeans_ctes(k, iters)},
afinal AS (
  SELECT vec_id, j AS cluster FROM (
    SELECT e.vec_id, c.j,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_l2("e.emb", "c.c")}, c.j) AS rn
    FROM e CROSS JOIN c{iters} c
  ) WHERE rn = 1
)
SELECT vec_id, cluster FROM afinal"""


def oracle_knn_ivf(
    k: int = 5,
    n_queries: int = 10,
    nprobe: int = IVF_NPROBE,
    kk: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> str:
    return f"""
WITH {_sql_kmeans_ctes(kk, iters)},
afinal AS (
  SELECT vec_id, emb, j AS cluster FROM (
    SELECT e.vec_id, e.emb, c.j,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_l2("e.emb", "c.c")}, c.j) AS rn
    FROM e CROSS JOIN c{iters} c
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, emb AS q_emb, j AS cluster FROM (
    SELECT e.vec_id, e.emb, c.j,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_l2("e.emb", "c.c")}, c.j) AS rn
    FROM e CROSS JOIN c{iters} c
    WHERE e.vec_id < {n_queries}
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
    ROUND(list_dot_product(p.q_emb, a.emb) /
      NULLIF(sqrt(list_dot_product(p.q_emb, p.q_emb)) *
             sqrt(list_dot_product(a.emb, a.emb)), 0.0), 4) AS score
  FROM probes p JOIN afinal a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= {k}"""


# ---- folded registry views ---------------------------------------------------
# The driver checks at most 50 registered queries per round; the ANN and
# clustering diagnostics are folded into composed queries (discriminator
# column + NULL-padded union) so each distinct operator keeps a
# driver-checked row while the standalone functions stay the library API.


def emb_knn_ann(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """Both ANN paths (hyperplane LSH + IVF) in one frame, tagged by
    ``method`` — same per-method rows as emb_knn_lsh / emb_knn_ivf."""
    lsh = emb_knn_lsh(spark, sf_dir, k, n_queries).select(
        F.lit("lsh").alias("method"), "query_id", "neighbor_id", "rank", "score"
    )
    ivf = emb_knn_ivf(spark, sf_dir, k, n_queries).select(
        F.lit("ivf").alias("method"), "query_id", "neighbor_id", "rank", "score"
    )
    return lsh.unionByName(ivf)


def oracle_knn_ann(k: int = 5, n_queries: int = 10) -> str:
    return f"""
SELECT 'lsh' AS method, query_id, neighbor_id, rank, score
FROM ({oracle_knn_lsh(k, n_queries)}) lsh_q
UNION ALL
SELECT 'ivf' AS method, query_id, neighbor_id, rank, score
FROM ({oracle_knn_ivf(k, n_queries)}) ivf_q"""


def emb_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means assignments + per-label centroid representatives in one
    frame, tagged by ``kind`` — same rows as emb_kmeans / emb_centroid_rep."""
    km = emb_kmeans(spark, sf_dir).select(
        F.lit("kmeans").alias("kind"),
        F.lit(None).cast("string").alias("label"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster").cast("long").alias("cluster"),
        F.lit(None).cast("double").alias("cos_to_centroid"),
    )
    rep = emb_centroid_rep(spark, sf_dir).select(
        F.lit("centroid_rep").alias("kind"),
        # label is int in the synthetic table; the folded view pins string
        # so both union branches and both engines agree exactly
        F.col("label").cast("string").alias("label"),
        F.col("rep_vec_id").cast("long").alias("vec_id"),
        F.lit(None).cast("long").alias("cluster"),
        "cos_to_centroid",
    )
    return km.unionByName(rep)


def oracle_cluster() -> str:
    return f"""
SELECT 'kmeans' AS kind, CAST(NULL AS VARCHAR) AS label,
       CAST(vec_id AS BIGINT) AS vec_id, CAST(cluster AS BIGINT) AS cluster,
       CAST(NULL AS DOUBLE) AS cos_to_centroid
FROM ({oracle_kmeans()}) km_q
UNION ALL
SELECT 'centroid_rep' AS kind, CAST(label AS VARCHAR) AS label,
       CAST(rep_vec_id AS BIGINT) AS vec_id,
       CAST(NULL AS BIGINT) AS cluster, cos_to_centroid
FROM ({oracle_centroid_rep()}) rep_q"""


DOC_COSINE_DIM = 1024  # hashed token dimensions of the cosine vectors
# Candidate-index cap of the DuckDB oracle mirror (sql_cosine_pairs_ctes):
# dims hotter than MAX_COSINE_DIM_DF are dropped from the oracle's candidate
# join, each doc keeps its RARE_DIMS_PER_DOC least-frequent shared (df>=2)
# dims, and a minhash-any-band rescue pairs near-identical all-hot docs
# (extras.dedup.sql_capped_index / sql_rescue_doc_ids). The Spark side,
# cosine_pairs, scores every pair in block products; the two agree on
# every oracle-checked corpus (tests/test_extras.py).
MAX_COSINE_DIM_DF = 100
RARE_DIMS_PER_DOC = 2
# Docs per side of one block product: a 2048 x DOC_COSINE_DIM float64 side
# is 16 MB.
_COSINE_BLOCK = 2048


def cosine_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """Token-cosine near-dup pairs over ANY (doc_id, text) frame —
    (doc_a, doc_b, cosine), doc_a < doc_b, cosine rounded to 4 decimals and
    >= threshold. doc_id may be any orderable type (long doc ids,
    fingerprint strings, ...) and is expected to be unique.

    Each doc is a token-count vector over DOC_COSINE_DIM hashed dimensions
    (``xhash.token_hashes`` mod the dim), L2-normalized; docs with no
    tokens have no vector and pair with nothing. Every pair is scored: the
    docs are split into ``ceil(n / _COSINE_BLOCK)`` blocks by
    ``pmod(xxhash64(doc_id), nb)``, each doc is routed to every block pair
    ``(least(b, j), greatest(b, j))`` its block ``b`` is part of, and one
    grouped-map task per block pair takes the dense product ``A @ B.T`` and
    emits the pairs within ``_PREFIX_MARGIN`` of the threshold. That is
    O(n^2 * d) work in blocks of bounded memory: at ~23 nonzero dims per
    doc a corpus saturates the 1,024 dims, and a join on shared dims
    emitted most of the n^2 pairs as candidates anyway (10.3M of 12.5M at
    sf0.1), so the dense product does the same pairs with less machinery.

    The weights are ``cnt / sqrt(sum(cnt^2))`` in float64, the oracle's
    arithmetic. The final ``round(dot, 4) >= threshold`` runs in Spark, not
    numpy: numpy rounds the binary value half-even, Spark rounds the
    decimal form HALF_UP, and only Spark's matches the oracle.
    """
    from . import xhash as xh
    from .dedup import spread_for_compute

    nb = max(math.ceil(docs.count() / _COSINE_BLOCK), 1)
    t_eff = threshold - _PREFIX_MARGIN

    def side(part: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        """(ids, L2-normalized count rows) of one block's docs."""
        th = part["th"].to_numpy()
        row = np.repeat(np.arange(len(th)), [len(a) for a in th])
        # np.concatenate needs at least one array; an empty side has none
        dim = np.concatenate(th) % DOC_COSINE_DIM if len(th) else row
        cnt = np.bincount(
            row * DOC_COSINE_DIM + dim, minlength=len(th) * DOC_COSINE_DIM
        ).reshape(len(th), DOC_COSINE_DIM)
        nrm = np.sqrt((cnt * cnt).sum(axis=1))
        return part["doc_id"].to_numpy(), cnt / nrm[:, None]

    def block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = key
        pdf = pdf[pdf["th"].map(lambda th: th is not None and len(th) > 0)]
        ids_a, a = side(pdf[pdf["blk"] == lo])
        ids_b, b = side(pdf[pdf["blk"] == hi])
        dot = a @ b.T
        i, j = np.nonzero(dot >= t_eff)
        if lo == hi:  # a block against itself: each pair once
            keep = i < j
            i, j = i[keep], j[keep]
        x, y = ids_a[i], ids_b[j]
        first = x < y
        return pd.DataFrame({
            "doc_a": np.where(first, x, y),
            "doc_b": np.where(first, y, x),
            "dot": dot[i, j],
        })[x != y]

    blk = F.pmod(F.xxhash64("doc_id"), F.lit(nb))
    routed = (
        spread_for_compute(docs)
        .select(
            "doc_id", blk.alias("blk"), xh.token_hashes(F.col("text")).alias("th")
        )
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(nb - 1))))
        .select(
            F.least("blk", "j").alias("lo"),
            F.greatest("blk", "j").alias("hi"),
            "blk", "doc_id", "th",
        )
    )
    id_type = docs.schema["doc_id"].dataType
    schema = T.StructType([
        T.StructField("doc_a", id_type),
        T.StructField("doc_b", id_type),
        T.StructField("dot", T.DoubleType()),
    ])
    return (
        routed.groupBy("lo", "hi")
        .applyInPandas(block_pair, schema)
        .select("doc_a", "doc_b", F.round("dot", 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def doc_cosine_neardup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-dup over the documents table (reference
    milvus.go:354-409 batch equivalence) — see :func:`cosine_pairs`."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return cosine_pairs(docs, threshold)


def reliable_checkpoint(frame: DataFrame) -> DataFrame:
    """Eager lineage truncation with cluster-appropriate durability.

    ``localCheckpoint`` stores blocks UNREPLICATED on executors: on a real
    cluster, losing an executor (failure, dynamic allocation scale-down)
    makes the truncated frame unrecoverable (ADVICE round 4). When the
    session has a checkpoint dir configured
    (``spark.sparkContext.setCheckpointDir(...)`` — on a real deployment a
    durable FS path), use the RELIABLE checkpoint instead; fall back to
    localCheckpoint in local mode where executor loss means the app is
    gone anyway."""
    sc = frame.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return frame.checkpoint(eager=True)
    return frame.localCheckpoint(eager=True)


def release(frame: DataFrame) -> None:
    """Free ``frame``'s cache, or the checkpoint it reads through projections
    (``DataFrame.unpersist`` leaves a localCheckpoint's blocks in place)."""
    frame.unpersist()
    plan = frame._jdf.queryExecution().logical()
    while plan.nodeName() == "Project":
        plan = plan.child()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def connected_components(
    ids: DataFrame, pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components over an undirected pair graph: ``ids(doc_id)``
    (every node, isolated ones included) + ``pairs(doc_a, doc_b)`` ->
    (doc_id, component) labeled by the component's minimum id. Works for
    any orderable id type (longs, fingerprint strings).

    Min-label propagation WITH pointer jumping: every node starts labeled
    with its own id; each round (a) replaces a node's label with the
    minimum label in its closed neighborhood (one equi-join + one
    combinable groupBy), then (b) shortcuts label(x) <- label(label(x)) (a
    second equi-join on the label table itself). The shortcut step halves
    the remaining propagation distance each round, so even a pathological
    chain converges in O(log diameter) rounds, not O(diameter). Every
    round the label frame is checkpointed
    (:func:`reliable_checkpoint`: durable when a checkpoint dir is set,
    localCheckpoint in local mode) so the plan depth stays bounded
    regardless of round count; the previous round's checkpoint is released
    once the new one is materialized. Convergence is detected EXACTLY: one
    equi-join of the new vs old label frames (both materialized) counting
    changed labels — zero changes is the fixpoint (min-label is monotone).
    The loop runs on the driver but touches only that one scalar per round
    — no per-row driver data.

    If max_iter is exhausted before the fixpoint, the labels returned are
    an UPPER approximation (some components not yet merged) and a
    RuntimeWarning is raised. The returned DataFrame reads the last
    round's checkpoint, not ``ids`` or ``pairs``; :func:`release` frees it.
    """
    import warnings

    # Symmetric edges + self-loops (keeps isolated docs and own labels).
    # Round 7: (a) the symmetric expansion is ONE pass over `pairs` via
    # explode — the old two-branch union executed the whole upstream pair
    # computation twice when materializing the cache; (b) edges are
    # hash-partitioned by `dst` BEFORE the persist, so every round's
    # propagate join reuses that partitioning and only the (changing)
    # label table shuffles (guide §2.4: two operations keyed the same way
    # share one exchange).
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = (
        sym.union(ids.select(F.col("doc_id").alias("src"), F.col("doc_id").alias("dst")))
        .repartition(F.col("dst"))
        .persist()
    )
    labels = ids.select("doc_id", F.col("doc_id").alias("component"))

    converged = False
    for i in range(max_iter):
        # The self-loop row (src == dst) carries each node's CURRENT label
        # through the join, so the round's aggregate also yields `prev` —
        # the convergence test then reads the checkpointed frame instead of
        # paying a separate two-frame equi-join per round. prop is
        # persisted (not eagerly) because the pointer-jump step self-joins
        # it; the one materializing action fills the cache for both sides.
        prop = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy(F.col("src").alias("doc_id"))
            .agg(
                F.min("component").alias("component"),
                F.min(
                    F.when(F.col("dst") == F.col("src"), F.col("component"))
                ).alias("prev"),
            )
            .persist()
        )
        # pointer jump: a label is itself a doc_id, and prop has a row for
        # every doc (self-loops guarantee it), so label(label(x)) is an
        # inner equi-join; the looked-up label is <= by monotonicity
        jump = prop.select(
            F.col("doc_id").alias("c_id"), F.col("component").alias("c_comp")
        )
        new_labels = prop.join(jump, prop["component"] == jump["c_id"]).select(
            "doc_id", F.col("c_comp").alias("component"), "prev"
        )
        # truncate lineage EVERY round: the pointer-jump step self-joins
        # the label frame, so the logical plan doubles per round — caching
        # keeps the DATA hot but Catalyst still re-analyzes the full tree
        # each round (measured: 4.9s -> 11.4s -> 27.2s per-round planning
        # on a 54-node graph at sf0.01). An eager checkpoint costs ~0.2s
        # and keeps every round O(1) plan size.
        ckpt = reliable_checkpoint(new_labels)
        prop.unpersist()
        # exact convergence (ADVICE round 4 — replaces a probabilistic
        # checksum pair): zero changed labels = fixpoint (min-label is
        # monotone, so labels change iff the assignment changed). `prev`
        # was captured in the round's own aggregate, so this is a bare
        # filter-count over the just-materialized frame.
        n_changed = ckpt.filter(F.col("component") != F.col("prev")).count()
        if i:  # from round 1 on, labels reads the last round's checkpoint
            release(labels)
        labels = ckpt.select("doc_id", "component")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components: no fixpoint after {max_iter} rounds; "
            "labels are an upper approximation (raise max_iter)",
            RuntimeWarning,
            stacklevel=2,
        )
    edges.unpersist()
    return labels


def doc_neardup_components(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.99,
    max_iter: int = 20,
) -> DataFrame:
    """Near-duplicate GROUPS over the documents table: connected components
    of the cosine near-dup pair graph, labeled by the component's minimum
    doc_id — what a real dedup pipeline emits (keep one doc per component).
    See :func:`connected_components` for the algorithm and its contract."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    pairs = doc_cosine_neardup(spark, sf_dir, threshold).select("doc_a", "doc_b")
    return connected_components(docs, pairs, max_iter)


def oracle_neardup_components(threshold: float = 0.99) -> str:
    """DuckDB oracle: recursive-CTE transitive closure, min reachable id.
    Exact for the test corpus sizes; the Spark side is the scale path."""
    pairs = oracle_cosine_neardup(threshold)
    return f"""
WITH RECURSIVE pairs AS ({pairs}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(doc_id, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.doc_id
)
SELECT doc_id, MIN(lab) AS component FROM reach GROUP BY doc_id"""


def sql_cosine_pairs_ctes(
    source: str, threshold: float, max_dim_df: int = MAX_COSINE_DIM_DF
) -> str:
    """DuckDB CTE chain (``th AS (...), ..., cosp AS (...)``) mirroring
    :func:`cosine_pairs` over ``source(doc_id, text)`` — embed inside a
    WITH clause and select from ``cosp(doc_a, doc_b, cosine)``."""
    from . import xhash as xh
    from .dedup import (
        sql_capped_index,
        sql_minhash_any_cand,
        sql_rescue_doc_ids,
    )

    return f"""th AS (
  SELECT doc_id, unnest({xh.sql_token_hashes('text')}) % {DOC_COSINE_DIM} AS dim
  FROM {source}
), tf AS (
  SELECT doc_id, dim, COUNT(*) AS cnt FROM th GROUP BY doc_id, dim
), nrm AS (
  SELECT doc_id, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS nrm FROM tf GROUP BY doc_id
), w AS (
  SELECT tf.doc_id, tf.dim, tf.cnt / nrm.nrm AS w
  FROM tf JOIN nrm USING (doc_id)
), wd AS (
  SELECT doc_id, dim FROM w
), {sql_capped_index("wd", "dim", max_dim_df, RARE_DIMS_PER_DOC)}, hot AS (
  {sql_rescue_doc_ids(max_dim_df, RARE_DIMS_PER_DOC)}
), hotsets AS (
  SELECT doc_id, list(dim) AS hs
  FROM wd JOIN hot USING (doc_id) GROUP BY doc_id
), {sql_minhash_any_cand("hotsets")}, cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b ON a.dim = b.dim AND a.doc_id < b.doc_id
    UNION ALL
    SELECT doc_a, doc_b FROM cand2
  )
), cosp AS (
  SELECT c.doc_a, c.doc_b, ROUND(SUM(a.w * b.w), 4) AS cosine
  FROM cand c
  JOIN w a ON a.doc_id = c.doc_a
  JOIN w b ON b.doc_id = c.doc_b AND b.dim = a.dim
  GROUP BY c.doc_a, c.doc_b
  HAVING ROUND(SUM(a.w * b.w), 4) >= {threshold}
)"""


def oracle_cosine_neardup(
    threshold: float = 0.95, max_dim_df: int = MAX_COSINE_DIM_DF
) -> str:
    """DuckDB oracle: identical capped candidate gen + exact sparse cosine."""
    return (
        f"\nWITH {sql_cosine_pairs_ctes('documents', threshold, max_dim_df)}"
        "\nSELECT doc_a, doc_b, cosine FROM cosp"
    )
