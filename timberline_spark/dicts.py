"""Dictionary tables + semantic constants — the pipeline's single source of truth.

Reference semantics reproduced here (file:line into /root/reference):

- Level normalization / fallback: ``log-ingestor/internal/models/log.go:66-86``
  (metadata.level -> metadata.log_level -> default INFO) and klog single-char
  levels I/E/W/F from the reference's synthetic corpus
  (``tests/docker/log_generator.py:273-339``).
- Severity buckets + numeric values: ``ai-analyzer/analyzer/models/log.py:16-58``
  (1-4 low->2, 5-6 medium->5, 7-8 high->7, 9-10 critical->9); scoring-failure
  default = MEDIUM (``ai-analyzer/analyzer/llm/client.py:275-276``).
- Error/warning classes: ``ai-analyzer/analyzer/analysis/engine.py:110-111``
  (ERROR|CRITICAL -> ``ERROR_LEVELS``, WARNING -> ``WARNING_LEVELS``).
- Keep/sample routing rule: ``helm/timberline/templates/
  fluent-bit-configmap.yaml:77-107`` — keep every line whose level matches
  error/fatal/warn/panic (``KEEP_LEVELS``), sample the rest at 10%
  (``values.yaml:25``). Our sampling is a deterministic arithmetic hash, not
  math.random, so routed-row sets are identical at every parallelism level.
- Dedup/report policy: ``DEDUP_EXAMPLES_N``, ``TOP_ISSUES_N``, ``SCORE_MAX``,
  ``FREQ_BONUS_THRESHOLD``, ``ACTIONABLE_SEVERITIES``, ``REPORT_MESSAGE_LIMIT``.
- Timestamp validity bounds: ``log-ingestor/internal/models/log.go:43-64``
  (reject ts==0 / empty message / > now+1h / < now-10y). "now" is pinned to
  the reference snapshot date 2026-01-09T00:00:00Z for determinism (the
  reference uses wall-clock now; deliberate divergence, see SURVEY.md §7).

All hash arithmetic is plain BIGINT math (no xxhash64) so the DuckDB oracle
computes bit-identical values.
"""

from __future__ import annotations

# -- deterministic "now" (reference snapshot date, UTC) ----------------------
REF_NOW_MS = 1_767_916_800_000  # 2026-01-09T00:00:00Z
# the reference's lower bound is now - 10*365 DAYS (log.go:54), not a
# calendar decade — 3650 days from the pinned now lands on 2016-01-12
TS_LOW_MS = REF_NOW_MS - 10 * 365 * 24 * 3_600_000  # 2016-01-12T00:00:00Z
TS_HIGH_MS = REF_NOW_MS + 3_600_000  # now + 1h

# -- deterministic sampling (INFO/DEBUG kept at 10%) -------------------------
SAMPLING_RATE_PCT = 10  # helm/timberline/values.yaml:25
HASH_A = 2_654_435_761  # Knuth multiplicative constant (public domain)
HASH_B = 40_503
HASH_P = 1_000_003

# SQL expression fragment (valid in both Spark SQL and DuckDB) computing the
# per-turn sampling hash in [0, 100). conv_key must be a BIGINT expression
# (the polynomial string hash of conv_id, extras/xhash.py — < 2^30).
def hash100_sql(conv_key_expr: str, turn_idx_expr: str) -> str:
    # conv_key % HASH_P first: identical value by mod arithmetic, but the
    # intermediate product stays < 2^63 even for a full 2^30 hash value
    # (ANSI mode would error on overflow)
    return (
        f"((({conv_key_expr} % {HASH_P}) * {HASH_A}"
        f" + CAST({turn_idx_expr} AS BIGINT) * {HASH_B}) % {HASH_P}) % 100"
    )


# -- level normalization (aliases) -------------------------------------------
# raw level -> canonical level. Unknown raw levels become an
# 'unknown_level' anomaly (stricter than the reference's default-INFO;
# documented divergence so per-sink counts are exact).
LEVEL_ALIASES: list[tuple[str, str]] = [
    ("ERROR", "ERROR"),
    ("FATAL", "CRITICAL"),
    ("CRITICAL", "CRITICAL"),
    ("PANIC", "CRITICAL"),
    ("WARN", "WARNING"),
    ("WARNING", "WARNING"),
    ("INFO", "INFO"),
    ("DEBUG", "DEBUG"),
    ("TRACE", "DEBUG"),
    ("I", "INFO"),
    ("E", "ERROR"),
    ("W", "WARNING"),
    ("F", "CRITICAL"),
]

# canonical level -> (priority for representative selection A8, base severity
# score for the rule-based scorer replacing the reference's LLM scorer).
LEVEL_META: list[tuple[str, int, int]] = [
    ("CRITICAL", 4, 9),
    ("ERROR", 3, 7),
    ("WARNING", 2, 5),
    ("INFO", 1, 2),
    ("DEBUG", 0, 1),
]

# severity bucket mapping: ai-analyzer/analyzer/models/log.py:16-58
# score 1-4 -> low(2), 5-6 -> medium(5), 7-8 -> high(7), 9-10 -> critical(9)
SEVERITY_BUCKETS: list[tuple[int, int, str, int]] = [
    (1, 4, "low", 2),
    (5, 6, "medium", 5),
    (7, 8, "high", 7),
    (9, 10, "critical", 9),
]

# an unknown level scores and buckets as MEDIUM, the scoring-failure default
# (client.py:275-276): base score = the bucket's lower bound
DEFAULT_SCORE, _, DEFAULT_SEVERITY, DEFAULT_SEVERITY_NUMERIC = SEVERITY_BUCKETS[1]

ERROR_LEVELS = ("ERROR", "CRITICAL")
WARNING_LEVELS = ("WARNING",)
KEEP_LEVELS = (*ERROR_LEVELS, *WARNING_LEVELS)  # error|fatal|warn|panic rule

# -- dedup and report policy -------------------------------------------------
DEDUP_EXAMPLES_N = 3  # MIN_EXAMPLES_BEFORE_EXCLUSION: milvus.go:374-397, config.go:46
TOP_ISSUES_N = 10  # models/log.py:296-299
FREQ_BONUS_THRESHOLD = 10  # clusters with >= 10 total occurrences score +1
SCORE_MAX = SEVERITY_BUCKETS[-1][1]  # cluster scores clamp to the top bucket
ACTIONABLE_SEVERITIES = ("medium", "high", "critical")
REPORT_MESSAGE_LIMIT = 200  # representative-message truncation, generator.py:93-99

TOOL_DICT: list[tuple[str, str, bool]] = [
    ("bash", "shell", True),
    ("search", "retrieval", False),
    ("browser", "retrieval", False),
    ("db", "storage", True),
    ("http", "network", False),
    ("file", "storage", True),
    ("mail", "network", True),
    ("sched", "control", False),
]

ROLE_DICT: list[tuple[str, str]] = [
    ("user", "human"),
    ("assistant", "model"),
    ("system", "control"),
    ("tool", "machine"),
]


def severity_dict_rows() -> list[tuple[str, str, str, int, bool, bool]]:
    """(level_raw, level, severity, severity_score, is_error, is_warning)."""
    meta = {lv: (pr, sc) for lv, pr, sc in LEVEL_META}
    rows = []
    for raw, canon in LEVEL_ALIASES:
        _, score = meta[canon]
        bucket = next(b for lo, hi, b, _ in SEVERITY_BUCKETS if lo <= score <= hi)
        rows.append(
            (
                raw,
                canon,
                bucket,
                score,
                canon in ERROR_LEVELS,
                canon in WARNING_LEVELS,
            )
        )
    return rows


def level_defaults(level: str) -> dict:
    """The enrichment attributes a canonical level implies — used for the
    reference's default-INFO fallback (log.go:66-86)."""
    row = next(r for r in severity_dict_rows() if r[1] == level)
    keys = ("level", "severity", "severity_score", "is_error", "is_warning")
    return dict(zip(keys, row[1:]))


# ---- SQL VALUES literals for the DuckDB oracle ------------------------------
def severity_dict_values_sql() -> str:
    rows = ",".join(
        f"('{r}','{c}','{b}',{s},{str(e).lower()},{str(w).lower()})"
        for r, c, b, s, e, w in severity_dict_rows()
    )
    return (
        f"(VALUES {rows}) AS severity_dict"
        "(level_raw, level, severity, severity_score, is_error, is_warning)"
    )


def tool_dict_values_sql() -> str:
    rows = ",".join(f"('{t}','{c}',{str(s).lower()})" for t, c, s in TOOL_DICT)
    return f"(VALUES {rows}) AS tool_dict(tool, tool_category, is_sensitive)"


def role_dict_values_sql() -> str:
    rows = ",".join(f"('{r}','{c}')" for r, c in ROLE_DICT)
    return f"(VALUES {rows}) AS role_dict(role, role_class)"
