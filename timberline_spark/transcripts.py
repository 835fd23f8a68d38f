"""Deterministic transcript-table derivation (test/bench input; no external data).

The target input is an Iceberg table ``transcripts(conv_id string,
turn_idx int, role string, text string, tool string, ts timestamp)`` of
multi-turn conversation/agent transcripts. In this sandbox we synthesize it
deterministically from the driver's seeded ``events`` parquet via a
dialect-neutral SQL mapping that both Spark and DuckDB evaluate
bit-identically — so the driver's DuckDB oracle can check every downstream
pipeline stage.

The generated ``text`` column mixes the line grammars of the reference's
synthetic corpus (/root/reference/tests/docker/log_generator.py):

- g0: plain leveled line    ``"<ts> <LEVEL> [<service>] <message>"``
      (log_generator.py:100-106)
- g1: structured JSON line  ``{"level":...,"service":...,"message":...}``
      (log_generator.py:118-271)
- g2: k8s klog style        ``"<L><MMDD> <HH:MM:SS.ffffff> 1 <file>:<line>] <msg>"``
      (log_generator.py:273-339)
- plus empty lines, unparseable garbage, out-of-bounds timestamps and
  unicode payloads (log_generator.py:529-543) to exercise the reject paths.

Every choice is a pure function of (event_id, user_id, event_type, value, ts)
— no rand(), no now() — so the table is identical at every parallelism level.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Dialect:
    """The few functions Spark and DuckDB spell differently in
    :func:`transcripts_sql`, the one SQL text both engines run (Spark in
    :func:`load_transcripts`, DuckDB in the oracle)."""

    name: str
    str_type: str

    def fmt_ts(self, e: str) -> str:  # -> 'YYYY-MM-DD HH:MM:SS'
        if self.name == "spark":
            return f"date_format({e}, 'yyyy-MM-dd HH:mm:ss')"
        return f"strftime({e}, '%Y-%m-%d %H:%M:%S')"

    def fmt_mmdd(self, e: str) -> str:
        if self.name == "spark":
            return f"date_format({e}, 'MMdd')"
        return f"strftime({e}, '%m%d')"

    def fmt_hms(self, e: str) -> str:
        if self.name == "spark":
            return f"date_format({e}, 'HH:mm:ss')"
        return f"strftime({e}, '%H:%M:%S')"

    def epoch_s(self, e: str) -> str:
        if self.name == "spark":
            return f"unix_seconds(cast({e} as timestamp))"
        return f"CAST(floor(epoch({e})) AS BIGINT)"


SPARK = Dialect("spark", "STRING")
DUCKDB = Dialect("duckdb", "VARCHAR")

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string,"
    " ts timestamp"
)

# ``events.parquet`` as testdata and perfbench's gen.py write it (ts is
# timestamp[us], not UTC-adjusted); reading with it skips schema inference.
EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double, props string"
)

# bench-replica conv_id offset: must exceed any source user_id so replica
# conv_id spaces stay disjoint (the scaling bench and dedup determinism rely
# on that). 10^10 >> any seeded user_id; the sampling hash keys on the
# conv_id STRING (parse.conv_key), so replica ids just hash independently.
REPLICA_STRIDE = 10_000_000_000


def transcripts_sql(d: Dialect, events_rel: str = "events") -> str:
    """SELECT producing the transcripts table from `events`, dialect-neutral.

    The JSON grammar deliberately exercises what the reference's real JSON
    ingest handles and a regex extractor cannot (stream.go:226-244 unmarshals
    full structs): three key orders, escaped quotes inside ``message``
    (event_id % 13), open metadata labels in the THREE storage shapes the
    label-fallback chain covers (``labels`` / ``kubernetes_labels`` /
    ``kubernetes.labels`` — models/log.py:177-199), some JSON rows with no
    labels at all, and the Fluent Bit dual-format shape
    ``{date, log, source, kubernetes}`` whose float ``date`` feeds the
    seconds-vs-millis heuristic (stream.go:77-90).
    """
    S = d.str_type
    msg = (
        "CASE event_type "
        f"WHEN 'error' THEN 'Connection pool exhausted for pool-' || CAST(user_id % 5 AS {S})"
        f" || ' after ' || CAST(CAST(FLOOR(value) AS BIGINT) AS {S}) || ' retries' "
        f"WHEN 'signup' THEN 'Rate limit exceeded for user u' || CAST(user_id AS {S}) "
        f"WHEN 'purchase' THEN 'Payment gateway timeout after ' || CAST(CAST(FLOOR(value) AS BIGINT) AS {S}) || 'ms' "
        f"WHEN 'click' THEN 'User clicked element btn-' || CAST(event_id % 13 AS {S}) "
        f"ELSE 'Page viewed in session sess-' || CAST(user_id % 50 AS {S}) END"
        " || CASE WHEN event_id % 11 = 0 THEN ' ñ中文' ELSE '' END"
        # embedded double quotes: the JSON grammars must escape these
        f" || CASE WHEN event_id % 13 = 0 THEN ' q=' || chr(34) || 'v' || CAST(event_id % 5 AS {S}) || chr(34) ELSE '' END"
    )
    lvl = (
        "CASE WHEN event_id % 101 = 0 THEN 'NOTICE' "
        "WHEN event_type = 'error' THEN (CASE WHEN event_id % 7 = 0 THEN 'FATAL' ELSE 'ERROR' END) "
        "WHEN event_type = 'signup' THEN 'WARN' "
        "WHEN event_type = 'purchase' THEN 'WARNING' "
        "WHEN event_type = 'click' THEN 'INFO' ELSE 'DEBUG' END"
    )
    ts_str = (
        "CASE WHEN event_id % 89 = 0 THEN '1999-01-01 00:00:00' "
        "WHEN event_id % 179 = 0 THEN '2030-01-01 00:00:00' "
        f"ELSE {d.fmt_ts('ts')} END"
    )
    klog_char = (
        "CASE WHEN lvl = 'ERROR' THEN 'E' WHEN lvl = 'FATAL' THEN 'F' "
        "WHEN lvl IN ('WARN','WARNING') THEN 'W' ELSE 'I' END"
    )
    # k8s-style open label map (three keys; oracle queries know this shape).
    # "sev" is constant within a dedup cluster (level is part of the cluster
    # fingerprint) so the A6 intersection has survivors; app/tier vary.
    labelobj = (
        "'{\"app\":\"' || service || '\",\"sev\":\"' || lower(lvl) ||"
        " '\",\"tier\":\"' || role || '\"}'"
    )
    # direct LogEntry shape, canonical key order, labels path 1. The
    # ' via api' suffix keeps direct-JSON messages in their own dedup
    # clusters, so the A6 label-intersection has all-labeled clusters to
    # act on (mixed clusters faithfully intersect to empty).
    # every 41st json_a line omits the `level` key entirely: the reference's
    # direct parse accepts it (message is all it requires) and GetLevel
    # defaults to INFO (log.go:66-86); strict mode routes it to the
    # unknown_level anomaly instead — both paths are oracle-pinned.
    json_a = (
        "CASE WHEN event_id % 41 = 0 THEN '{' "
        "ELSE '{\"level\":\"' || lvl || '\",' END"
        " || '\"service\":\"' || service || "
        "'\",\"message\":\"' || msg_j || ' via api\"'"
        " || CASE WHEN lvl = 'DEBUG' THEN '' ELSE ',\"labels\":' || labelobj END"
        " || '}'"
    )
    # direct shape, REORDERED keys, labels path 2 (kubernetes_labels)
    json_b = (
        "'{\"message\":\"' || msg_j || ' via api\",\"service\":\"' || service || "
        "'\",\"level\":\"' || lvl || '\"'"
        " || CASE WHEN lvl = 'DEBUG' THEN '' ELSE ',\"kubernetes_labels\":' || labelobj END"
        " || '}'"
    )
    # Fluent Bit dual-format shape: float epoch date (P6 heuristic),
    # level embedded in the log line, labels path 3 (kubernetes.labels)
    # every 53rd Fluent Bit line carries an escaped newline in `log` (a
    # multi-line log payload): (?s) in RE_FB_LOG keeps it parsing as
    # fluentbit grammar in all three engines (Java/Python/RE2 regex).
    json_fb = (
        f"'{{\"date\":' || CAST({d.epoch_s('ts')} AS {S}) || '.25'"
        " || ',\"log\":\"' || lvl || ' ' || msg_j"
        " || CASE WHEN event_id % 53 = 0 THEN chr(92) || 'nctx line2' ELSE '' END"
        " || '\"'"
        " || ',\"source\":\"' || service || '\"'"
        " || ',\"kubernetes\":{\"labels\":' || labelobj || '}}'"
    )
    klog_line = (
        f"{klog_char} || {d.fmt_mmdd('ts')} || ' ' || {d.fmt_hms('ts')} || "
        f"'.000000 1 ' || service || '.go:' || CAST(event_id % 500 AS {S}) || '] ' || msg"
    )
    text = (
        "CASE WHEN event_id % 97 = 0 THEN '' "
        "WHEN event_id % 83 = 0 THEN '???unparseable???' "
        "WHEN event_id % 3 = 0 THEN ts_str || ' ' || lvl || ' [' || service || '] ' || msg "
        f"WHEN event_id % 9 = 1 THEN {json_a} "
        f"WHEN event_id % 9 = 4 THEN {json_b} "
        f"WHEN event_id % 9 = 7 THEN {json_fb} "
        f"ELSE {klog_line} END"
    )
    tool = (
        "CASE WHEN event_id % 5 = 0 THEN '' "
        "WHEN event_type = 'error' THEN 'bash' "
        "WHEN event_type = 'purchase' THEN 'http' "
        "WHEN event_type = 'signup' THEN 'db' "
        "WHEN event_type = 'view' THEN 'browser' ELSE 'search' END"
    )
    return f"""
WITH ev AS (
  SELECT event_id, ts, user_id, event_type, value,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx
  FROM {events_rel}
), base AS (
  SELECT event_id, ts, user_id, event_type, value, turn_idx,
         {lvl} AS lvl,
         'svc-' || CAST(user_id % 8 AS {S}) AS service,
         CASE CAST(turn_idx % 4 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              WHEN 2 THEN 'system' ELSE 'tool' END AS role,
         {msg} AS msg
  FROM ev
), base2 AS (
  SELECT *, {ts_str} AS ts_str,
         replace(msg, chr(34), chr(92) || chr(34)) AS msg_j,
         {labelobj} AS labelobj
  FROM base
)
SELECT
  'conv-' || LPAD(CAST(user_id AS {S}), 9, '0') AS conv_id,
  turn_idx,
  role,
  {text} AS text,
  {tool} AS tool,
  ts
FROM base2
"""


def load_transcripts(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """Derive the transcripts DataFrame from `<sf_dir>/events.parquet`.

    replicate > 1 scales the table for bench runs: each replica gets a
    disjoint conv_id space (user_id + k*REPLICA_STRIDE), keeping the table
    deterministic and the key distribution realistic (hot conversations
    remain hot within each replica).
    """
    # a view name of its own, dropped once spark.sql has analyzed the query:
    # a caller's session view named `events` is neither replaced nor read
    view = f"tl_events_{uuid.uuid4().hex}"
    spark.read.schema(EVENTS_SCHEMA).parquet(f"{sf_dir}/events.parquet").createTempView(view)
    try:
        df = spark.sql(transcripts_sql(SPARK, events_rel=view))
    finally:
        spark.catalog.dropTempView(view)
    if replicate > 1:
        reps = spark.range(replicate).withColumnRenamed("id", "rep")
        base_num = F.regexp_extract(F.col("conv_id"), "^conv-([0-9]+)$", 1).cast("long")
        conv_id = F.concat(
            F.lit("conv-"),
            F.lpad((base_num + F.col("rep") * F.lit(REPLICA_STRIDE)).cast("string"), 12, "0"),
        )
        df = df.crossJoin(reps).select(
            *(conv_id.alias(c) if c == "conv_id" else c for c in df.columns)
        )
    return df
