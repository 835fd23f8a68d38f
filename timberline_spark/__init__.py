"""timberline_spark — a from-scratch PySpark-native log/transcript pipeline.

Re-expresses the query semantics of UnyieldingOrca/timberline
(parse -> enrich -> route -> aggregate over log/transcript streams) as an
idiomatic Spark DataFrame pipeline over a table of multi-turn
conversation/agent transcripts::

    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp)

Stages (reference semantics cited per module):

- :mod:`timberline_spark.transcripts` — deterministic transcript derivation
  (test/bench input synthesis; no external data).
- :mod:`timberline_spark.parse`       — grok/regex parse of raw turn text
  (fluent-bit parsers + log-ingestor dual-format parse).
- :mod:`timberline_spark.enrich`      — literal-map dictionary lookups,
  no joins (severity / tool / role).
- :mod:`timberline_spark.route`       — validation + deterministic
  keep/sample routing, fan-out to per-category sinks.
- :mod:`timberline_spark.aggregate`   — dedup (duplicate_count), cluster
  report buckets, top issues, run summary.
- :mod:`timberline_spark.pipeline`    — end-to-end runner with per-partition
  lineage + metrics tables and idempotent resume.
- :mod:`timberline_spark.extras`      — training-data-pipeline operators
  (dedup families, similarity search, text analysis, multimodal plumbing).

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

__version__ = "0.1.0"
