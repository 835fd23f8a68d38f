"""The benchmark's workloads: inputs, one timed operation, output check,
and the layer attribution of a traced operation.

Every workload generates its inputs from the seed (``gen.py``) and checks
each operation's output against the DuckDB oracle SQL that ships with the
program, evaluated on the same generated input.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq

import gen
import tracing as tr
from timberline_spark import aggregate, enrich, parse, pipeline, route, sqlgen, transcripts
from timberline_spark.extras import dedup, similarity

CORES = 4

# layer name -> module, for the spans around calls into public functions
LAYERS = {
    "transcripts": transcripts,
    "parse": parse,
    "enrich": enrich,
    "route": route,
    "pipeline": pipeline,
    "aggregate": aggregate,
    "similarity": similarity,
    "dedup": dedup,
}


def _norm(v):
    if isinstance(v, (float, Decimal)):
        return round(float(v), 6)
    return v


def _rows(records: list[dict], drop=("run_id",)) -> list[tuple]:
    """Order-free comparable form: columns by name, floats rounded."""
    out = [
        tuple((k, _norm(r[k])) for k in sorted(r) if k not in drop)
        for r in records
    ]
    return sorted(out, key=repr)


def _duck_rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, row)) for row in cur.fetchall()]


def _table_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def _num_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    )


def output_size(out_dir: str) -> tuple[int, int]:
    """(parquet files, parquet bytes) under an operation's output dir."""
    files = glob.glob(f"{out_dir}/**/*.parquet", recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


class Workload:
    name = ""
    shape = gen.Shape()
    min_ops = 2  # timed operations per run, at the least; e2e_s is their median

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.in_dir = os.path.join(work, "input")
        self.ref: dict | None = None
        self.info: dict = {}

    @property
    def input_rows(self) -> int:
        return self.shape.turns + self.shape.docs + self.shape.vectors

    def generate(self, in_dir: str) -> None:
        gen.generate(in_dir, self.shape, self.seed)

    def materialize(self, spark, in_dir: str) -> None:
        """Program-side input set-up (none unless a workload needs it)."""

    def _duck(self):
        con = duckdb.connect()
        # the reference runs beside the JVM start, which leaves cores idle
        con.execute("SET threads=2")
        for t in ("events", "documents", "embeddings"):
            p = f"{self.in_dir}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return con

    def warm_up(self, spark) -> None:
        """Set-up after the inputs: pay the JVM's first-use costs (class
        loading, code generation, JIT) with one untimed full-size operation."""
        self.op(spark, os.path.join(self.work, "warm"), tr.NullTracer())
        rmtree(os.path.join(self.work, "warm"))

    def compute_reference(self) -> None:
        raise NotImplementedError

    def op(self, spark, out_dir: str, tracer) -> None:
        raise NotImplementedError

    def check(self, out_dir: str) -> bool:
        raise NotImplementedError

    def layers(self, log: tr.EventLog, tracer, lo: float, hi: float, warnings: int) -> dict:
        raise NotImplementedError

    def ladder(self, spark) -> dict:
        return {}


class Daily(Workload):
    """One fresh ``run_pipeline`` over a month of turns (30 daily partitions)."""

    name = "daily"
    shape = gen.Shape(turns=10_000, convs=150, days=30)

    @property
    def table(self) -> str:
        return f"{self.in_dir}/transcripts"

    def materialize(self, spark, in_dir: str) -> None:
        # the transcripts table, through the program's own derivation, as
        # ``bench.py --scaling`` builds its input
        transcripts.load_transcripts(spark, in_dir).repartition(CORES).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/transcripts")

    def compute_reference(self) -> None:
        con = self._duck()

        def count(sql: str) -> int:
            return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]

        kept = count(sqlgen.q_kept_rows())
        keys = count(sqlgen.q_dedup())
        rows, convs, dates = con.execute(
            "SELECT count(*), count(DISTINCT user_id), count(DISTINCT CAST(ts AS DATE)) FROM events"
        ).fetchone()
        self.info = {"rows": rows, "conversations": convs, "dates": dates, "dedup_keys": keys}
        self.dedup_ratio = keys / kept
        self.ref = {
            "summary": _rows(_duck_rows(con, sqlgen.q_summary())),
            "top_issues": _rows(_duck_rows(con, sqlgen.q_top_issues())),
            "sink_errors": count(sqlgen.q_route_errors()),
            "sink_tool_calls": count(sqlgen.q_route_tool_calls()),
            "sink_anomalies": count(sqlgen.q_route_anomalies()),
        }

    def op(self, spark, out_dir: str, tracer) -> None:
        pipeline.run_pipeline(spark, "", out_dir, run_id="bench", input_table=self.table)

    def check(self, out_dir: str) -> bool:
        ref = self.ref
        if _rows(_table_rows(f"{out_dir}/report_summary")) != ref["summary"]:
            return False
        if _rows(_table_rows(f"{out_dir}/top_issues")) != ref["top_issues"]:
            return False
        return all(_num_rows(f"{out_dir}/{s}") == ref[s] for s in pipeline.SINKS)

    @staticmethod
    def label(ex: tr.Execution) -> str:
        table = tr.written_table(ex.plan)
        if table == pipeline.STAGE_CLASSIFIED:
            return "stage_write"
        if table in pipeline.SINKS:
            return "sink_write"
        if table in ("analysis_results", "analysis_summary"):
            return "dated_write"
        if table == "report_buckets":
            return "rollup_write"
        if table is not None:
            return "other_write"
        if "n_err" in ex.plan:
            return "stage_counts"
        if "clusters_found" in ex.plan or "row_number" in ex.plan:
            return "collect"
        if "key_collision" in ex.plan:
            return "dedup"
        return "other"

    def layers(self, log, tracer, lo, hi, warnings) -> dict:
        execs = log.execs_in(lo, hi)
        by: dict[str, list[tr.Execution]] = {}
        for ex in execs:
            ex.label = self.label(ex)
            by.setdefault(ex.label, []).append(ex)

        def jobs(labels):
            ids = {e.id for lab in labels for e in by.get(lab, [])}
            return [j for j in log.jobs_in(lo, hi) if j.exec_id in ids]

        def span_s(*labels):
            return tr.union_ms([(e.start, e.end) for lab in labels for e in by.get(lab, [])], lo, hi) / 1000.0

        def tasks(*labels):
            return log.tasks_of(jobs(labels))

        stage_tasks = tasks("stage_write")
        stage_written = sum(t.output_bytes for t in stage_tasks)
        # every later execution that scans the stage table's files
        readers = [
            j for j in log.jobs_in(lo, hi)
            if (ex := log.executions.get(j.exec_id)) is not None
            and ex.label != "stage_write"
            and pipeline.STAGE_CLASSIFIED in tr.read_tables(ex.plan)
        ]
        reader_tasks = log.tasks_of(readers)
        file_read = sum(t.input_bytes for t in reader_tasks if t.stage in log.file_scan_stages)
        op_tasks = log.tasks_of(log.jobs_in(lo, hi))
        cache_read = sum(t.input_bytes for t in op_tasks if t.stage not in log.file_scan_stages)
        sp = tr.spark_totals(log, lo, hi, CORES)
        wall_s = (hi - lo) / 1000.0
        exec_union = tr.union_ms([(e.start, e.end) for e in execs], lo, hi) / 1000.0
        agg_labels = ("dedup", "dated_write", "rollup_write", "collect")
        driver = tracer.self_ms_by_layer(lo, hi)
        return {
            "route.sink_write_s": span_s("sink_write"),
            "route.sink_run_s": sum(t.run_ms for t in tasks("sink_write")) / 1000.0,
            "pipeline.stage_write_s": span_s("stage_write"),
            "pipeline.stage_write_run_s": sum(t.run_ms for t in stage_tasks) / 1000.0,
            "pipeline.stage_bytes_written": stage_written,
            "pipeline.stage_read_amplification": file_read / stage_written if stage_written else 0.0,
            "pipeline.cache_read_bytes": cache_read,
            "pipeline.driver_only_s": sp["driver_only_s"],
            "pipeline.accounted_ratio": (exec_union + sp["driver_only_s"]) / wall_s,
            "pipeline.jobs": sp["jobs"],
            "pipeline.tasks": sp["tasks"],
            "pipeline.sql_executions": sp["sql_executions"],
            "pipeline.busy_ratio": sp["busy_ratio"],
            "aggregate.dedup_s": span_s("dedup"),
            "aggregate.dated_write_s": span_s("dated_write"),
            "aggregate.rollup_write_s": span_s("rollup_write"),
            "aggregate.collect_s": span_s("collect"),
            "aggregate.shuffle_bytes": sum(t.shuffle_write for t in tasks(*agg_labels)),
            "aggregate.dup_block_warnings": warnings,
            "aggregate.dedup_ratio": self.dedup_ratio,
            **{f"{layer}.driver_s": driver.get(layer, 0.0) / 1000.0 for layer in (
                "parse", "enrich", "route", "aggregate")},
            **_spark_layer(sp),
        }

    def ladder(self, spark) -> dict:
        """Noop-sink timings of growing prefixes of the classify chain
        (min of two); each layer's self time is its prefix minus the one
        before it."""
        steps = [
            ("transcripts.scan_s", lambda t: t),
            ("parse.self_s", lambda t: parse.parse_turns(t)),
            ("enrich.self_s", lambda t: enrich.enrich_turns(spark, parse.parse_turns(t))),
            (
                "route.classify_self_s",
                lambda t: route.classify_turns(enrich.enrich_turns(spark, parse.parse_turns(t))),
            ),
        ]
        best = [float("inf")] * len(steps)
        for _ in range(2):
            for i, (_name, build) in enumerate(steps):
                t0 = time.perf_counter()
                build(spark.read.parquet(self.table)).write.format("noop").mode("overwrite").save()
                best[i] = min(best[i], time.perf_counter() - t0)
        return {
            name: best[i] - (best[i - 1] if i else 0.0) for i, (name, _b) in enumerate(steps)
        }


class Neardup(Workload):
    """One pass of the near-duplicate and ANN operators under ``extras``:
    token-shingle Jaccard pairs, then hyperplane-LSH nearest neighbours."""

    name = "neardup"
    shape = gen.Shape(docs=500, vectors=500)
    JACCARD = 0.2

    def compute_reference(self) -> None:
        con = self._duck()
        jaccard = _rows(_duck_rows(con, dedup.oracle_jaccard_pairs(self.JACCARD)))
        self.info = {"docs": self.shape.docs, "vectors": self.shape.vectors, "jaccard_pairs": len(jaccard)}
        self.ref = {"jaccard_pairs": jaccard, "knn_lsh": _rows(_duck_rows(con, similarity.oracle_knn_lsh()))}

    def op(self, spark, out_dir: str, tracer) -> None:
        with tracer.span("op.jaccard_pairs"):
            dedup.doc_jaccard_pairs(spark, self.in_dir, self.JACCARD).write.parquet(
                f"{out_dir}/jaccard_pairs"
            )
        with tracer.span("op.knn_lsh"):
            similarity.emb_knn_lsh(spark, self.in_dir).write.parquet(f"{out_dir}/knn_lsh")

    def check(self, out_dir: str) -> bool:
        return all(_rows(_table_rows(f"{out_dir}/{t}")) == self.ref[t] for t in self.ref)

    def layers(self, log, tracer, lo, hi, warnings) -> dict:
        def call(name):
            (s,) = [s for s in tracer.named(name) if lo <= s.start <= hi]
            return s, log.jobs_in(s.start, s.end)

        jac, jac_jobs = call("op.jaccard_pairs")
        knn, knn_jobs = call("op.knn_lsh")
        knn_busy = tr.union_ms([(j.start, j.end) for j in knn_jobs], knn.start, knn.end)
        driver = tracer.self_ms_by_layer(lo, hi)
        return {
            "dedup.jaccard_pairs_s": (jac.end - jac.start) / 1000.0,
            "dedup.jaccard_shuffle_bytes": sum(t.shuffle_write for t in log.tasks_of(jac_jobs)),
            "dedup.driver_s": driver.get("dedup", 0.0) / 1000.0,
            "similarity.knn_lsh_s": (knn.end - knn.start) / 1000.0,
            "similarity.knn_lsh_driver_only_s": (knn.end - knn.start - knn_busy) / 1000.0,
            "similarity.jobs": len(knn_jobs),
            "similarity.driver_s": driver.get("similarity", 0.0) / 1000.0,
            **_spark_layer(tr.spark_totals(log, lo, hi, CORES)),
        }


def _spark_layer(sp: dict) -> dict:
    return {
        "spark.gc_s": sp["gc_s"],
        "spark.spill_bytes": sp["spill_bytes"],
        "spark.shuffle_write_bytes": sp["shuffle_write_bytes"],
        "spark.task_skew": sp["task_skew"],
        "spark.jobs": sp["jobs"],
        "spark.run_s": sp["run_s"],
    }


WORKLOADS = {w.name: w for w in (Daily, Neardup)}


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
