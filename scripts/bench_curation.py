#!/usr/bin/env python
"""Curation-runner bench at corpus scale (VERDICT r5 next-round #3/#6).

Builds an N-doc documents table (default 8M) by replicating the sf0.1
synthetic corpus with per-replica doc ids and a replica token appended to
the text (so documents stay DISTINCT — the dedup keeper join must carry
the full table, which is exactly the shuffle being measured), then runs
the curation runner end-to-end in a fresh JVM and reports:

- wall time (min-of-N full runs in a warm JVM, fresh out dirs)
- total shuffle write bytes for the app (Spark UI REST API), and the
  per-stage bytes of every stage writing >1% of the total — the evidence
  for the "two corpus-wide shuffles" plan claim.

The dedup window is keyed on xxhash64 of the normalized text. The
exact-text-key baseline it was measured against (3.36 GB of shuffle at
8M docs) is recorded in BENCH_curation_8m_r6.json.

Usage:
  python scripts/bench_curation.py --n-docs 8000000 \
      --out /dev/shm/tl_cur_bench --json BENCH_curation_8m.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)
SF_SRC = "/root/testdata/sf0.1"


def build_input(n_docs: int, path: str) -> int:
    from pyspark.sql import functions as F

    from timberline_spark.session import get_spark

    spark = get_spark(
        "cur_bench_build", cores=32, shuffle_partitions=32,
        extra_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    )
    base = spark.read.parquet(f"{SF_SRC}/documents.parquet")
    n_base = base.count()
    reps = (n_docs + n_base - 1) // n_base
    rep = spark.range(reps).withColumnRenamed("id", "replica")
    built = (
        base.crossJoin(rep)
        .select(
            (F.col("doc_id") + F.col("replica") * 1_000_000).alias("doc_id"),
            "source",
            "lang",
            # distinct text per replica: the keeper join cannot collapse
            # replicas, so it shuffles the whole corpus (the measured case)
            F.concat(F.col("text"), F.lit(" r"), F.col("replica")).alias("text"),
        )
        .limit(n_docs)
    )
    built.repartition(128).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    n = spark.read.parquet(f"{path}/documents.parquet").count()
    spark.stop()
    return n


def _child(input_dir: str, scratch: str, trials: int) -> None:
    """Fresh-JVM body: warmup on the tiny corpus, then min-of-N timed full
    runs; emit one JSON line with timings + app shuffle-stage metrics."""
    from timberline_spark.curation import run_curation
    from timberline_spark.session import get_spark

    os.environ.setdefault("SPARK_LOCAL_DIRS", f"{scratch}/spark_local")
    # the UI is normally off (session.py); the REST stage-metrics API needs it
    spark = get_spark(
        "cur_bench", cores=32, shuffle_partitions=64,
        extra_conf={"spark.ui.enabled": "true"},
    )
    # JIT/codegen warmup (first trial in a JVM pays 2-8x otherwise)
    warm_out = tempfile.mkdtemp(prefix="cw_", dir=scratch)
    run_curation(spark, os.path.join(os.path.dirname(SF_SRC), "sf0.01"), warm_out,
                 run_id="warm")
    shutil.rmtree(warm_out, ignore_errors=True)

    best, metrics = None, None
    for t in range(trials):
        out = tempfile.mkdtemp(prefix=f"c{t}_", dir=scratch)
        t0 = time.time()
        m = run_curation(spark, input_dir, out, run_id=f"t{t}")
        el = time.time() - t0
        shutil.rmtree(out, ignore_errors=True)
        if best is None or el < best:
            best, metrics = el, m

    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages?status=COMPLETE")
    )
    total_sw = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    wide = sorted(
        (
            {
                "stageId": s["stageId"],
                "name": s.get("name", "")[:80],
                "shuffleWriteBytes": s["shuffleWriteBytes"],
            }
            for s in stages
            if s.get("shuffleWriteBytes", 0) > 0.01 * max(total_sw, 1)
        ),
        key=lambda x: -x["shuffleWriteBytes"],
    )
    print(json.dumps({
        "best_sec": round(best, 3),
        "trials": trials,
        "curation_metrics": metrics,
        "app_shuffle_write_bytes": total_sw,
        "wide_stages": wide,
    }))
    spark.stop()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n-docs", type=int, default=8_000_000)
    ap.add_argument("--out", default="/dev/shm/tl_cur_bench")
    ap.add_argument("--json", default=None, help="write combined JSON here")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--input-dir", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if args.child:
        _child(args.input_dir, args.out, args.trials)
        return

    os.makedirs(args.out, exist_ok=True)
    input_dir = f"{args.out}/docs_{args.n_docs}"
    if not os.path.exists(f"{input_dir}/documents.parquet/_SUCCESS"):
        n = build_input(args.n_docs, input_dir)
        print(f"built {n} docs at {input_dir}", file=sys.stderr)

    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__),
         "--child", "--input-dir", input_dir,
         "--out", args.out, "--trials", str(args.trials)],
        capture_output=True, text=True, cwd=REPO,
    )
    json_lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not json_lines:
        sys.stderr.write(p.stdout[-2000:] + "\n" + p.stderr[-4000:] + "\n")
        raise RuntimeError(f"child failed rc={p.returncode}")
    res = json.loads(json_lines[-1])
    combined = {
        "n_docs": args.n_docs,
        "hash": res,
        "throughput_docs_per_sec_hash": round(args.n_docs / res["best_sec"], 1),
    }
    out = json.dumps(combined)
    print(out)
    if args.json:
        with open(args.json, "w") as f:
            f.write(out)


if __name__ == "__main__":
    main()
