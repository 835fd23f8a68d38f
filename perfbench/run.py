#!/usr/bin/env python3
"""Seeded closed-loop benchmark of timberline_spark on ``local[4]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload daily --seed 1 --seconds 10 --trace 0

One process, one client: operations run one at a time, each starting when
the last returns. Inputs are generated from ``--seed``; every operation's
output is checked against the DuckDB oracle. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics (from spans
and Spark's event log) with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

HISTORY = os.path.join(HERE, "_history")
PREP_REPEATS = 3  # input set-ups per run; setup_s takes their median
# An operation during which the VM lost more than STEAL_MAX of its CPU time
# to the hypervisor (/proc/stat "steal") counts as disturbed. Up to
# EXTRA_OPS disturbed operations are replaced by more operations; when more
# than that were disturbed, the host is in a long episode and the run keeps
# what it has rather than spend more time.
STEAL_MAX = 0.05
EXTRA_OPS = 1


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and its Python
    workers), sampled from /proc while ``active`` is set."""

    def __init__(self, pid: int, period: float = 0.2):
        self.pid, self.period = pid, period
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            todo += children.get(p, [])
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            if self.active.wait(self.period):
                self.peak = max(self.peak, self._tree_rss())
                time.sleep(self.period)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self.active.set()
        self._thread.join()


def start_session(name: str, eventlog_dir: str | None, log_fd: int | None):
    """``get_spark`` on ``local[4]`` with the benchmark's config. The JVM
    inherits stderr at launch; with ``log_fd`` it goes to that file."""
    from timberline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if eventlog_dir:
        import tracing

        conf.update(tracing.eventlog_conf(eventlog_dir))
    saved = None
    if log_fd is not None:
        saved = os.dup(2)
        os.dup2(log_fd, 2)
    try:
        return get_spark(f"perfbench-{name}", cores=4, shuffle_partitions=4, extra_conf=conf)
    finally:
        if saved is not None:
            os.dup2(saved, 2)
            os.close(saved)


def stop_session(spark) -> None:
    """Stop Spark, then its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=120)


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU ticks by state, from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


class Loop:
    """The closed loop: timed operations back to back for ``seconds``; each
    output is checked (untimed) and removed before the next starts. The
    run's figures come from the ``min_ops`` least-disturbed operations."""

    def __init__(self, wl, rss: RssSampler | None, log_fd: int | None):
        self.wl, self.rss, self.log_fd = wl, rss, log_fd
        self.times: list[float] = []
        self.windows: list[tuple[float, float, int]] = []
        self.sizes: list[tuple[int, int]] = []
        self.steal: list[float] = []  # share of CPU time stolen, per operation
        self.attempted = self.failed = 0
        self.n = 0

    def _mark(self, what: str) -> None:
        if self.log_fd is not None:
            os.write(self.log_fd, f"@@perfbench op {self.n} {what}\n".encode())

    def execute(self, spark, tracer):
        """One operation into a fresh output dir:
        (ok, seconds, steal share, window, dir)."""
        self.n += 1
        out = os.path.join(WORK, "out", str(self.n))
        self._mark("begin")
        lo = time.time() * 1000.0
        c0 = cpu_ticks()
        t0 = time.perf_counter()
        if self.rss:
            self.rss.active.set()
        try:
            with tracer.span("op"):
                self.wl.op(spark, out, tracer)
            ok = True
        except Exception as e:  # counted in failed, never fatal
            print(f"# operation {self.n} raised: {e!r}", file=sys.stderr)
            ok = False
        if self.rss:
            self.rss.active.clear()
        dt = time.perf_counter() - t0
        d = [b - a for a, b in zip(c0, cpu_ticks())]
        hi = time.time() * 1000.0
        self._mark("end")
        return ok, dt, d[7] / max(1, sum(d)), (lo, hi, self.n), out

    def checked(self, ok: bool, out: str) -> bool:
        from workloads import rmtree

        if ok and not self.wl.check(out):
            print(f"# output in {out} differs from the oracle", file=sys.stderr)
            ok = False
        rmtree(out)
        return ok

    def one(self, spark, tracer) -> None:
        from workloads import output_size

        ok, dt, steal, window, out = self.execute(spark, tracer)
        size = output_size(out)
        ok = self.checked(ok, out)
        self.attempted += 1
        self.failed += 0 if ok else 1
        if ok:
            self.times.append(dt)
            self.steal.append(steal)
            self.windows.append(window)
            self.sizes.append(size)

    def run(self, spark, seconds: float, tracer) -> None:
        t_end = time.perf_counter() + seconds
        need = self.wl.min_ops
        while (
            self.attempted < need
            or time.perf_counter() < t_end
            or (
                need - EXTRA_OPS <= sum(s <= STEAL_MAX for s in self.steal) < need
                and self.attempted < need + EXTRA_OPS
            )
        ):
            self.one(spark, tracer)

    def kept(self) -> list[int]:
        """Indices of the ``min_ops`` successful operations with the least
        stolen CPU time, in run order."""
        order = sorted(range(len(self.times)), key=lambda i: self.steal[i])
        return sorted(order[: self.wl.min_ops])


def dup_block_warnings(log_path: str) -> dict[int, int]:
    """``Block ... already exists`` lines between each operation's markers."""
    counts: dict[int, int] = {}
    cur = None
    with open(log_path, errors="replace") as fh:
        for line in fh:
            if line.startswith("@@perfbench op "):
                _, _, n, what = line.split()
                cur = int(n) if what == "begin" else None
                counts.setdefault(int(n), 0)
            elif cur is not None and "already exists" in line:
                counts[cur] += 1
    return counts


def spec_metrics(values: dict, kind: str) -> dict:
    """Every metric BENCHMARK.json lists under ``kind``, with its unit; a
    per-layer metric that does not apply to the workload reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)[kind]
    names = {m["name"] for m in spec}
    unknown = set(values) - names
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if kind == "end_to_end" and names - set(values):
        raise KeyError(f"end-to-end metrics not measured: {sorted(names - set(values))}")
    return {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in spec}


def untraced_e2e(workload: str, seed: int) -> float:
    """This checkout's untraced e2e_s, for the tracing overhead: the seed's
    own runs, else every seed's; 0 when no untraced run is on record."""
    path = os.path.join(HISTORY, f"{workload}.jsonl")
    if not os.path.exists(path):
        return 0.0
    with open(path) as fh:
        seen = [json.loads(line) for line in fh]
    same = [r["e2e_s"] for r in seen if r["seed"] == seed]
    return statistics.median(same or [r["e2e_s"] for r in seen])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test lives next to this directory; without it the
    # imports below fail and the run exits nonzero before any result
    sys.path[:0] = [ROOT, HERE]
    sys.dont_write_bytecode = True
    import tracing
    import workloads as W

    if args.workload not in W.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(WORK, d))
    # everything the program, the JVM and its Python workers write stays here
    os.environ.update(
        TMPDIR=os.path.join(WORK, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYTHONDONTWRITEBYTECODE="1",
        # a smaller heap than the program's 8g default keeps the run small
        SPARK_DRIVER_MEM="3g",
    )
    wl = W.WORKLOADS[args.workload](WORK, args.seed)

    log_fd = None
    if args.trace:
        log_fd = os.open(os.path.join(WORK, "driver.log"), os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    elog = os.path.join(WORK, "eventlog") if args.trace else None

    # set-up: inputs, the oracle reference (beside the JVM start), the
    # session, the program-side input materialization, the warm-up
    gen_s = timed(wl.generate, wl.in_dir)
    ref = threading.Thread(target=wl.compute_reference)
    ref.start()
    t0 = time.perf_counter()
    spark = start_session(wl.name, elog, log_fd)
    session_s = time.perf_counter() - t0
    prep = [gen_s + timed(wl.materialize, spark, wl.in_dir)]
    for k in range(1, PREP_REPEATS):
        d = os.path.join(WORK, f"prep{k}")
        prep.append(timed(wl.generate, d) + timed(wl.materialize, spark, d))
        shutil.rmtree(d)
    warm_s = timed(wl.warm_up, spark)
    setup_s = session_s + statistics.median(prep) + warm_s
    ref.join()
    if wl.ref is None:
        raise RuntimeError("the oracle reference failed")

    # memory is sampled in traced runs only: the sampler's /proc scans
    # would otherwise share the CPU with the timed operations
    rss = RssSampler(spark.sparkContext._gateway.proc.pid).start() if args.trace else None
    loop = Loop(wl, rss, log_fd)
    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    with tracer.instrumented(W.LAYERS, "timberline_spark"):
        loop.run(spark, args.seconds, tracer)
    ladder = wl.ladder(spark) if args.trace else {}
    stop_session(spark)
    if rss:
        rss.stop()
    kept = loop.kept()
    e2e = statistics.median(loop.times[i] for i in kept) if kept else 0.0

    if not args.trace:
        files, nbytes = loop.sizes[-1] if loop.sizes else (0, 0)
        values = {
            "e2e_s": e2e,
            "input_rows_per_s": wl.input_rows / e2e if e2e else 0.0,
            "setup_s": setup_s,
            "out_files": files,
            "out_bytes": nbytes,
        }
        if loop.times and not loop.failed:
            os.makedirs(HISTORY, exist_ok=True)
            with open(os.path.join(HISTORY, f"{wl.name}.jsonl"), "a") as fh:
                fh.write(json.dumps({"seed": args.seed, "e2e_s": e2e}) + "\n")
    else:
        os.close(log_fd)
        log = tracing.read_eventlog(elog)
        warns = dup_block_warnings(os.path.join(WORK, "driver.log"))
        windows = [loop.windows[i] for i in kept]
        per_op = [wl.layers(log, tracer, lo, hi, warns.get(n, 0)) for lo, hi, n in windows]
        values = {k: statistics.median(d[k] for d in per_op) for k in per_op[0]} if per_op else {}
        values.update(ladder)
        values["trace.e2e_s"] = e2e
        base = untraced_e2e(wl.name, args.seed)
        values["trace.overhead_ratio"] = e2e / base if base else 0.0
        values["spark.peak_rss_mb"] = rss.peak / 2**20
    metrics = spec_metrics(values, "per_layer" if args.trace else "end_to_end")

    print(
        f"# workload={wl.name} seed={args.seed} trace={args.trace} "
        f"samples={len(loop.times)} e2e_s={[round(t, 3) for t in loop.times]} "
        f"steal={[round(x, 3) for x in loop.steal]} kept={kept} "
        f"setup: session={session_s:.2f}s prep={[round(p, 2) for p in prep]} warm_up={warm_s:.2f}s "
        f"input={json.dumps(wl.info)}"
    )
    result = {
        "correct": bool(loop.attempted and not loop.failed),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
