"""SparkSession factory tuned for the pipeline.

Local-mode testing stands in for a multi-executor cluster; the configs below
are the ones that matter at 100 TB too (AQE, skew-join splitting, Arrow
batching). ``spark.sql.shuffle.partitions`` is sized to cores locally; on a
real cluster AQE coalescing makes the initial number forgiving.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Local filesystem that sets file modes with java.nio, not a forked chmod
# (jvm/src, built by scripts/build_jar.sh). Without libhadoop, Hadoop's
# RawLocalFileSystem forks /bin/chmod for every file, .crc file and
# directory it creates: 608 processes in every warm run_pipeline on the
# perfbench daily input, none with this class (JFR jdk.ProcessStart; 4
# vCPUs, local[4]). Modes, .crc files and output rows stay the same. Traced
# daily seed 901, three runs each: sink-write task time 4.4-5.2 -> 1.9-2.1 s,
# trace.e2e_s 5.3-6.7 -> 3.9-4.5 s. Cost: one more 2 kB jar on the driver
# and executor classpaths.
NIO_FS_JAR = os.path.join(REPO_ROOT, "jvm", "timberline-fs.jar")
NIO_FS_CLASS = "timberline.fs.NioLocalFileSystem"


def get_spark(
    app_name: str = "timberline_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None -> local[*]. Session timezone pinned to UTC so timestamp
    arithmetic matches the naive-UTC oracle (DuckDB) exactly.

    master overrides the local[N] default; pass
    ``local-cluster[N,cores,mem_mb]`` to spawn N REAL executor JVMs
    (separate heaps/GC/code caches) — the sandbox's closest stand-in for an
    N-executor cluster, used by bench.py --scaling. Executor JVMs inherit
    the driver's Python environment; PYTHONPATH is forwarded so shipped
    code resolves on executors (the spark-submit --py-files analog).

    When this call launches the JVM and ``NIO_FS_JAR`` exists, ``file://``
    is served by ``NIO_FS_CLASS``. A JVM that is already running (under
    spark-submit, or started earlier in this process) keeps Hadoop's
    default: the class may not be on its classpath.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or None
    if master is None:
        master = f"local[{cores}]" if cores else "local[*]"
    sp = shuffle_partitions or (cores if cores else 32)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor. The default floor (1 MB) folds the tiny
        # post-window shuffle of the synthesized bench input into ~2
        # partitions, and the ENTIRE regex/JSON parse chain then runs on 2
        # of 32 cores (measured: parse 1.66s -> 0.84s, kept_rows 2.5s ->
        # 1.6s at sf0.1 with a 64k floor). Compute-bound stages over small
        # shuffled data need parallelism that byte-based coalescing can't
        # see. At 100 TB this floor is irrelevant: partition sizing is
        # governed by advisoryPartitionSizeInBytes (64 MB) and
        # parallelismFirst, both untouched.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep the local-mode heap moderate: heaps >16g on this box trigger
        # kernel page-fault storms during heap expansion (90%+ system CPU,
        # 10-50x stalls) — measured in BENCH.md. 8g is ample: the pipeline
        # streams through Tungsten memory; nothing driver-side is O(data).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # the pipeline submits independent sink/report writes from multiple
        # driver threads; FAIR scheduling lets small jobs fill idle slots
        # instead of queueing behind a wide stage's stragglers
        .config("spark.scheduler.mode", "FAIR")
        # Generated-class cache (measured on 4 vCPUs, local[4]). One pass of
        # the 50 registered queries plus one run_pipeline at sf0.001 compiles
        # 913 distinct whole-stage classes, run_pipeline alone 120-155. The
        # default of 100 entries made every warm run_pipeline recompile
        # ~150 of them (Janino, ~12 ms mean each, on the driver and on task
        # threads). With 2048 a warm run_pipeline compiles none, and a second
        # pass of the queries 16-18 classes in 3 of them (which 3 varies from
        # pass to pass; enrich.py pins the fence seed that made every
        # build's plan new). Guava evicts per segment, so a cap near the
        # working set still misses. Cost: cached classes stay loaded; +9 MB
        # metaspace after that pass (194 vs 185 MB).
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # PySpark's DataFrame-debugging call-site capture: ~10 py4j round
        # trips around every F.* / Column call (active session, a conf and
        # the origin class); turning it off cut the build time of six
        # registered queries at sf0.1 by 14-31% and their round trips by
        # 2.5-3.2x. PySpark reads the flag once per process, so it only
        # works here, before the first Column. Cost: an error's DataFrame
        # context names a JVM frame instead of the Python file:line that
        # built the failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master.startswith("local-cluster["):
        n_workers, exec_cores, mem_mb = (
            int(v) for v in master[len("local-cluster["):-1].split(",")
        )
        b = b.config("spark.executor.memory", f"{mem_mb}m")
        # Executor JVMs otherwise size GC/JIT thread pools to the HOST's 32
        # cores — 16 one-core executors would spawn ~400 background threads
        # (measured: wild 19-77s variance on identical write stages). A real
        # cluster pins each executor to its cgroup cores; ActiveProcessorCount
        # is the single-box equivalent.
        b = b.config(
            "spark.executor.extraJavaOptions",
            f"-XX:ActiveProcessorCount={exec_cores}",
        )
        b = b.config(
            "spark.executorEnv.PYTHONPATH",
            f"{REPO_ROOT}:{os.environ.get('PYTHONPATH', '')}".rstrip(":"),
        )
    conf = dict(extra_conf or {})
    if (
        SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
        and os.path.exists(NIO_FS_JAR)
    ):
        b = b.config("spark.hadoop.fs.file.impl", NIO_FS_CLASS)
        for k in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
            conf[k] = os.pathsep.join(filter(None, (NIO_FS_JAR, conf.get(k))))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
