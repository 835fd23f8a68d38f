"""SparkSession factory tuned for the pipeline.

Local-mode testing stands in for a multi-executor cluster. AQE, its
partition coalescing and skew-join splitting are Spark's defaults and stay
unset; each setting below departs from a default, and the measurement
behind each one kept for speed is in BENCH.md ("Settings and lineage cuts,
each measured"). ``spark.sql.shuffle.partitions`` is sized to cores
locally; on a real cluster AQE coalescing makes the initial number
forgiving.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Local filesystem that sets file modes with java.nio, not a forked chmod
# (jvm/src, built by scripts/build_jar.sh): without libhadoop, Hadoop's
# RawLocalFileSystem forks /bin/chmod for every file, .crc file and
# directory it creates (608 forks in a warm daily run_pipeline). Modes,
# .crc files and output rows stay the same. Cost: a 2 kB jar on the
# driver and executor classpaths.
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
        # AQE coalescing floor. The default (1 MB) folds the tiny
        # post-window shuffle of the synthesized input into ~2 partitions,
        # and the whole regex/JSON parse chain then runs on 2 cores. At
        # scale, advisoryPartitionSizeInBytes (64 MB, untouched) sizes
        # partitions and this floor does not bind.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep the local-mode heap moderate: heaps >16g on this box trigger
        # kernel page-fault storms during heap expansion (90%+ system CPU,
        # 10-50x stalls) — measured in BENCH.md. 8g is ample: the pipeline
        # streams through Tungsten memory; nothing driver-side is O(data).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Generated-class cache. run_pipeline builds 120-155 distinct
        # whole-stage classes and the 50 registered queries with it 913;
        # with the default 100 entries every warm run recompiled ~150 of
        # them. Guava evicts per segment, so the cap sits well above the
        # working set. Cost: cached classes stay loaded (+9 MB metaspace).
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # PySpark's DataFrame-debugging call-site capture costs ~10 py4j
        # round trips per F.* / Column call. PySpark reads the flag once per
        # process, so it only works here, before the first Column. Cost: an
        # error's DataFrame context names a JVM frame, not the Python line
        # that built the failing expression.
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
