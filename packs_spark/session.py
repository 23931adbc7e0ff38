"""SparkSession factory.

Local sandbox runs use ``local[N]`` (single JVM); the same configuration
scales to a multi-executor cluster — everything here is expressed through
standard Spark conf, nothing assumes local mode except the defaults.

Scale notes (100 TB / 1000-executor design point):
* ``spark.sql.shuffle.partitions`` should be sized so a shuffle partition is
  ~128-256 MB.  Locally we pin it to the core count; on a cluster set it to
  ``max(2 * total_cores, input_bytes / 200MB)`` or rely on AQE coalescing
  (enabled below) with a high initial partition count.
* AQE handles runtime coalescing and skew-join splitting; explicit salting
  for pathological producer skew lives in ``packs_spark.pipeline.partitioning``.
* Arrow batches between the JVM and Python workers are capped at 10k rows so
  pandas-UDF memory stays bounded regardless of partition size.

Python worker daemon: every task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13 that makes
each cached ``zipimporter`` re-read its whole archive directory, and the
workers' path holds pyspark.zip (1.3k entries, a dozen importers) and the
spark-core jar (5.4k entries): ~200 ms of every task.  3.13 made the
invalidation lazy; ``packs_spark.pyworker`` backports that, so local
sessions start their workers through it.  Cluster masters keep the stock
daemon: executors get the package per task through ``--py-files``, after
their daemon has started, so it could not import ``packs_spark.pyworker``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# glibc malloc tunables for every Python process in the job (driver and
# UDF workers).  Numpy buffers above the default 128 KB mmap threshold are
# mmap'd fresh per allocation and returned to the OS on free — so every
# Arrow batch re-faults its working set.  On VMs with slow/erratic page
# supply this made identical vectorized calls swing 150 ms → 13 s
# (measured); raising the thresholds makes the allocator REUSE the arena:
# first batch pays the faults, every later batch is pure compute.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
}

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "packs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` keeps whatever the environment provides (spark-submit on a
    cluster), falling back to ``local[$SPARK_GRAFT_CPUS or *]`` in-process.
    """
    # before the JVM starts: local-mode python workers inherit this env
    if not os.environ.get("SPARK_GRAFT_NO_MALLOC_TUNE"):
        os.environ.update(_MALLOC_ENV)
    if master is None and "SPARK_GRAFT_MASTER" in os.environ:
        master = os.environ["SPARK_GRAFT_MASTER"]
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_conf(
    master: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf :func:`get_spark` builds its session with for ``master``."""
    if shuffle_partitions is None:
        # local[N] → N; cluster → leave to AQE with a generous initial count.
        n = _parallelism_of(master)
        shuffle_partitions = n if n else 200

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Push count/min/max down to parquet footers (S3 in SURVEY §2.1).
        "spark.sql.parquet.aggregatePushdown": "true",
        # NOTE on codecs: zstd writes ~30% fewer bytes than lz4/snappy on
        # this web text (measured 110 MB → 76 MB per 500k docs) and is the
        # right call on a real cluster (shuffle fabric + object-store
        # savings, CPU is parallel).  It is NOT the default here because
        # interleaved A/B runs on this sandbox could not demonstrate a
        # wall-clock win at local[32] (shared-host drift swamps it and two
        # windows showed zstd 2× slower); flip with extra_conf when
        # deploying: {"spark.io.compression.codec": "zstd",
        # "spark.sql.parquet.compression.codec": "zstd"}.
        # ship the malloc tunables to executors on a real cluster too
        # (local mode inherits them via os.environ above)
        **{f"spark.executorEnv.{k}": v for k, v in _MALLOC_ENV.items()},
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # The pack operators batch 30+ aggregates into one pass; the default
        # whole-stage-codegen fallback threshold (100 fields) silently drops
        # those plans to interpreted mode — raise it so wide single-pass
        # aggregations stay inside codegen.
        "spark.sql.codegen.maxFields": "500",
        # Spark keeps 100 generated classes per JVM by default.  One pass of
        # seven registry queries generates ~110, so each pass evicted the
        # classes the next one needed and compiled them all again (~1 s of
        # Janino per pass at local[4], plus the JIT of the new classes).
        "spark.sql.codegen.cache.maxEntries": "1000",
        # The cache is keyed by the generated source, and by default the
        # whole-stage class name holds the codegen stage id.  Under AQE the
        # ids follow the order in which concurrent stages finish, so the
        # same plan could miss the cache from one run to the next.
        "spark.sql.codegen.useIdInClassName": "false",
        # PySpark 4 records the Python call site of every DataFrame and
        # Column call (pyspark.errors.utils._with_origin): an active-session
        # lookup, a conf read and a JVM origin set + clear, about two thirds
        # of the py4j round trips of compiling a 55-check suite.  Off,
        # analysis errors lose only the Python file:line "DataFrame query
        # context" appended after their message.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # NOTE: keep the local driver heap right-sized, not maximal — with a
        # 48g heap the first large whole-stage-codegen compile takes >60s
        # (JIT/GC ergonomics); 8g shows none of that and comfortably holds
        # sf0.1 shuffles.  On a real cluster executor/driver memory is set by
        # spark-submit, not here.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    kind = master.split("[")[0]
    if kind in ("local", "local-cluster"):
        # Python workers on this machine import the package from its root,
        # from any cwd; without it every task of a local-cluster executor
        # fails with "No module named 'packs_spark'"
        conf["spark.executorEnv.PYTHONPATH"] = _PACKAGE_ROOT
    if kind == "local":
        # fork Python workers from the lazy-zip-invalidation daemon
        conf["spark.python.daemon.module"] = "packs_spark.pyworker"
    if extra_conf:
        conf.update(extra_conf)
    return conf


def _parallelism_of(master: str) -> int | None:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            try:
                return len(os.sched_getaffinity(0))
            except AttributeError:  # no affinity API on this platform
                return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return None
    return None
