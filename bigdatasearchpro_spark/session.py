"""SparkSession factory with scale-appropriate defaults.

Local test profile runs on ``local[N]`` with a driver heap sized from
the host (:func:`default_driver_memory`); on a real cluster the same
builder is used minus the master/driver-memory overrides (spark-submit
supplies them), and the deployment's own executor JVM options are kept.
All settings are chosen for the 100 TB design point:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  AQE coalesces from a high initial number, so the static value matters
  less.
- Arrow enabled for every pandas interchange (UDFs are Arrow-batched).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- A top-k of ``TOPK_SORT_FALLBACK_ROWS`` or more rows plans as a sort
  plus a limit, so no caller's ``k`` can make a task allocate a
  k-slot queue.
- PySpark's per-call DataFrame call-site capture off: it costs a
  handful of py4j round trips on every Column call.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

# A top-k whose k reaches this many rows plans as a sort plus a limit
# instead of a TakeOrdered: each TakeOrdered task allocates a k-slot
# bounded queue up front, so a caller's k of 10**9 (or a deep from_ +
# size page) would allocate gigabytes per task and kill the JVM.
TOPK_SORT_FALLBACK_ROWS = 100_000


def _host_memory_bytes() -> "int | None":
    """The memory this process may use: the cgroup limit (v2, then v1)
    or, when unlimited, the host's MemAvailable; None when unknown."""
    limits = []
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limits.append(int(raw))
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    limits.append(int(line.split()[1]) * 1024)
                    break
    except OSError:
        pass
    return min(limits) if limits else None


def default_driver_memory() -> str:
    """Local-mode heap: half the memory the host grants this process,
    between 1g and 48g. In ``local[N]`` the driver JVM is also the
    executor, and the JVM's off-heap (metaspace, codegen, netty and
    Arrow buffers) needs room beside the heap; a heap sized past the
    host's memory lets the kernel OOM-kill the JVM mid-run instead of
    Spark spilling or raising an OutOfMemoryError."""
    avail = _host_memory_bytes()
    gib = 48 if avail is None else max(1, min(48, avail // 2 // 2**30))
    return f"{gib}g"


def _deployment_sets(key: str) -> bool:
    """Whether the deployment (spark-submit flags, spark-defaults.conf)
    already sets ``key``: they reach the gateway JVM's system
    properties, which a JVM-backed ``SparkConf`` loads."""
    SparkContext._ensure_initialized()
    return SparkConf().contains(key)


def get_spark(
    app_name: str = "bigdatasearchpro_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Mirrors the reference's single hand-tuned pipeline config
    (``BulkProcessImpl.java:186-190`` — batch sizes, concurrency,
    retries) with Spark-level equivalents that Catalyst/AQE manage
    per-query instead of per-hardcoded-table.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan metadata strings (PushedFilters/ReadSchema) are rendered once
        # and cached; widen before anything renders a plan so the plan
        # parsers (plans/inspect.py) never see elided metadata
        .config("spark.sql.maxMetadataStringLength", "100000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes `size(e) > 0 AND
        # isnotnull(e)` above every Generate input, and predicate
        # pushdown then inlines e through the projection chain — for
        # this engine's explodes e is ALWAYS a computed array (shingles,
        # n-grams, token splits), so the inferred filter re-evaluates
        # the whole tokenize/shingle expression per row, and each array
        # subscript inside it re-inlines the split() another time
        # (measured: the ngram-Jaccard explode stage 13.5 s -> 0.3 s at
        # sf0.1 with the rule excluded; identical output — the filter
        # only drops rows Generate drops anyway).  Pruning-before-
        # exchange, the rule's upside, never applies here: no plan in
        # this engine puts an Exchange between the array projection and
        # its explode.  Scale-independent: the duplicated expression
        # cost is per-row at every scale.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config(
            "spark.sql.execution.topKSortFallbackThreshold",
            str(TOPK_SORT_FALLBACK_ROWS),
        )
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame call-site capture: with it on, EVERY Column
        # and DataFrame method call pays an active-session lookup, a conf
        # read, a Python stack walk and two JVM calls that set and clear
        # the origin (~2,200 py4j round trips per scored query). Cost of
        # turning it off: analysis errors lose the Python call-site
        # "DataFrame query context" line; the error class and message are
        # unchanged. PySpark reads the setting once per process, at the
        # first wrapped call (and treats "no active session" as off).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Throughput GC for the allocation-heavy text operators (r13): the
    # engine's hot paths churn short-lived objects at a huge rate
    # (UTF8String shingle slices, md5 hex strings of the portable hash
    # family, tokenizer arrays), and under the default G1 (200 ms pause
    # target) the r13 per-stage profile measured task GC time 8x and
    # task CPU 2.3-2.7x HIGHER at 32 concurrent tasks than at 8 for the
    # same stages — GC/allocation contention, not data volume (the
    # near-dup suite entries anti-scaled 0.24-0.30 in the r12 driver
    # run).  The parallel throughput collector trades pause latency
    # (irrelevant for batch analytics) for allocation throughput:
    # interleaved A/Bs at BOTH core counts measured minhash 8.6 -> 5.4 s
    # and the end-to-end pipeline 14.0 -> 10.8 s at local[32], neutral
    # at local[8].  Scale-independent (executors on a real cluster run
    # the same allocation profile); override via SPARK_GRAFT_GC_OPTS.
    # On a cluster the executors' JVM options belong to the deployment
    # (spark-submit / spark-defaults): set them only where none are.
    gc_opts = os.environ.get("SPARK_GRAFT_GC_OPTS", "-XX:+UseParallelGC")
    on_cluster = bool(os.environ.get("SPARK_GRAFT_ON_CLUSTER"))
    if gc_opts and not (
        on_cluster and _deployment_sets("spark.executor.extraJavaOptions")
    ):
        builder = builder.config(
            "spark.executor.extraJavaOptions", gc_opts
        )
    if not on_cluster:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        if gc_opts:
            # local mode: the driver JVM IS the executor; extraJavaOptions
            # only applies at JVM launch (the first session in a process)
            builder = builder.config("spark.driver.extraJavaOptions", gc_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Mute WindowExec's per-query 'No Partition Defined' warning: every
    # global window in this engine ranks a bounded page/bucket frame,
    # machine-checked by plans.inspect.unbounded_global_windows and the
    # test_plans gate (r8 verdict ask #6 — the flood would mask a REAL
    # unbounded window; the plan gate fails on one instead).
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 build: the warning is cosmetic
    return spark
