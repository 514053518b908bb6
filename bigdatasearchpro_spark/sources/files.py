"""File sources (SURVEY.md S7): parquet / CSV / JSON scans.

The driver fixtures are one parquet file per table under
``/root/testdata/sf*/``. ``load_table`` is the single entry point the
query registry uses; schema comes from the files (S2 schema inference —
the Spark reader materializes it the way the reference read
``ResultSetMetaData``, reference ``BulkProcessImpl.java:102``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(df: DataFrame, *, to: str = "timestamp_ntz") -> DataFrame:
    """Normalize the ``events.ts`` column to a microsecond timestamp,
    whatever physical type the parquet stored it as.

    The gate is the ACTUAL column type, never an assumption about the
    fixture: a ``timestamp[us]``/``timestamp_ntz`` column passes through
    (cast only), while a Long column — parquet TIMESTAMP(NANOS) read
    under ``nanosAsLong`` — is truncated with integer division
    (``ts div 1000``: ns-since-epoch ~1.7e18 exceeds double's 53-bit
    mantissa, so ``/ 1000`` + cast would be off by hundreds of ns).
    Batch and streaming readers BOTH call this, so they cannot diverge.

    ``to`` is ``timestamp_ntz`` for batch (matches DuckDB oracle values)
    or ``timestamp`` for streaming (watermarks require TIMESTAMP; under
    the UTC session timezone the bucket boundaries are identical).
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        col = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        col = F.col("ts")
    return df.withColumn("ts", col.cast(to))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Filters/projections applied by the caller
    are pushed into the parquet scan by Catalyst (check via
    ``df.explain`` -> ``PushedFilters`` / ``ReadSchema``).

    ``events.ts`` may be stored as parquet TIMESTAMP(NANOS) (which Spark
    can only read as nanos-since-epoch via ``nanosAsLong``) or as
    TIMESTAMP(MICROS); ``normalize_events_ts`` gates on the actual type
    read and yields a microsecond ``timestamp_ntz`` either way — the
    same value DuckDB sees, so oracle values match.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df, to="timestamp_ntz")
    return df


def fan_out(df: DataFrame, *, multiple: int = 1) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism —
    but ONLY when the input has fewer partitions than that.

    Why: per-row-expensive narrow operators (tokenize/shingle/hash/vector
    math) inherit the scan's partitioning. The local fixtures are single
    parquet files under ``spark.sql.files.maxPartitionBytes``, i.e. ONE
    partition — the whole operator would serialize on one core while 31
    idle. At 100 TB a table has thousands of splits, the gate is false,
    and no shuffle is added; this is the standard "repartition before
    expensive narrow work" pattern, applied adaptively.

    The probe plans the input, so it runs at most once per analysed
    input (:func:`_split_count`): a query's match set, a filter over the
    index scan its query-string filter already fanned out, is not
    planned a second time by the scorer.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiple
    if _split_count(df) >= target:
        return df
    return df.repartition(target)


# Partition counts fan_out probed, by the analysed plan's hash code:
# ``(count, whether a filter over the plan keeps the count)``. The hash
# covers the plan's attribute ids, which Spark's relation cache keeps
# for a catalog table until the table is written or refreshed, so an
# index's scan is probed once per version. Emptied when full.
_SPLITS: "dict[int, tuple[int, bool]]" = {}
_SPLITS_MAX = 64


def _split_count(df: DataFrame) -> int:
    """``df``'s partition count. A probe through ``df.rdd`` plans the
    whole query (25-40 ms for a query-string match set over a 20k-doc
    index on 4 cores), and under AQE runs a repartition's shuffle as a
    job of its own, so it is skipped where the count is known: for a
    repartition under filters and projections, for a frame probed
    before, and for a filter or projection over a probed frame that no
    filter can prune (see :func:`_unprunable`) — a query's match set
    over the index scan its query-string filter probed."""
    node = df._jdf.queryExecution().analyzed()
    chain = [node]
    while node.nodeName() in ("Filter", "Project"):
        node = node.child()
        chain.append(node)
    if node.nodeName() == "Repartition" and node.shuffle():
        return node.numPartitions()
    keys = [n.hashCode() for n in chain]
    if keys[0] in _SPLITS:
        return _SPLITS[keys[0]][0]
    for key in keys[1:]:
        count, unprunable = _SPLITS.get(key, (0, False))
        if unprunable:
            return count
    count = df.rdd.getNumPartitions()
    if len(_SPLITS) >= _SPLITS_MAX:
        _SPLITS.clear()
    _SPLITS[keys[0]] = (count, _unprunable(chain[0]))
    return count


def _unprunable(plan) -> bool:
    """Whether a filter over the analysed ``plan`` keeps its partition
    count: every leaf is in-memory data or a scan of an unpartitioned
    table. A filter on a partition column prunes directories (e.g.
    ``api.apply_routing``'s shard filter), which can drop splits."""
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        kind = leaf.nodeName()
        if kind == "LogicalRelation":
            rel = leaf.relation()
            if (
                rel.getClass().getSimpleName() == "HadoopFsRelation"
                and rel.partitionSchema().nonEmpty()
            ):
                return False
        elif kind not in ("LocalRelation", "LogicalRDD", "Range"):
            return False
    return True


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def load_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    opts = {"header": "true", "inferSchema": "true", **options}
    return spark.read.options(**opts).csv(path)


def load_json(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).json(path)
