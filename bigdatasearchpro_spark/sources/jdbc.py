"""JDBC source (SURVEY.md S1): parallel partitioned full-table scan.

The reference streams ``SELECT * FROM <table>`` through ONE forward-only
cursor with ``fetchSize=Integer.MIN_VALUE`` (reference
``BulkProcessImpl.java:96-100`` and a single static connection,
``DBHelper.java:13``). The Spark-native equivalent keeps the O(1)-heap
streaming property per task but adds what the reference lacks: a
*partitioned parallel* read — N executors each scan a key range, so a
54 M-row table (reference ``README.md:714``) is not bound to one
cursor's throughput.

No live MySQL exists in the test environment; tests exercise the option
construction and use parquet fixtures for data. On a cluster the same
builder works against any JDBC URL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def jdbc_full_scan(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    fetch_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """``SELECT * FROM table`` as a DataFrame.

    With ``partition_column`` bounds the scan is split into
    ``num_partitions`` range slices executed concurrently — the
    scale-out the reference achieved only by hand-running multiple
    threads over different tables (reference ``README.md:12``).
    Predicates/projections applied downstream are pushed into the
    generated SQL by Catalyst (the reference always shipped all columns,
    ``BulkProcessImpl.java:96``).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetch_size))
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound and upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()
