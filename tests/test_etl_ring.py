"""Core ETL ring (SURVEY.md §2.1-§2.2, §2.4 [REF]): scan, stringify,
key-by, dedup/LWW, sinks, DDL shims."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatasearchpro_spark.operators import dedup, transform
from bigdatasearchpro_spark.sinks import (
    bulk_index_parquet,
    create_index,
    delete_index,
    list_indices,
)
from bigdatasearchpro_spark.sources.files import TABLES, load_table


def test_all_fixture_tables_load(spark, sf_dir):
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        assert df.count() > 0, t


def test_stringify_all_schema_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 2.5, None), (2, None, "x")], "a int, b double, c string"
    )
    out = transform.stringify_all(df)
    assert all(f.dataType == T.StringType() for f in out.schema.fields)
    assert out.columns == ["a", "b", "c"]
    rows = {r["a"]: r for r in out.collect()}
    assert rows["1"]["b"] == "2.5" and rows["1"]["c"] is None
    assert rows["2"]["b"] is None and rows["2"]["c"] == "x"


def test_key_by_null_autogenerates_id(spark):
    df = spark.createDataFrame([("k1",), (None,)], "guid string")
    out = transform.key_by(df, "guid", out="S_GUID")
    vals = [r["S_GUID"] for r in out.collect()]
    assert "k1" in vals
    assert all(v is not None for v in vals)  # ES auto-id for null keys


def test_dedup_last_write_wins(spark):
    df = spark.createDataFrame(
        [("a", 1, "old"), ("a", 2, "new"), ("b", 5, "only")],
        "id string, seq int, payload string",
    )
    out = dedup.dedup_last_write_wins(df, "id", ["seq"], keep="last")
    got = {r["id"]: r["payload"] for r in out.collect()}
    assert got == {"a": "new", "b": "only"}


def test_keyed_load_gives_null_ids_auto_ids(spark):
    """ES indexes every NULL-id document under its own generated id: a
    keyed load keeps each NULL-id row — identical copies too — under an
    auto id that is distinct, apart from the real ids, and the same when
    the same input is loaded again."""
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    rows = [("a", 1, "old"), ("a", 2, "new"), (None, 1, "x"), (None, 1, "x"),
            (None, 3, "y"), (None, None, None), ("b", 1, "only")]
    df = spark.createDataFrame(rows, "id string, seq int, payload string")
    runs = []
    for order_by in (["seq"], ["seq"], []):
        out = dedup.dedup_last_write_wins(df.repartition(3), "id", order_by)
        runs.append(sorted(map(tuple, out.collect()), key=str))
    assert runs[0] == runs[1]
    for got in runs[::2]:
        ids = [r[0] for r in got]
        assert len(ids) == len(set(ids)) == 6 and None not in ids
        auto = sorted(
            ((r[1], r[2]) for r in got if r[0].startswith(dedup.AUTO_ID)), key=str
        )
        assert auto == sorted([(1, "x"), (1, "x"), (3, "y"), (None, None)],
                              key=str)
    assert ("a", 2, "new") in runs[0] and ("b", 1, "only") in runs[0]
    name = "null_id_idx"
    bulk_index_table(df, name, id_col="id", order_by=["seq"])
    try:
        assert spark.table(name).count() == 6
    finally:
        delete_index(spark, name)


def test_keyed_load_keeps_null_keys_of_non_string_key(spark):
    """A non-string key column cannot hold an auto id, but its NULL-key
    rows must not be dropped: each stays its own document under its
    NULL key, bit-identical copies included, with or without a write
    order."""
    rows = [(1, 1, "x"), (None, 2, "y"), (None, 3, "z"), (None, 3, "z"),
            (1, 0, "old")]
    df = spark.createDataFrame(rows, "id int, seq int, payload string")
    for order_by in (["seq"], []):
        got = dedup.dedup_last_write_wins(df.repartition(3), "id", order_by)
        got = sorted(map(tuple, got.collect()), key=str)
        assert [r for r in got if r[0] is None] == sorted(
            [(None, 2, "y"), (None, 3, "z"), (None, 3, "z")], key=str
        )
        assert len([r for r in got if r[0] == 1]) == 1
    got = dedup.dedup_last_write_wins(df, "id", ["seq"]).collect()
    assert (1, 1, "x") in map(tuple, got) and len(got) == 4


def test_keyed_load_without_order_by_is_one_join(spark):
    """A keyed load with no write-order column picks each id's winner
    by content fingerprint alone: one hash aggregate + the winner
    semi-join, however wide the row (substituting every column as the
    order vector doubled the plan per column: 256 joins at 8)."""
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    rows = [
        (str(i % 50), *[f"v{(i * (j + 3)) % 7}" for j in range(7)])
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "id string, " + ", ".join(f"c{j} string" for j in range(7))
    )
    plan = (
        dedup.dedup_last_write_wins(df, "id", [], keep="last")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert sum(
        1 for line in plan.splitlines()
        if line.lstrip(" :+-").startswith("Join ")
    ) == 1, plan
    name = "keyed_no_order_idx"
    bulk_index_table(df, name, id_col="id")
    try:
        got = spark.table(name).collect()
        assert sorted(r["id"] for r in got) == sorted({r[0] for r in rows})
        assert {tuple(r) for r in got} <= set(rows)  # each a real input row
    finally:
        delete_index(spark, name)


def test_dedup_exact_by_hash_unique_and_deterministic(spark, docs):
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 10**6))
    out = dedup.dedup_exact_by_hash(doubled, "text", "doc_id")
    # one survivor per distinct text, and it is the smallest id (< 10**6)
    assert out.count() == docs.select("text").distinct().count()
    assert out.filter(F.col("doc_id") >= 10**6).count() == 0


def test_bulk_index_parquet_roundtrip(spark, docs, tmp_path):
    n = bulk_index_parquet(docs, str(tmp_path / "idx"))
    assert n == docs.count()  # reference's count reconciliation
    back = spark.read.parquet(str(tmp_path / "idx"))
    assert back.count() == n


def test_index_ddl_lifecycle(spark):
    name = create_index(spark, "TestIdx_DDL")
    assert name == "testidx_ddl"  # lowercased like ES index names
    listed = [r["index_name"] for r in list_indices(spark).collect()]
    assert "testidx_ddl" in listed
    assert all(not x.startswith(".") for x in listed)
    assert delete_index(spark, "TESTIDX_DDL") is True
    assert delete_index(spark, "testidx_ddl") is False  # idempotent


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 50000.0)
        .select("o_orderkey")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_totalprice" in plan
    # column pruning: scan reads only the needed columns
    assert "ReadSchema" in plan and "o_comment" not in plan


def test_bulk_sink_file_hygiene(spark, sf_dir, tmp_path):
    """Compaction (target_files) and split (max_records_per_file) both
    control output file counts — the small-files/large-files knobs."""
    import os

    from bigdatasearchpro_spark.sinks.bulk import bulk_index_parquet
    from bigdatasearchpro_spark.sources.files import load_table

    li = load_table(spark, sf_dir, "lineitem").repartition(16)

    compact = str(tmp_path / "compact")
    n1 = bulk_index_parquet(li, compact, target_files=2)
    files = [f for f in os.listdir(compact) if f.endswith(".parquet")]
    assert len(files) == 2 and n1 == li.count()

    split = str(tmp_path / "split")
    n_rows = li.count()
    n2 = bulk_index_parquet(li.coalesce(1), split, max_records_per_file=max(1, n_rows // 5))
    files = [f for f in os.listdir(split) if f.endswith(".parquet")]
    assert len(files) >= 5 and n2 == n_rows


def test_incremental_load_watermark_cycle(spark, sf_dir, tmp_path):
    """Three-run cycle: full backfill, no-op on unchanged source, and
    delta-only pickup of newer rows; sink total always reconciles."""
    from bigdatasearchpro_spark.sources.incremental import incremental_load, read_watermark
    from bigdatasearchpro_spark.sources.files import load_table
    import pyspark.sql.functions as F

    o = load_table(spark, sf_dir, "orders")
    cutoff = o.selectExpr(
        "timestamp_micros(percentile(unix_micros(o_orderdate::timestamp), 0.7)::bigint)"
    ).first()[0]
    old = o.filter(F.col("o_orderdate") <= F.lit(cutoff))
    sink = str(tmp_path / "inc_sink")

    n1 = incremental_load(spark, old, sink, ts_col="o_orderdate")
    assert n1 == old.count() and read_watermark(sink) is not None

    n2 = incremental_load(spark, old, sink, ts_col="o_orderdate")
    assert n2 == 0  # unchanged source: nothing reloaded

    n3 = incremental_load(spark, o, sink, ts_col="o_orderdate")
    assert n3 == o.count() - old.count()  # only the newer window
    loaded = spark.read.parquet(sink + "/data")
    assert loaded.count() == o.count()
    assert loaded.select("o_orderkey").distinct().count() == o.count()


def test_incremental_load_numeric_watermark_crosses_digit_boundary(spark, tmp_path):
    """Numeric watermark columns must compare in the column's type
    domain: '100' > '99' numerically even though it sorts lower as a
    string."""
    from bigdatasearchpro_spark.sources.incremental import incremental_load

    sink = str(tmp_path / "num_sink")
    first = spark.range(0, 100).withColumnRenamed("id", "seq")  # max 99
    assert incremental_load(spark, first, sink, ts_col="seq") == 100
    extended = spark.range(0, 150).withColumnRenamed("id", "seq")  # adds 100..149
    assert incremental_load(spark, extended, sink, ts_col="seq") == 50
    assert spark.read.parquet(sink + "/data").count() == 150


def test_bulk_sink_append_counts_only_the_batch(spark, tmp_path):
    """ADVICE r1: 'rows written' under mode='append' must be the batch,
    not the accumulated sink total — and the count is an Observation
    (no re-scan of the committed output)."""
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_parquet, bulk_index_table

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    path = str(tmp_path / "append_idx")
    assert bulk_index_parquet(df, path, mode="overwrite") == 100
    assert bulk_index_parquet(df, path, mode="append") == 100
    assert spark.read.parquet(path).count() == 200

    assert bulk_index_table(df, "append_probe_tbl", mode="overwrite") == 100
    assert bulk_index_table(df, "append_probe_tbl", mode="append") == 100
    assert spark.table("append_probe_tbl").count() == 200
    spark.sql("DROP TABLE append_probe_tbl")


def test_bulk_sink_reconcile_opt_in(spark, tmp_path):
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_parquet

    df = spark.range(50).withColumnRenamed("id", "doc_id")
    assert bulk_index_parquet(df, str(tmp_path / "rec_idx"), reconcile=True) == 50


def test_index_name_validation_rejects_ddl_injection(spark):
    import pytest as _pytest

    from bigdatasearchpro_spark.operators.transform import normalize_index_name
    from bigdatasearchpro_spark.sinks.ddl import create_index

    for bad in ("a;drop table x", "tbl`x", "a b", "x(y)", ""):
        with _pytest.raises(ValueError):
            normalize_index_name(bad)
    with _pytest.raises(ValueError):
        create_index(spark, "okname", schema="a INT); DROP TABLE y; --")
    # normal names still pass (lowercased)
    assert normalize_index_name("  MixedCase_01 ") == "mixedcase_01"


def test_apply_changes_upsert_semantics(spark):
    from bigdatasearchpro_spark.operators.transform import apply_changes

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [(2, "U", "b2"), (3, "D", None), (4, "I", "d")], "k long, op string, v string"
    )
    got = {r.k: r.v for r in apply_changes(base, changes, "k").collect()}
    assert got == {1: "a", 2: "b2", 4: "d"}  # 3 deleted, 2 updated, 4 inserted

    import pytest

    with pytest.raises(ValueError, match="unknown change ops"):
        apply_changes(
            base,
            spark.createDataFrame([(1, "X", "x")], "k long, op string, v string"),
            "k",
        ).collect()
