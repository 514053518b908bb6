"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry at a given scale factor and compares the
result against ``oracle_sql()`` executed by DuckDB: row count, column
names, and order-insensitive value multiset. Queries without an oracle
get a rows-only sanity check (runs + schema is stable).

Usage: python tools/parity.py [sf_dir] [query_name ...]  (-h / --help: this line)
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package from the environment the
# JVM inherits, not from this process's sys.path: set it before the
# session starts, so the tool runs from any directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb

from bigdatasearchpro_spark.registry import ORACLES, QUERIES
from bigdatasearchpro_spark.session import get_spark
from bigdatasearchpro_spark.sources.files import TABLES


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:  # -0.0 == 0.0 numerically; repr() differs
            return "0.0"
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _rows_to_multiset(rows, col_order):
    return Counter(tuple(_norm(r[i]) for i in col_order) for r in rows)


def _spark_pandas_kind(field, values):
    """Predict the pandas dtype *kind* the driver sees for a Spark
    column after ``toPandas()`` (Arrow path): integral columns promote
    to float64 when they contain nulls; decimals become objects."""
    from pyspark.sql import types as T

    t = field.dataType
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "f" if any(v is None for v in values) else "i"
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return "f"
    if isinstance(t, T.BooleanType):
        return "b"
    if isinstance(t, T.TimestampType):
        return "M"
    return "O"


def _dtype_mismatches(sdf, s_rows, ddf):
    """Driver-hash dtype check (VERDICT r10 ask #3): the driver hashes
    pandas frames dtype-sensitively, so an int64 Spark column against a
    DuckDB column pandas renders as float64 (e.g. an uncast HUGEINT
    ``sum``) fails there even when every value is numerically equal.
    ``str()`` normalization below cannot see that class — this can.
    Returns [(col, spark_kind, duck_kind), ...] for int-vs-float
    conflicts (the class the driver actually distinguishes)."""
    d_kinds = {str(c).lower(): ddf.dtypes[c].kind for c in ddf.columns}
    bad = []
    for i, f in enumerate(sdf.schema.fields):
        col = f.name.lower()
        if col not in d_kinds:
            continue
        sk = _spark_pandas_kind(f, [r[i] for r in s_rows])
        dk = d_kinds[col]
        if {sk, dk} == {"i", "f"}:
            bad.append((col, sk, dk))
    return bad


def compare(name: str, spark, con, sf_dir: str) -> tuple[bool, str]:
    t0 = time.time()
    sdf = QUERIES[name](spark, sf_dir)

    # The driver's canonicalizer pandas-sorts EVERY entry's output
    # (rows-only ones included) and cannot hash array/map/struct cells
    # (TypeError: unhashable type) — so scalar-only output is a hard
    # requirement for the whole registry, enforced here before it can
    # cost a driver verdict (r2 lost a6_exact_quantiles and
    # l6_decode_features to exactly this).
    from pyspark.sql import types as T

    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    if complex_cols:
        return False, (
            f"NON-SCALAR OUTPUT {complex_cols}: driver canonicalizer cannot "
            "hash array/map/struct cells — posexplode to scalar rows"
        )

    s_cols = [c.lower() for c in sdf.columns]
    s_rows = sdf.collect()
    t_spark = time.time() - t0

    if name not in ORACLES:
        return True, f"rows-only: {len(s_rows)} rows, cols={s_cols} ({t_spark:.1f}s)"

    t0 = time.time()
    res = con.execute(ORACLES[name])
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()
    # second (cheap) duck execution as a pandas frame: the driver's
    # hash sees pandas dtypes, and DuckDB→pandas conversion is where
    # HUGEINT/DECIMAL silently become float64
    ddf = con.execute(ORACLES[name]).df()
    t_duck = time.time() - t0

    if sorted(s_cols) != sorted(d_cols):
        return False, f"SCHEMA MISMATCH spark={s_cols} duck={d_cols}"
    if len(s_rows) != len(d_rows):
        return False, f"ROWCOUNT MISMATCH spark={len(s_rows)} duck={len(d_rows)}"

    bad_dtypes = _dtype_mismatches(sdf, s_rows, ddf)
    if bad_dtypes:
        return False, (
            "DTYPE MISMATCH (driver hash is dtype-sensitive): "
            + ", ".join(f"{c}: spark={sk} duck={dk}" for c, sk, dk in bad_dtypes)
            + " — CAST the oracle (or the Spark column) so both are int or both float"
        )

    s_order = [s_cols.index(c) for c in sorted(s_cols)]
    d_order = [d_cols.index(c) for c in sorted(d_cols)]
    ms, md = _rows_to_multiset(s_rows, s_order), _rows_to_multiset(d_rows, d_order)
    if ms != md:
        only_s = list((ms - md).items())[:3]
        only_d = list((md - ms).items())[:3]
        return False, f"VALUE MISMATCH\n  spark-only: {only_s}\n  duck-only:  {only_d}"
    return True, f"OK {len(s_rows)} rows (spark {t_spark:.1f}s, duck {t_duck:.1f}s)"


USAGE = "usage: python tools/parity.py [sf_dir] [query_name ...]"


def main():
    args = [a for a in sys.argv[1:]]
    if any(a in ("-h", "--help") for a in args):
        print(USAGE)
        return
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    names = args or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown entry name(s): {', '.join(unknown)}\n{USAGE}")

    spark = get_spark("parity")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, t + ".parquet")
        # larger tiers (tools/gen_sfx.py) write each table as a
        # DIRECTORY of part files — glob them for DuckDB
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    failures = []
    for name in names:
        try:
            ok, msg = compare(name, spark, con, sf_dir)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION {type(e).__name__}: {e}"
        status = "PASS" if ok else "FAIL"
        print(f"[{status}] {name}: {msg}")
        if not ok:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if failures:
        print("failed:", ", ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
