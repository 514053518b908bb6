"""Deduplication operators (SURVEY.md L1 + the sink's LWW semantics).

The reference's only merge semantics is Elasticsearch's index-op
last-write-wins on ``_id`` (``BulkProcessImpl.java:124``): repeated ids
overwrite, null ids auto-generate (duplicates survive). Expressed
Spark-side as window/group dedup *before* the write so the sink itself
stays append-only and idempotent.

Scale notes: all variants are a single hash-shuffle on the key. At
100 TB the key shuffle is unavoidable (semantic requirement); skewed
keys are handled by AQE skew-join/agg splitting, and
``dedup_exact_by_hash`` pre-hashes wide payloads down to a 32-byte key
so shuffle volume is keys + row ids, not documents.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# prefix of the ids NULL keys get (ES auto ids): see dedup_last_write_wins
AUTO_ID = "_auto-"


def _shj(df: DataFrame) -> DataFrame:
    # the winner tables must JOIN hash-shuffled: an unhinted planner
    # falls back to sort-merge at corpus scale, which would SORT the
    # wide probe rows — the one thing this operator exists to avoid
    # (the test_plans gate pins it)
    return df.hint("shuffle_hash")


def dedup_exact(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Exact duplicate removal — ``dropDuplicates`` (hash shuffle + first
    row per key, map-side partial aggregation applies)."""
    return df.dropDuplicates(list(cols) if cols else None)


def dedup_last_write_wins(
    df: DataFrame,
    key: str,
    order_by: Sequence[str],
    *,
    keep: str = "last",
) -> DataFrame:
    """Keep exactly one row per ``key``, deterministically.

    ``keep='last'`` by ``order_by`` descending reproduces ES
    last-write-wins for repeated ``_id``; ``keep='first'`` gives
    keep-oldest. Ties on the full ``order_by`` vector break by content
    fingerprint (largest xxhash64 of the row), so the survivor set is
    deterministic across runs, partitionings, and task retries — for
    an input that reads the same on every scan.  The input is scanned
    more than once (the candidates, each reduction step, the final
    semi-join); a source that can change between scans (a table
    written concurrently, a nondeterministic upstream) must be
    persisted or checkpointed by the caller first.

    Implementation (the 100 TB shape): the winner per key is chosen on
    a NARROW projection — ``(key, order columns, fingerprint)``, a few
    machine words per row — by iterated lexicographic reduction: for
    each order column in turn, a hash aggregation finds the per-key
    extreme and a hash join keeps only the tied rows (``eqNullSafe``,
    so all-null keys survive; max/min skip nulls, so nulls lose to any
    value — "null writes never win"). A final hash aggregation on the
    fingerprint breaks remaining ties, and the winning rows are
    recovered by a HASH semi-join on ``(key, fingerprint)``
    (``shuffle_hash`` hints throughout: the probe side must not sort).
    Wide rows cross the wire once and are NEVER sorted.

    Why this shape — measured at sf1 (6M stringified lineitem rows,
    local[32]), winner selection alone:

    - ``max_by(struct(row), struct(order))``: struct aggregation
      buffers are not hash-aggregable, so Catalyst plans SortAggregate
      — the full wide rows sort TWICE (partial + final): ~180 s;
    - narrow ``row_number()`` window: WindowExec's per-group buffering
      over millions of tiny (1-2 row) groups: ~80 s;
    - this iterated hash-agg/hash-join reduction: ~8 s.

    An empty ``order_by`` skips the reduction: the winner per key is
    the row with the extreme content fingerprint alone — one hash
    aggregate plus the semi-join. Deterministic across runs and
    partitionings, but NOT arrival order (the keyed bulk load's
    no-write-order fallback).

    NULL keys (string key columns) get ES auto ids: ES indexes every
    NULL-id document under a generated id, so none of them collapses
    with another. Each NULL-key row is keyed ``_auto-<fingerprint as 16
    hex digits>`` for the reduction — its own group, since a NULL never
    equi-joins — and leaves as ``_auto-<hex>-<i>``, ``i`` = 1..n over
    the n bit-identical copies of the row. The ids are distinct from
    each other, the same when the same input is loaded again, and
    apart from real ids as long as no real id uses the ``_auto-``
    prefix. A non-string key column cannot hold such an id: its
    NULL-key rows join nothing in the reduction, so they are unioned
    back from the input by a narrow filter (no exchange), each its own
    document under its NULL key — bit-identical copies too, as the
    auto ids keep them apart on a string key.

    Identical duplicate rows (bit-equal content ⇒ equal fingerprint)
    all match the winning ``(key, fingerprint)``, so a final
    aggregation on ``(key, fingerprint)`` collapses them to the single
    row the contract requires (counting them, for the auto-id copies)
    — keyed by the SEMI-JOIN's own join keys,
    so the aggregation reuses the join's hash partitioning and adds NO
    Exchange (a full-row ``distinct()`` here re-shuffled the wide rows
    a second time: 8.5 s vs 2.9 s measured at sf0.1). Because the
    pass-through ``first()`` buffers are var-length, Catalyst plans
    this collapse as a SortAggregate — acceptable HERE and only here:
    it sorts partition-local, over rows already reduced to the winner
    set and already clustered by the join, never the corpus (the gate
    in ``tests/test_plans.py`` pins all of this: wide rows cross
    exactly ONE exchange, and no wide sort sits upstream of it).
    """
    ext_fn = F.max if keep == "last" else F.min
    # Spark's xxhash64 SKIPS null inputs entirely, so hashing the bare
    # columns would make rows that differ only in WHICH column is null
    # collide (e.g. (0, NULL, 0) and (0, 0, NULL)) and the winner
    # recovery below would resurrect the wrong row. Pairing every column
    # with its isNull() flag (a never-null boolean) makes the null
    # PATTERN part of the hash input stream, so such rows fingerprint
    # differently.
    fp = F.xxhash64(
        *[x for c in df.columns for x in (F.col(c).isNull(), F.col(c))]
    )
    # The plan stays lazy: the candidates re-derive from the input at
    # each scan rather than being persisted.  Under the throughput
    # collector the lazy plan beat persisting the candidates and
    # checkpointing the winner table on both the wide 17-column ETL
    # chain (3.5-3.7 s vs 4.6-5.1 s) and the thin l1 fixture (3.18 vs
    # 4.41 s).
    auto = isinstance(df.schema[key].dataType, T.StringType)

    def auto_id(fp_col):
        return F.format_string(AUTO_ID + "%016x", fp_col)

    def keyed(fp_col):
        return F.coalesce(F.col(key), auto_id(fp_col)) if auto else F.col(key)

    cand = df.select(
        keyed(fp).alias(key), fp.alias("__fp"), *[F.col(c) for c in order_by]
    )
    reduced = cand
    for c in order_by:
        ext = reduced.groupBy(key).agg(ext_fn(c).alias("__m"))
        reduced = (
            reduced.join(_shj(ext), key)
            .filter(F.col(c).eqNullSafe(F.col("__m")))
            .drop("__m")
        )
    winners = reduced.groupBy(key).agg(ext_fn("__fp").alias("__fp"))
    kept = (
        df.withColumn("__fp", fp)
        .withColumn(key, keyed(F.col("__fp")))
        .join(_shj(winners), [key, "__fp"], "left_semi")
    )
    others = [c for c in df.columns if c != key]
    grouped = kept.groupBy(key, "__fp").agg(
        *[F.first(c).alias(c) for c in others], F.count(F.lit(1)).alias("__n")
    )
    if not auto:
        return grouped.select(*df.columns).unionByName(
            df.filter(F.col(key).isNull())
        )
    # an auto-keyed group expands back to its n copies, numbered 1..n
    # (0 marks a real key)
    copy = F.explode(
        F.when(
            F.col(key) == auto_id(F.col("__fp")),
            F.sequence(F.lit(1), F.col("__n")),
        ).otherwise(F.array(F.lit(0)))
    ).alias("__i")
    out_key = F.when(
        F.col("__i") > 0, F.concat_ws("-", key, "__i")
    ).otherwise(F.col(key))
    return grouped.select("*", copy).select(*[
        out_key.alias(key) if c == key else F.col(c) for c in df.columns
    ])


def dedup_exact_by_hash(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Content-hash exact dedup: one row per distinct ``content_col``,
    keeping the smallest ``id_col`` (deterministic winner).

    ``sha2(content, 256)`` runs map-side; the shuffle then moves only
    (hash, id) pairs for the aggregation and a semi-join recovers the
    surviving rows — at 100 TB this avoids shuffling full documents.
    """
    hashed = df.withColumn("__h", F.sha2(F.col(content_col), 256))
    winners = hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return (
        hashed.join(winners, ["__h", id_col], "left_semi")
        .drop("__h")
    )


def soft_dedup_weights(
    df: DataFrame,
    content_col: str,
    *,
    weight_scale: int = 1_000_000,
) -> DataFrame:
    """SoftDeDup (He et al. 2024, "SoftDedup: an efficient data
    reweighting method for speeding up language model pre-training"):
    instead of DELETING duplicates, every document is kept and
    DOWN-WEIGHTED by its duplication count — ``weight = 1/n`` where
    ``n`` is the size of the document's exact-content group — so the
    expected contribution of each unique text to the training mix is
    one document regardless of how often it was crawled.  Deletion is
    the ``n -> keep 1`` special case; soft weighting preserves the
    (often higher-quality) duplicated text at proportionally reduced
    sampling temperature.

    Adds ``n_dups`` and ``weight_ppm`` (the 1/n weight on an exact
    1e6 integer grid — floor(1e6/n), engine-replayable; consumers
    divide once at use time).  Plan: one md5 content-key hash
    aggregate (map-side combine) + one key join back — the exact-dedup
    shuffle shape, with the payload reduced to (key, n) on the agg
    side.  No window, no global sort."""
    key = F.md5(F.col(content_col).cast("string")).alias("__ckey")
    counts = (
        df.select(key)
        .groupBy("__ckey")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    out = df.withColumn("__ckey", key).join(counts, "__ckey")
    return out.withColumn(
        "weight_ppm",
        (F.lit(int(weight_scale)) / F.col("n_dups")).cast("long"),
    ).drop("__ckey")
