"""Parse Spark physical plans into assertable facts.

Works off ``df._jdf.queryExecution().executedPlan().toString()`` (the
pre-execution adaptive plan) — string-level but version-stable enough
for the plan properties we gate on, and cheap (no job runs).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    # Scan metadata (PushedFilters/ReadSchema) is elided at 100 chars by
    # default, which cuts the closing bracket the parsers key on — widen it
    # for the duration of the toString.
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    prev = conf.get(key, None)
    conf.set(key, "100000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)


def read_schema(df: DataFrame) -> list[str]:
    """Column sets actually read by each file scan (column pruning)."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", executed_plan(df))


def partition_filters(df: DataFrame) -> list[str]:
    """PartitionFilters lists per scan (partition pruning: directories
    skipped by metadata alone, no file read)."""
    return re.findall(r"PartitionFilters: \[([^\]]*)\]", executed_plan(df))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists per scan (predicate pushdown)."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", executed_plan(df))


def has_broadcast_join(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_take_ordered(df: DataFrame) -> bool:
    """True when ORDER BY + LIMIT planned as TakeOrderedAndProject
    (per-partition heaps + driver merge — no global sort exchange)."""
    return "TakeOrderedAndProject" in executed_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (each is a full
    materialize-and-repartition of its input — the scale cost center).

    Counts EVERY shuffle kind — hash, range, round-robin (repartition),
    and SinglePartition (global agg/coalesce-to-one); Broadcast and
    Reused exchanges are not shuffles and are excluded by the word
    boundary. ``exchange_kinds`` breaks the count down.
    """
    return len(exchange_kinds(df))


def exchange_kinds(df: DataFrame) -> list[str]:
    """The partitioning kind of each shuffle exchange in the plan, e.g.
    ['hashpartitioning', 'roundrobinpartitioning']."""
    return re.findall(r"\bExchange (\w+)", executed_plan(df))


def wholestage_codegen_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans. More fused spans over the hot
    path = fewer virtual calls/row; interpreted operators (python UDFs,
    some higher-order funcs) break spans.

    Caveat: under AQE a plan containing exchanges reports
    ``AdaptiveSparkPlan isFinalPlan=false`` before execution and codegen
    wrapping hasn't happened yet — 0 spans there means "not decided",
    not "interpreted". Exchange-free plans (scans/filters/projections)
    bypass AQE and report real span counts pre-execution."""
    plan = executed_plan(df)
    # simple plan strings mark codegen spans as `*(N) Operator`; formatted
    # mode uses `[codegen id : N]` — accept both
    ids = set(re.findall(r"\*\((\d+)\)", plan)) | set(
        re.findall(r"\[codegen id : (\d+)\]", plan)
    )
    return len(ids)


def file_scan_count(df: DataFrame) -> int:
    """File-source scans in the plan (parquet/orc/csv leaves). The gate
    for single-scan operators: a query that should read its input once
    must show exactly one."""
    return len(re.findall(r"FileScan|BatchScan", executed_plan(df)))


def in_memory_scan_count(df: DataFrame) -> int:
    """Cache reads (InMemoryTableScan leaves) — evidence a plan reuses a
    persisted projection instead of rescanning the source."""
    return executed_plan(df).count("InMemoryTableScan")


def _walk_jvm_plan(node):
    """Yield every node of a JVM physical plan, descending through the
    AQE wrapper (whose children() is empty — the real tree hangs off
    initialPlan) and query-stage shells."""
    yield node
    name = node.nodeName()
    if "AdaptiveSparkPlan" in name:
        yield from _walk_jvm_plan(node.initialPlan())
        return
    kids = node.children()
    for i in range(kids.size()):
        yield from _walk_jvm_plan(kids.apply(i))


# Nodes that bound the row count of everything above them: a window
# sitting over any of these ranks a page/bucket-sized frame, not the
# corpus.  LocalTableScan and Scan ExistingRDD are driver-materialized
# rows (collect() / createDataFrame of an already-bounded page — the
# only way ExistingRDD arises in this repo, e.g. search_topk's
# materialized top-k); the rest cap or aggregate their input.
_BOUNDING_NODES = (
    "TakeOrderedAndProject", "GlobalLimit", "LocalLimit", "CollectLimit",
    "HashAggregate", "SortAggregate", "ObjectHashAggregate",
    "LocalTableScan", "Scan ExistingRDD",
)


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Unpartitioned Window nodes ranking an UNBOUNDED input — the
    real move-everything-to-one-task scale bug the 'No Partition
    Defined' log warning exists to flag.

    Every deliberate global window in this repo ranks a page (top-k
    merge, hybrid fusion window) or a bucket-cardinality aggregate
    output (pipeline aggs) — its subtree contains a limit/top-k/
    aggregate/local-rows node, so it is NOT returned.  A window whose
    empty-partition-spec subtree reaches a scan with no bounding node
    in between IS returned (its one-line description), and the
    test_plans gate fails on it.  This is the machine check that lets
    a harness mute Spark's per-query warning flood without a real
    unbounded window being able to hide in it."""
    def _bounded(node) -> bool:
        # bounded along EVERY path to a leaf: a bounding node caps its
        # whole subtree; otherwise every child must itself be bounded
        # (a join/union mixing a bounded lookup side with an unbounded
        # corpus side is UNBOUNDED — requiring 'any node anywhere'
        # would let a broadcast-joined corpus window slip the gate).
        name = node.nodeName()
        if name.startswith(_BOUNDING_NODES):
            return True
        if "AdaptiveSparkPlan" in name:
            return _bounded(node.initialPlan())
        if name.startswith("ReusedExchange"):
            # childless in the tree but REFERENCES another exchange —
            # recurse into the reused plan instead of treating the
            # node as an unbounded leaf (false positive under AQE
            # exchange reuse; r9 advice)
            return _bounded(node.child())
        kids = node.children()
        if kids.size() == 0:
            return False  # a scan leaf that isn't itself bounding
        return all(_bounded(kids.apply(i)) for i in range(kids.size()))

    flagged: list[str] = []
    for node in _walk_jvm_plan(df._jdf.queryExecution().executedPlan()):
        if node.nodeName() != "Window":
            continue
        try:
            if not node.partitionSpec().isEmpty():
                continue
        except Exception:
            continue  # not a WindowExec-shaped node
        kids = node.children()
        if not all(_bounded(kids.apply(i)) for i in range(kids.size())):
            flagged.append(node.nodeName() + ": " + node.simpleStringWithNodeId())
    return flagged


def wide_shuffle_count(df: DataFrame, wide_cols: "list[str]") -> int:
    """Shuffle exchanges whose OUTPUT carries any of ``wide_cols`` —
    i.e. how many times the wide payload actually crosses the wire.
    (The textual plan can't answer this: Exchange lines print only the
    partitioning expressions, not the rows they move.) Broadcast and
    reused exchanges don't count."""
    wide = set(wide_cols)
    n = 0
    for node in _walk_jvm_plan(df._jdf.queryExecution().executedPlan()):
        if node.nodeName() != "Exchange":
            continue
        out = node.output()
        names = {out.apply(i).name() for i in range(out.size())}
        if names & wide:
            n += 1
    return n
