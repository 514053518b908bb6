"""Structured Streaming pipelines (SURVEY.md §2.9).

The reference's only "streaming" is a one-shot JDBC cursor drained into
micro-batches (reference ``BulkProcessImpl.java:120-130``: 200k-row app
buffer -> 10k-action bulks, time-based flush at ``:189``). Its faithful
Spark analogue is ``foreachBatch`` + the bulk sink; the windowed /
watermark / dedup operators are the [EXT] streaming surface built on the
same ``events`` schema.

Every transformation here is identical in batch and streaming mode (the
DataFrame programs are the unchanged registry ones); tests execute them
with ``trigger(availableNow=True)`` against a file source and assert
bit-equality with the batch results.

Scale notes: stateful operators bound their state with watermarks
(late rows beyond the delay are dropped, state for closed windows is
evicted); state lives in the executor state store, partitioned by the
grouping key, so a 1000-executor cluster shards state horizontally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def events_stream(
    spark: SparkSession,
    events_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    A file-source stream needs an explicit schema, and hard-coding one
    is exactly how batch and stream diverge (a fixture that switches
    between TIMESTAMP(NANOS) and TIMESTAMP(MICROS) silently breaks a
    baked-in Long + rescale). So the schema is PROBED from the files'
    parquet footers via a batch read — metadata only, no data scan —
    and ``ts`` is then normalized by the SAME ``normalize_events_ts``
    helper the batch loader uses (sources/files.py), gated on the
    actual column type. Watermarks require TIMESTAMP (not NTZ); under
    the UTC session timezone the bucket boundaries match the batch
    loader's NTZ values.

    When the directory has no parquet files yet — the normal file-source
    pattern of subscribing to a not-yet-populated directory — the probe
    cannot infer anything, so it falls back to the canonical events
    schema (microsecond ts); once files land they are read under that
    schema, and a later NANOS fixture would still be caught by the
    type-gated normalizer on the next probe-able restart.
    """
    from bigdatasearchpro_spark.sources.files import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = spark.read.parquet(events_dir).schema
    except Exception:  # empty/absent dir: unable to infer schema
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(events_dir)
    return normalize_events_ts(df, to="timestamp")


def tumbling_agg(events: DataFrame, *, window: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Tumbling-window counts/sums with late-data drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(events: DataFrame, *, window: str = "10 minutes", slide: str = "5 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Sliding-window aggregation (each event lands in window/slide windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


def session_agg(events: DataFrame, *, gap: str = "30 minutes", watermark: str = "60 minutes") -> DataFrame:
    """Per-user session windows closed by inactivity ``gap``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def windowed_distinct_users(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    rsd: float = 0.02,
) -> DataFrame:
    """Tumbling-window distinct-user counts via ``approx_count_distinct``
    (HLL++) — the aggregate Structured Streaming actually supports
    (exact COUNT DISTINCT is not a streaming aggregate: its state is
    the value set; the sketch's state is KB-bounded and mergeable).
    HLL++ is a deterministic algorithm, so the stream result equals the
    batch result bit-for-bit (tested), and at 100 TB/day the per-window
    state is the sketch, not the user set."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("n_users_approx"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n_users_approx",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str], *, watermark: str = "30 minutes") -> DataFrame:
    """Streaming dedup: first event per key wins; state bounded by the
    watermark (dropDuplicatesWithinWatermark)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def foreach_batch_bulk_sink(
    stream: DataFrame,
    out_dir: str,
    *,
    checkpoint_dir: str,
    id_col: str | None = None,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Micro-batch bulk load — the direct analogue of the reference's
    cursor->BulkProcessor loop (``BulkProcessImpl.java:120-130``): each
    micro-batch is appended via the same batched writer used for bulk
    ETL, with optional per-batch keep-one dedup on ``id_col``: a batch
    carries no write-order column, so the winner is the row with the
    greatest content fingerprint (see ``bulk_index_table``) —
    deterministic across runs and partitionings, but NOT arrival order.
    """
    from bigdatasearchpro_spark.operators.dedup import dedup_last_write_wins

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        df = batch_df
        if id_col is not None:
            df = dedup_last_write_wins(df, id_col, [], keep="last")
        df.write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_to_completion(
    stream_df: DataFrame,
    *,
    checkpoint_dir: str,
    output_mode: str = "complete",
    timeout_sec: int = 120,
) -> DataFrame:
    """Execute a streaming DataFrame with availableNow to a memory sink
    and return the final result as a batch DataFrame (test harness)."""
    name = f"mem_{abs(hash((stream_df._jdf.toString(), checkpoint_dir))) % 10**9}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming query {name!r} did not finish within {timeout_sec}s; "
            "partial results discarded"
        )
    return stream_df.sparkSession.table(name)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "user_id",
    max_lag: str = "60 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each left event paired with the
    right events of the same key in ``[left.ts - max_lag, left.ts]``.

    Both sides carry watermarks and the join condition bounds the time
    range in BOTH directions — that pair is what lets Spark expire
    buffered state (an unbounded stream-stream join would hold every
    row forever). State is keyed by ``on`` and sharded across
    executors; per-key state size is bounded by rate x max_lag.
    The same program joins two batch DataFrames identically (tested).
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{on} = r.{on} AND r.ts <= l.ts "
            f"AND r.ts >= l.ts - INTERVAL {max_lag}"
        ),
    ).select(
        F.col(f"l.{on}").alias(on),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
        F.col("l.value").alias("left_value"),
        F.col("r.value").alias("right_value"),
    )


def streaming_eql_2step(
    step1: DataFrame,
    step2: DataFrame,
    *,
    on: str = "user_id",
    within: str = "60 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """EQL 2-step sequence detection ON STREAMS: head-matched
    ``sequence by <on> [step1] [step2] within <within>`` — each step-1
    event pairs with its EARLIEST qualifying step-2 event (ties by
    event id), exactly the batch ``operators/eql.eql_sequence``
    semantics for two steps.

    Streaming shape: a watermarked stream-stream interval join (time
    band bounded in both directions, so join state expires) followed
    by a streaming min-struct aggregate keyed by the step-1 event —
    the multiple-stateful-operators pipeline Spark supports in append
    mode since 3.4; the aggregate's group finalizes when the watermark
    passes ``ts_1 + within``, which is also when no earlier step-2
    match can still arrive, so head matching is exact.  The same
    program runs identically over batch frames (the st16 registry
    entry; stream==batch proven in tests/test_streaming.py)."""
    a = step1.withWatermark("ts", watermark).alias("a")
    b = step2.withWatermark("ts", watermark).alias("b")
    j = a.join(
        b,
        F.expr(
            f"a.{on} = b.{on} AND b.ts > a.ts "
            f"AND b.ts <= a.ts + INTERVAL {within}"
        ),
    )
    return (
        j.groupBy(
            F.col(f"a.{on}").alias(on),
            F.col("a.ts").alias("ts_1"),
            F.col("a.event_id").alias("id_1"),
        )
        .agg(F.min(F.struct(F.col("b.ts"), F.col("b.event_id"))).alias("m"))
        .select(
            on, "ts_1", "id_1",
            F.col("m.ts").alias("ts_2"),
            F.col("m.event_id").alias("id_2"),
        )
    )


def stage_time_sliced_replay(
    events: DataFrame,
    src_dir: str,
    *,
    n_slices: int = 3,
    sentinel_gap_minutes: int | None = None,
    sentinel_uid: int = -1,
) -> None:
    """Stage a batch events table as ``n_slices`` time-ordered parquet
    files for a deterministic multi-batch file-source replay (mod-time
    ordering), optionally followed by two far-future sentinel rows that
    push the watermark past every real session and give event-time
    timers a batch to fire in.

    Shared by the stateful-sessionizer registry entry and its tests —
    sentinel rows are built by field NAME against the events schema, so
    a fixture column reorder fails loudly instead of feeding a
    timestamp into user_id.

    Scale design: each slice is written by a DISTRIBUTED range-filtered
    write — only the ``n_slices - 1`` quantile cut points and the max
    timestamp ever reach the driver, so staging a 100 TB events table is
    n_slices filtered scans, not a driver OOM.
    """
    import datetime
    import os
    import shutil
    import tempfile
    import time as _time

    spark = events.sparkSession
    ts_us = events.withColumn("__us", F.unix_micros(F.col("ts").cast("timestamp")))
    # One pass for the cut points AND the max (prob 1.0 == exact max).
    probs = [i / n_slices for i in range(1, n_slices)] + [1.0]
    *cuts, max_us = ts_us.stat.approxQuantile("__us", probs, 0.001)
    if max_us is None:
        raise ValueError("cannot stage an empty events table")

    # Half-open [lo, hi) slices; the last is unbounded above, so every
    # row lands in exactly one slice even with heavy timestamp ties.
    slice_expr = F.lit(n_slices - 1)
    for i in reversed(range(n_slices - 1)):
        slice_expr = F.when(F.col("__us") < F.lit(cuts[i]), i).otherwise(slice_expr)
    sliced = ts_us.withColumn("__slice", slice_expr).drop("__us")

    n_total = n_slices
    if sentinel_gap_minutes is not None:
        base = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=int(max_us))
        fields = [f.name for f in events.schema.fields]
        for j in (1, 2):
            vals = {
                "event_id": 10**9 + j,
                "ts": base + datetime.timedelta(minutes=sentinel_gap_minutes * 10 * j),
                "user_id": sentinel_uid,
                "event_type": "sentinel",
                "value": 0.0,
                "props": "{}",
            }
            missing = set(fields) - set(vals)
            if missing:
                raise ValueError(f"events schema gained columns {missing}")
            sliced = sliced.unionByName(
                spark.createDataFrame(
                    [tuple(vals[f] for f in fields)], events.schema
                ).withColumn("__slice", F.lit(n_slices + j - 1))
            )
        n_total += 2

    # ONE distributed job writes every slice (dynamic partition dirs);
    # the copy loop below only renames small local part files.
    os.makedirs(src_dir, exist_ok=True)
    stage_root = tempfile.mkdtemp(prefix="slice_stage_")
    sliced.repartition("__slice").write.mode("overwrite").partitionBy("__slice").parquet(
        stage_root
    )
    for i in range(n_total):
        stage = f"{stage_root}/__slice={i}"
        if not os.path.isdir(stage):  # empty slice (heavy ts ties): no batch
            continue
        # copy EVERY part file: repartition("__slice") sends a slice to
        # one task, but AQE splits oversized shuffle partitions, so a
        # big slice writes SEVERAL parts — taking only the first
        # silently dropped the rest (invisible at test SF, a data-loss
        # bug at sf1+).  Files within a slice share a mod-time bucket;
        # the per-slice sleep keeps INTER-slice replay order, which is
        # the ordering the stateful tests rely on.
        parts = sorted(p for p in os.listdir(stage) if p.endswith(".parquet"))
        for k, part in enumerate(parts):
            shutil.copy(f"{stage}/{part}", f"{src_dir}/slice_{i}_{k}.parquet")
        _time.sleep(0.1)  # distinct mod-times -> deterministic replay order


_SNAPSHOT_MANIFEST = "_MANIFEST"


def _snapshot_current(snapshot_dir: str) -> str | None:
    """Resolve the published version directory, or None if never
    published. The manifest is a one-line pointer file replaced with
    ``os.replace`` (atomic on POSIX), so a reader always resolves a
    fully-written version — there is no window where neither the old
    nor the new snapshot exists."""
    import os

    manifest = os.path.join(snapshot_dir, _SNAPSHOT_MANIFEST)
    if not os.path.isfile(manifest):
        return None
    with open(manifest, encoding="utf-8") as f:
        version = f.read().strip()
    vdir = os.path.join(snapshot_dir, version)
    return vdir if os.path.isdir(vdir) else None


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Read the current published CDC snapshot (manifest-resolved)."""
    current = _snapshot_current(snapshot_dir)
    if current is None:
        raise FileNotFoundError(f"no published snapshot under {snapshot_dir}")
    return spark.read.parquet(current)


def apply_cdc_batch(
    batch_df: DataFrame,
    batch_id: int,
    snapshot_dir: str,
    key: str,
    *,
    op_col: str = "op",
) -> None:
    """Merge ONE micro-batch of I/U/D change rows into the snapshot and
    publish the result atomically.

    Publish protocol (crash-safe at every step, replay-idempotent):

    1. read the base state via the manifest pointer (missing manifest ⇒
       empty base);
    2. write the merged state to a fresh version dir ``v_{batch_id}``
       (``overwrite`` mode, so a replay of the same batch rewrites the
       same dir);
    3. flip the manifest pointer with write-temp + ``os.replace`` —
       atomic, so a crash before the flip leaves the old version
       published and the checkpoint replays this batch from the SAME
       base, while a crash after the flip is a completed batch;
    4. GC version dirs older than the previous one (the previous is
       kept so an in-flight reader that resolved the pointer just
       before the flip still finds its files).

    Step 2's leftover dir after a crash is harmless: nothing references
    an unpublished version, and the replay overwrites it.
    """
    import os
    import shutil

    from bigdatasearchpro_spark.operators.transform import apply_changes

    spark = batch_df.sparkSession
    data_cols = [c for c in batch_df.columns if c != op_col]
    os.makedirs(snapshot_dir, exist_ok=True)
    current = _snapshot_current(snapshot_dir)
    if current is not None:
        base = spark.read.parquet(current)
    else:
        base = spark.createDataFrame([], batch_df.drop(op_col).schema)
    merged = apply_changes(base, batch_df, key, op_col=op_col).select(data_cols)

    version = f"v_{batch_id}"
    merged.write.mode("overwrite").parquet(os.path.join(snapshot_dir, version))

    manifest = os.path.join(snapshot_dir, _SNAPSHOT_MANIFEST)
    tmp = manifest + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(version + "\n")
    os.replace(tmp, manifest)  # atomic pointer flip

    published = sorted(
        (
            d
            for d in os.listdir(snapshot_dir)
            if d.startswith("v_") and os.path.isdir(os.path.join(snapshot_dir, d))
        ),
        key=lambda d: int(d[2:]),
    )
    for stale in published[:-2]:  # keep current + previous for live readers
        shutil.rmtree(os.path.join(snapshot_dir, stale), ignore_errors=True)


def streaming_apply_changes(
    change_stream: DataFrame,
    snapshot_dir: str,
    key: str,
    *,
    checkpoint_dir: str,
    op_col: str = "op",
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming CDC apply: each micro-batch of I/U/D change rows is
    merged into the parquet snapshot via the batch
    ``transform.apply_changes`` (upsert + delete), so the snapshot
    converges to the same state as a batch apply of the full feed —
    the reference's bulk loop (append-only LWW,
    ``BulkProcessImpl.java:120-137``) upgraded to honor deletes.

    Each batch publishes a new VERSION directory and atomically flips a
    manifest pointer (see ``apply_cdc_batch``): readers resolving via
    ``read_snapshot`` always see a complete snapshot, and a crash at
    any point replays the batch against the still-published old
    version — no rename window where the live dir is absent.
    foreachBatch + the checkpoint give exactly-once per-batch
    application. At scale the rewrite cost is bounded the standard way:
    partition the snapshot by a key prefix and rewrite only partitions
    the batch touches (copy-on-write lakehouse semantics, same
    version-and-pointer publish per partition).
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(batch_df, batch_id, snapshot_dir, key, op_col=op_col)

    return (
        change_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_static_enriched_agg(
    events: DataFrame,
    dim: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static join + windowed aggregation: each micro-batch of
    the event stream joins against a STATIC dimension (here a
    user -> market-segment table), then aggregates per (window,
    segment) — the canonical streaming-enrichment pipeline.

    Scale: a stream-static inner join is STATELESS in Structured
    Streaming (no join state, no watermark needed for the join itself —
    only the windowed agg keeps state, watermark-bounded). The dim side
    is broadcast: each executor joins its micro-batch partitions
    map-side, so the stream never shuffles for the join; the only
    exchange is the windowed aggregation's, keyed on (window, segment).
    A dim too big to broadcast would hash-join per micro-batch —
    still stateless, re-planned by AQE each batch."""
    from pyspark.sql.functions import broadcast

    j = events.join(broadcast(dim), events["user_id"] == dim["c_custkey"])
    return (
        j.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "c_mktsegment")
        .agg(
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            F.col("c_mktsegment").alias("segment"),
            "sum_value",
            "n_events",
        )
    )


def streaming_percolate(
    doc_stream: DataFrame,
    registered: DataFrame,
    *,
    id_col: str = "event_id",
    text_col: str = "event_type",
    analyzer: str = "standard",
) -> DataFrame:
    """Streaming ALERTING: match every streamed document against the
    registered percolator queries (saved searches) — the reverse-search
    pipeline behind "notify me when a matching doc arrives".

    A stream-static token join is STATELESS (the stored-queries side is
    static per run; re-registering queries restarts the stream like ES
    percolator mapping updates): each micro-batch explodes its docs to
    (id, token), joins the exploded query-term table, and one
    distinct-matched-terms agg emits (doc, query) alerts — exactly
    :func:`search.percolate_many` per micro-batch, with only the agg's
    exchange keyed on the pair. Append-mode friendly: every alert is
    emitted once, in the batch its document arrived."""
    # No salting: the query side is broadcast, so the join has no
    # per-term reducer key to skew.
    from bigdatasearchpro_spark.operators.search import _term_join

    return _term_join(
        registered, doc_stream, id_col=id_col, text_col=text_col,
        query_id_col="query_id", analyzer=analyzer,
    ).select(id_col, "query_id")


def streaming_percolate_dsl(
    doc_stream: DataFrame,
    registered: DataFrame,
    *,
    k: int = 3,
    id_col: str = "event_id",
    text_col: str = "event_type",
    analyzer: str = "standard",
    numeric_fields: tuple = ("value",),
) -> DataFrame:
    """Streaming ALERTING over the full percolator DSL — each streamed
    document's top-``k`` matched stored rules (term clause — any/all/
    minimum_should_match — composed with range / match_phrase /
    must_not / exists / prefix residuals, AND or bool.should via
    ``residual_min_match``), the "notify me when a matching doc
    arrives" pipeline with real alert rules instead of bare
    term-sets.

    Scale shape: the registered side is compiled ONCE at plan time
    into the broadcast inverted index + residual tables (ES itself
    bounds percolator indices), and every micro-batch runs the top-k
    emitter of the one bounded percolation kernel
    (``search._percolate_kernel``, the kernel behind
    :func:`search.percolate_mixed_topk`): ONE stateless Arrow
    ``mapInPandas`` pass — zero shuffle, zero state store, <= k alert
    rows per document.  Because the kernel is per-row, append mode
    emits EXACTLY the batch percolation of each arriving document,
    once, in its own batch — there is nothing to reconcile at the
    sink.  (The term-set form
    :func:`streaming_percolate` keeps its broadcast token join; this
    form exists because a join cannot evaluate per-rule residuals
    without carrying every doc's residual columns through the pair
    exchange.)"""
    from bigdatasearchpro_spark.operators.search import (
        _percolate_kernel,
        _rule_table,
    )

    rules = _rule_table(registered, "query_id")
    return _percolate_kernel(
        doc_stream, rules, rules.collect(), k=k, id_col=id_col,
        text_col=text_col, query_id_col="query_id", analyzer=analyzer,
        numeric_fields=numeric_fields,
    )
