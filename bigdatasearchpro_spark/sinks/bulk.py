"""Bulk sink (SURVEY.md S3): batched, idempotent, last-write-wins write.

The reference streams rows into an Elasticsearch ``BulkProcessor``
(batch 10k actions / 300 MB, 10 concurrent in-flight requests, retry
1 s x 3 — reference ``BulkProcessImpl.java:124-126, 134-137, 186-190``).
In Spark the equivalent decomposition is:

- *batching*     -> one writer task per partition; partition count is
  the concurrency knob (``df.repartition(n)`` ≈ the reference's 10
  in-flight bulks);
- *idempotency*  -> last-write-wins keep-one by the id column BEFORE
  the write (``dedup_last_write_wins``), mirroring repeated-``_id``
  overwrite semantics (``BulkProcessImpl.java:124``);
- *retries*      -> Spark task retries (``spark.task.maxFailures``) and,
  for a real ES cluster, the es-hadoop connector's
  ``es.batch.write.retry.count/wait`` options (see
  :func:`es_bulk_sink_conf`).

Tests/bench write parquet "indices" — same per-partition batched write
path, no external cluster needed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from bigdatasearchpro_spark.operators.transform import normalize_index_name

# Observers fired after an index's content is replaced, extended or
# dropped, with the NORMALIZED index name: every bulk_index_table write
# (bulk, reindex, restore, transform dest, resize), every staged
# rewrite (force-merge, by-query writes, mixed bulk), a routed shard
# overwrite and an index delete.  api.py registers the
# materialized-ANN-layout invalidator here, so no write path can leave
# a stale IVF layout behind (per-call-site invalidation missed four of
# five paths: ann search served deleted vectors after a re-bulk).
# Per-index state keyed by content belongs here too.  sinks/ must not
# import api (cycle), hence the hook.
ON_CONTENT_WRITE: "list[Callable[[str], None]]" = []


def content_written(name: str) -> None:
    """Fire :data:`ON_CONTENT_WRITE` for index ``name``."""
    nn = normalize_index_name(name)
    for hook in ON_CONTENT_WRITE:
        hook(nn)


def bulk_index_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    target_files: int | None = None,
    reconcile: bool = False,
    dictionary: bool = False,
) -> int:
    """Write ``df`` as a parquet "index"; returns rows written.

    ``dictionary=False`` (default) disables parquet dictionary
    encoding: the bulk sink writes STRINGIFIED documents whose columns
    are high-cardinality by construction (ids, stringified numerics —
    reference ``BulkProcessImpl.java:113-117``), where the encoder
    builds a per-chunk dictionary only to abandon it at the size cap.
    Measured at sf1 (4.6M stringified rows, local[32]): 28.9 s with
    dictionary vs 10.8 s without, for 182M vs 259M on disk — the bulk
    path sells ~40% size for 2.7x write throughput, the right trade
    for an ETL sink whose yardstick is rows/s. Pass ``dictionary=True``
    for low-cardinality/typed payloads where it wins both ways.

    File-size hygiene (the 100 TB concern the reference never had —
    its "files" were ES shards): ``max_records_per_file`` caps oversize
    outputs by splitting within a task; ``target_files`` coalesces
    many small task outputs into few files (compaction — a directory of
    thousands of KB-files makes every later scan pay per-file open +
    listing cost).

    The returned count is an ``Observation`` metric accumulated DURING
    the write — no second job, no re-scan of the committed output.
    ``reconcile=True`` additionally re-reads the sink and checks the
    committed count (the reference's load reconciliation — logged totals
    vs ``SELECT count(1)``, reference README.md:803-806); at 100 TB that
    second full scan is why it is opt-in. Only meaningful for
    ``mode='overwrite'`` (an appended sink's total includes prior
    batches).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if target_files is not None:
        df = df.coalesce(target_files)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))
    writer = df.write.mode(mode).option(
        "parquet.enable.dictionary", "true" if dictionary else "false"
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    n = int(obs.get["rows_written"])
    if reconcile and mode == "overwrite":
        committed = df.sparkSession.read.parquet(path).count()
        if committed != n:
            raise RuntimeError(
                f"sink reconciliation failed: wrote {n} rows, committed {committed}"
            )
    return n


def bulk_index_table(
    df: DataFrame,
    name: str,
    *,
    id_col: str | None = None,
    order_by: list[str] | None = None,
    mode: str = "overwrite",
    routing_col: str | None = None,
    n_shards: int = 8,
) -> int:
    """Save as a catalog table (lowercased name, reference
    ``BulkProcessImpl.java:64``); optional pre-write keep-one dedup on
    ``id_col``.

    ``routing_col`` is ES custom routing: the index is written
    PARTITIONED by ``__shard = pmod(xxhash64(routing), n_shards)``, so
    a routed search prunes to one shard directory at the SCAN (the
    partition-pruning equivalent of ES hitting one shard instead of
    fanning out — the reason custom routing exists at scale).

    True last-write-wins needs a write-order column — pass it as
    ``order_by`` (ingest timestamp, sequence number). Without one the
    winner is the row with the greatest content fingerprint (xxhash64
    over every column; one hash aggregate, however wide the row):
    deterministic across runs and partitionings, but NOT arrival order
    — a batch DataFrame has no inherent write order to recover.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark.operators.dedup import dedup_last_write_wins
    from bigdatasearchpro_spark.sinks import ddl

    if id_col is not None:
        df = dedup_last_write_wins(df, id_col, order_by or [], keep="last")
    # rows written = this batch, observed during the write itself — a
    # table re-count would re-scan the sink and, under mode='append',
    # inflate the result with pre-existing rows.
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))
    if routing_col is not None:
        if routing_col not in df.columns:
            raise ValueError(f"routing column {routing_col!r} not in frame")
        if n_shards < 1:
            raise ValueError("n_shards must be >= 1")
        df = df.withColumn(
            "__shard", ddl.routing_shard_expr(F.col(routing_col), n_shards)
        )
    # stringified index payloads are high-cardinality: dictionary
    # encoding costs ~2.7x write wall for these (see bulk_index_parquet)
    writer = df.write.mode(mode).option("parquet.enable.dictionary", "false")
    if routing_col is not None:
        writer = writer.partitionBy("__shard")
    # a bulk of DOCUMENTS into an existing index must not erase its
    # mappings/settings (ES never touches them on document writes) —
    # but saveAsTable overwrite drops + recreates the table, losing
    # every property.  Capture the data-independent ones (per-field
    # analyzers, the shards setting) and re-apply after the write;
    # bdsp.routing is NOT preserved — it describes the physical layout
    # this very write determines.
    spark = df.sparkSession
    nn = normalize_index_name(name)
    keep: "dict[str, str]" = {}
    # tableExists first: probing properties of a not-yet-existing
    # target would throw (caught) but still log an ERROR through the
    # execution-listener bus on every fresh bulk
    if (mode == "overwrite" and spark.catalog.tableExists(nn)
            and ddl.is_index_table(spark, nn)):
        keep = ddl.data_settings(ddl.index_props(spark, nn))
    writer.saveAsTable(nn)
    # stamp the table as an index so list_indices / `_all` search see it
    # (the catalog also holds non-index tables and temp views, which ES
    # would never list — sinks/ddl.py INDEX_MARKER)
    ddl.mark_index_table(spark, name)
    if routing_col is not None:
        import json as _json

        keep[ddl.ROUTING_PROP] = _json.dumps(
            {"col": routing_col, "shards": int(n_shards)}, sort_keys=True
        )
    ddl.set_index_props(spark, nn, keep)
    content_written(nn)
    return int(obs.get["rows_written"])


def es_bulk_sink_conf(
    index: str,
    id_col: str = "S_GUID",
    *,
    nodes: str = "localhost:9200",
    batch_entries: int = 10_000,
    batch_bytes: str = "300mb",
    retries: int = 3,
    retry_wait: str = "1s",
) -> dict[str, str]:
    """Writer options for the es-hadoop connector, matching the
    reference's BulkProcessor tuning one-for-one
    (``BulkProcessImpl.java:186-190``): batch size 10k actions / 300 MB,
    retry 1 s x 3, idempotent upsert by document id
    (``BulkProcessImpl.java:124``).

    Usage (cluster with ES + the connector jar on the classpath)::

        df.write.format("es").options(**es_bulk_sink_conf("myindex")) \\
          .mode("append").save(index.lower())
    """
    return {
        "es.nodes": nodes,
        "es.resource": normalize_index_name(index),
        "es.mapping.id": id_col,
        "es.batch.size.entries": str(batch_entries),
        "es.batch.size.bytes": batch_bytes,
        "es.batch.write.retry.count": str(retries),
        "es.batch.write.retry.wait": retry_wait,
        "es.write.operation": "index",  # last-write-wins, like IndexRequest
    }


def apply_bulk_actions(
    base: DataFrame,
    actions: DataFrame,
    *,
    id_col: str = "_id",
    seq_col: str = "seq",
    op_col: str = "op",
) -> "tuple[DataFrame, DataFrame]":
    """Mixed-action ``_bulk`` semantics (ES ``index`` / ``create`` /
    ``update`` / ``delete`` action lines over one index) as a pure
    DataFrame transform: returns ``(new_state, items)``.

    The reference's sink is index-only LWW (``BulkProcessImpl.java:124``
    builds only ``IndexRequest``); real ES ``_bulk`` also takes
    ``create`` (fail on exists), ``update`` (partial doc merge, fail on
    missing), ``delete`` (noop on missing), applied IN ORDER within the
    batch, plus ``if_seq_no`` optimistic-concurrency guards.  Here:

    - actions group per id and ``array_sort`` by ``seq_col``; the whole
      in-order replay is ONE JVM-side ``F.aggregate`` fold over the
      sorted action array — no UDF, no per-row Python, statuses
      accumulated alongside the doc state;
    - ``update`` merges column-wise (``coalesce(new, old)`` — the
      partial-doc semantics; a NULL payload cell means "leave as is");
      an optional boolean ``doc_as_upsert`` column makes an update on
      a missing doc CREATE it from the partial doc (ES
      ``doc_as_upsert: true``) instead of failing;
    - optional ``if_seq_no`` column: a guarded ``index``/``update``/
      ``delete`` whose expected seq doesn't match the doc's current
      ``_seq_no`` (base column if present, else 0; +1 per applied
      action) is rejected with ``version_conflict``, like ES;
      ``_seq_no`` is MONOTONIC per id even across delete+recreate —
      the ES shard counter never resets (differential-tested against
      a Python replay over randomized batches);
    - 100 TB shape: the fold touches ONLY the batch's ids; the new
      state is ``base ANTI-JOIN touched-ids`` (broadcast — the batch is
      small by construction, so the base table never shuffles) union
      the folded survivors.

    ``items`` is the per-action result table (ES bulk response items):
    ``(seq, id, op, result)`` with results in
    created/updated/deleted/not_found/document_missing/version_conflict.
    """
    from pyspark.sql import functions as F

    payload = [c for c in base.columns if c not in (id_col, "_seq_no")]
    bad = [c for c in actions.columns
           if c not in (id_col, seq_col, op_col, "if_seq_no",
                        "doc_as_upsert", *payload)]
    if bad:
        raise ValueError(f"action columns not in index schema: {bad}")
    ops_ok = F.col(op_col).isin("index", "create", "update", "delete")
    # NULL ops must be rejected HERE: `~NULL` is NULL under three-valued
    # logic, so a plain `filter(~ops_ok)` silently drops them from the
    # check and they'd fall through the fold's status chain to its
    # `.otherwise('deleted')` — a no-op action reported as deleted.
    if actions.filter(F.col(op_col).isNull() | ~ops_ok).limit(1).count():
        raise ValueError("op must be one of index/create/update/delete")

    a = actions
    if "if_seq_no" not in a.columns:
        a = a.withColumn("if_seq_no", F.lit(None).cast("long"))
    if "doc_as_upsert" not in a.columns:
        a = a.withColumn("doc_as_upsert", F.lit(False))
    for c in payload:
        if c not in a.columns:
            a = a.withColumn(c, F.lit(None).cast(dict(base.dtypes)[c]))
    acts = a.groupBy(F.col(id_col).alias("__id")).agg(
        F.array_sort(F.collect_list(F.struct(
            F.col(seq_col).cast("long").alias("seq"),
            F.col(op_col).alias("op"),
            F.col("if_seq_no").cast("long").alias("if_seq_no"),
            F.coalesce(F.col("doc_as_upsert"), F.lit(False))
            .alias("upsert"),
            *[F.col(c).alias(c) for c in payload],
        ))).alias("__acts")
    )
    base_keyed = base.select(
        F.col(id_col).alias("__id"),
        F.struct(*[F.col(c).alias(c) for c in payload]).alias("__doc0"),
        (F.col("_seq_no") if "_seq_no" in base.columns else F.lit(None))
        .cast("long").alias("__seq0"),
    )
    j = acts.join(base_keyed, "__id", "left").select(
        "__id", "__acts",
        F.col("__doc0").isNotNull().alias("__exists"),
        "__doc0", "__seq0",
    )

    def _merge(acc, x):
        is_index = x["op"] == F.lit("index")
        is_create = x["op"] == F.lit("create")
        is_update = x["op"] == F.lit("update")
        is_delete = x["op"] == F.lit("delete")
        conflict = (~is_create) & x["if_seq_no"].isNotNull() & (
            x["if_seq_no"] != acc["seqno"])
        status = (
            F.when(conflict, F.lit("version_conflict"))
            .when(is_create & acc["exists"], F.lit("version_conflict"))
            .when(is_create, F.lit("created"))
            .when(is_index & acc["exists"], F.lit("updated"))
            .when(is_index, F.lit("created"))
            .when(is_update & ~acc["exists"] & x["upsert"],
                  F.lit("created"))
            .when(is_update & ~acc["exists"], F.lit("document_missing"))
            .when(is_update, F.lit("updated"))
            .when(is_delete & ~acc["exists"], F.lit("not_found"))
            .otherwise(F.lit("deleted"))
        )
        applied = (~conflict) & (
            is_index
            | (is_create & ~acc["exists"])
            | (is_update & ~acc["exists"] & x["upsert"])
            | ((is_update | is_delete) & acc["exists"])
        )
        replace = F.struct(*[x[c].alias(c) for c in payload])
        merged = F.struct(
            *[F.coalesce(x[c], acc["doc"][c]).alias(c) for c in payload]
        )
        return F.struct(
            F.when(applied & is_delete, F.lit(False))
            .when(applied, F.lit(True))
            .otherwise(acc["exists"]).alias("exists"),
            F.when(applied & (is_index | is_create), replace)
            .when(applied & is_update, merged)
            .otherwise(acc["doc"]).alias("doc"),
            F.when(applied, acc["seqno"] + 1)
            .otherwise(acc["seqno"]).alias("seqno"),
            F.concat(acc["statuses"], F.array(status)).alias("statuses"),
        )

    init = F.struct(
        F.col("__exists").alias("exists"),
        F.col("__doc0").alias("doc"),
        F.coalesce(F.col("__seq0"), F.lit(0)).alias("seqno"),
        F.array().cast("array<string>").alias("statuses"),
    )
    folded = j.select(
        "__id", "__acts", F.aggregate("__acts", init, _merge).alias("__acc")
    )

    items = folded.select(
        "__id",
        F.explode(F.arrays_zip(
            F.transform("__acts", lambda x: x["seq"]).alias("seq"),
            F.transform("__acts", lambda x: x["op"]).alias("op"),
            F.col("__acc.statuses").alias("result"),
        )).alias("z"),
    ).select(
        F.col("z.seq").alias("seq"),
        F.col("__id").alias(id_col),
        F.col("z.op").alias("op"),
        F.col("z.result").alias("result"),
    )

    alive = folded.filter("__acc.exists").select(
        F.col("__id").alias(id_col),
        *[F.col(f"__acc.doc.{c}").alias(c) for c in payload],
        *([F.col("__acc.seqno").alias("_seq_no")]
          if "_seq_no" in base.columns else []),
    )
    untouched = base.join(
        F.broadcast(folded.select(F.col("__id").alias(id_col))),
        id_col, "left_anti",
    )
    new_state = untouched.unionByName(alive.select(*base.columns))
    return new_state, items
