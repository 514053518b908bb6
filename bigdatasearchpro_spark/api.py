"""Service facade: the reference's API surface, endpoint for endpoint.

The reference exposes six operations across its controller/service layer
(``ElasticController.java``, ``ElasticService.java``). This module maps
each to the engine, so a caller of the reference can switch 1:1:

| Reference operation | Site | Here |
|---|---|---|
| ``bulkData2Es(tableName)``   | ``ElasticController.java:46-54`` → ``ElasticServiceImpl.java:117-124`` | :func:`bulk_data_to_index` |
| ``createIndex(indexName)``   | ``ElasticController.java:31-39`` → ``ElasticServiceImpl.java:35-61``  | :func:`create_index` |
| ``deleteIndex(indexName)``   | ``ElasticController.java:56-63`` → ``ElasticServiceImpl.java:64-87``  | :func:`delete_index` |
| ``getAllIndex()``            | ``ElasticController.java:65-72`` → ``ElasticServiceImpl.java:90-114`` | :func:`get_all_index` |
| ``queryData(query, index)``  | declared, returns null — ``ElasticServiceImpl.java:127-131``; real path is the form posting to ES ``indexView.html:13-19`` | :func:`query_data` (implemented for real) |
| ``getIndexDataCount(index)`` | declared, returns null — ``ElasticServiceImpl.java:133-136`` | :func:`get_index_data_count` (implemented for real) |

The two null-returning stubs in the reference are fully functional here:
``query_data`` runs the BM25 top-k the reference delegated to
Elasticsearch's URI search, and ``get_index_data_count`` is the doc-count
reconciliation the reference did by hand in MySQL/Kibana
(``README.md:803-806``).
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession

from bigdatasearchpro_spark.operators import search, transform
from bigdatasearchpro_spark.sinks import ddl
from bigdatasearchpro_spark.sinks.bulk import bulk_index_table, content_written


def bulk_data_to_index(
    spark: SparkSession,
    source: DataFrame,
    index_name: str,
    *,
    id_col: str | None = None,
    order_by: list[str] | None = None,
    routing_col: str | None = None,
    n_shards: int = 8,
    pipeline: str | None = None,
) -> dict:
    """The ``/bulk/{indexName}`` pipeline: scan → stringify →
    last-write-wins by id → batched write, with the wall-clock timing
    the reference logs (``ElasticServiceImpl.java:118-122``) and the
    loaded-count reconciliation it performed manually. Returns
    ``{"index": ..., "rows": ..., "seconds": ...}``.
    ``routing_col`` enables ES custom routing: the index is written
    partitioned by the routing hash shard, and routed searches prune
    to one shard directory (see :func:`query_data` ``routing``)."""
    from bigdatasearchpro_spark.sources.files import fan_out

    t0 = time.time()
    if pipeline is not None:
        # ES `?pipeline=`: the stored processor chain runs BEFORE
        # indexing (so before the document-model stringify)
        from bigdatasearchpro_spark.operators.ingest import apply_pipeline

        procs = _INGEST_PIPELINES.get(pipeline)
        if procs is None:
            raise ValueError(f"no ingest pipeline {pipeline!r}")
        source = apply_pipeline(source, procs)
    # adaptive respread: a few-split source would serialize the
    # stringify projection; no-op when the scan is already parallel
    doc = transform.stringify_all(fan_out(source))
    name = index_name.lower()
    rows = bulk_index_table(doc, name, id_col=id_col, order_by=order_by,
                            routing_col=routing_col, n_shards=n_shards)
    return {"index": name, "rows": rows, "seconds": round(time.time() - t0, 3)}


def create_index(spark: SparkSession, index_name: str) -> str:
    """``/createIndex/{indexName}`` — lowercased, idempotent."""
    return ddl.create_index(spark, index_name)


def delete_index(spark: SparkSession, index_name: str) -> None:
    """``/deleteIndex/{indexName}``."""
    ddl.delete_index(spark, index_name)
    content_written(index_name)


def get_all_index(spark: SparkSession) -> list[str]:
    """``/getAllIndex`` — all indices, system (dot-prefixed) filtered
    out, plus the reference's UI sentinel omitted (that was view-layer,
    ``HtmlController.java:27``)."""
    return [r["index_name"] for r in ddl.list_indices(spark).collect()]


# ES cross-cluster search: `remote_alias:index` names resolve through
# a registered seed list (ES `cluster.remote.<alias>.seeds`). Here a
# "remote cluster" is a parquet-table directory root — a different
# lake/catalog location read directly, never copied (the CCS point:
# query remote data in place).
_REMOTE_CLUSTERS: "dict[str, str]" = {}


def register_remote_cluster(spark: SparkSession, alias: str, root: str) -> None:
    """ES ``cluster.remote.{alias}`` settings: register a remote
    cluster (a table-directory root) for ``alias:index`` search."""
    import re as _re

    if not _re.match(r"^[a-z0-9_-]+$", alias):
        raise ValueError(f"invalid remote cluster alias {alias!r}")
    _REMOTE_CLUSTERS[alias] = root


def list_remote_clusters(spark: SparkSession) -> "dict[str, str]":
    """ES ``GET _remote/info`` — alias -> seed root."""
    return dict(_REMOTE_CLUSTERS)


def resolve_index(spark: SparkSession, index_name: str) -> DataFrame:
    """Resolve an index name to its DataFrame: a bare name is a local
    catalog index; ``alias:index`` reads the remote cluster's table in
    place (ES cross-cluster search semantics — remote data is queried
    where it lives; ``_all`` stays local-only, like ES)."""
    alias, sep, rest = index_name.partition(":")
    if sep and alias in _REMOTE_CLUSTERS:
        from bigdatasearchpro_spark.sources.files import load_table

        return load_table(spark, _REMOTE_CLUSTERS[alias], rest)
    if sep:
        raise ValueError(f"unknown remote cluster {alias!r}")
    return spark.table(transform.normalize_index_name(index_name))


def routing_meta(spark: SparkSession, index_name: str) -> "dict | None":
    """The index's custom-routing metadata ``{col, shards}`` recorded
    at bulk-write time, or None for an unrouted index."""
    name = transform.normalize_index_name(index_name)
    try:
        return ddl.routing_spec(ddl.index_props(spark, name))
    except Exception:
        return None


def apply_routing(spark: SparkSession, index_name: str, docs: DataFrame,
                  routing: str) -> DataFrame:
    """ES ``?routing=v``: restrict the search to the one shard the
    routing value hashes to.  The filter is a LITERAL equality on the
    partition column (``__shard = pmod(xxhash64(v), n)`` evaluated
    driver-side), so the scan PRUNES to that shard's directory —
    the partition-pruning equivalent of ES hitting one shard instead
    of fanning out, which is the whole point of custom routing at
    scale.  Searching a non-routed index with routing raises (ES
    would silently fan out; an explicit error is more honest here).
    Delegates the hash to :func:`_routing_shard` — the single home of
    the computation, which casts the literal to the routing column's
    NATIVE type before hashing (xxhash64 is type-sensitive)."""
    from pyspark.sql import functions as F

    shard = _routing_shard(spark, index_name, routing)
    return docs.filter(F.col("__shard") == F.lit(int(shard)))


def _parse_sorts(sort: str) -> list[tuple[str, bool]]:
    """ES URI-search ``sort=f1:asc,f2:desc`` — a comma list of
    ``field[:asc|desc]`` specs (bare field = asc), applied in order
    with later fields breaking ties of earlier ones (ES tie-break
    semantics)."""
    out: list[tuple[str, bool]] = []
    for spec in sort.split(","):
        field, _, direction = spec.strip().partition(":")
        if not field or direction not in ("", "asc", "desc"):
            raise ValueError(
                f"malformed sort spec: {spec!r} (use field[:asc|desc][,...])"
            )
        out.append((field, direction != "desc"))
    if len({f for f, _ in out}) != len(out):
        raise ValueError(f"duplicate field in sort spec: {sort!r}")
    return out


def query_data(
    spark: SparkSession,
    query: str,
    index_name: str,
    *,
    k: int = 10,
    from_: int = 0,
    id_col: str = "doc_id",
    text_col: "str | list[str] | None" = None,
    highlight: bool = False,
    sort: str | None = None,
    indices_boost: "dict[str, float] | None" = None,
    routing: str | None = None,
) -> DataFrame:
    """The search path — the reference's literal UX: the RAW user query
    string posted to URI search (``indexView.html:13-19`` rewrites the
    form into ``_search?q=``). Full ES 6.x query-string semantics:

    1. the parsed query filters the index (field scoping, AND/OR/NOT,
       phrases, wildcards, ranges — ``operators/querystring.py``);
    2. survivors are BM25-ranked by the query's non-negated term/phrase
       words (wildcard/range clauses filter but score constant, like ES);
    3. hits ``from_ .. from_+k`` return, optionally highlighted.

    ``text_col=None`` searches every string column (ES ``_all`` over the
    stringified document, reference BulkProcessImpl.java:112-117).
    Fields may carry per-field boosts, ``text_col=["title^3", "text"]``
    (ES 6.x ``query_string`` ``fields`` weights): each boosted field is
    scored as its own BM25 corpus, weighted, and combined best-fields
    (ES default ``type`` — dis_max, tie_breaker 0); unboosted multi-
    field keeps the ``_all``-concatenation scoring unchanged.

    ``index_name="_all"`` searches every catalog index — the reference
    UI's "all index" option (``HtmlController.java:27``,
    ``indexView.html:15-17``) — as a scatter-gather: each index is
    searched independently for its top ``from_+k`` (per-index BM25
    stats, exactly like ES scores per index), and the per-index pages
    merge by score with an ``index`` provenance column. The merge input
    is ``n_indices x (from_+k)`` rows, never corpus-sized.
    ``indices_boost`` (ES request-body option of the same name)
    multiplies each named index's scores before the merge.
    """
    from bigdatasearchpro_spark.operators.querystring import (
        parse_query_string,
        weighted_terms,
    )
    from pyspark.sql import functions as F

    if index_name == "_all":
        names = get_all_index(spark)
        if not names:
            raise ValueError("no indices exist to search (_all)")
        merged = None
        boosts = {
            transform.normalize_index_name(bn): float(bv)
            for bn, bv in (indices_boost or {}).items()
        }
        for n in names:
            hit = query_data(
                spark, query, n, k=from_ + k, from_=0,
                id_col=id_col, text_col=text_col, highlight=highlight,
                sort=sort,
            ).withColumn("index", F.lit(n))
            # ES `indices_boost`: each index's scores are multiplied by
            # its boost BEFORE the cross-index merge (within-index order
            # is boost-invariant, so the per-index page is unchanged —
            # only the merge ranking moves). Power-of-two boosts keep
            # the multiply exact; others are one correctly-rounded op.
            if boosts and sort is None and n in boosts and boosts[n] != 1.0:
                hit = hit.withColumn(
                    "score", F.col("score") * F.lit(boosts[n])
                )
            merged = hit if merged is None else merged.unionByName(hit)
        from pyspark.sql.window import Window

        # <= n_indices * (from_+k) rows: the single-partition window is
        # over the merged candidate page, never an index. With a field
        # sort the merge re-sorts on the carried sort columns (per-index
        # pages are each sorted, so the global top from_+k is inside
        # the merge input — same argument as the score merge).
        if sort is not None:
            leads = [
                F.asc(f"sort_{f}") if asc else F.desc(f"sort_{f}")
                for f, asc in _parse_sorts(sort)
            ]
        else:
            leads = [F.desc("score")]
        ranked = merged.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(*leads, F.asc("index"), F.asc(id_col))
            ),
        )
        return ranked.filter(
            (F.col("rank") > from_) & (F.col("rank") <= from_ + k)
        ).drop("rank")

    matched, specs, analyzer = _match(spark, index_name, query, text_col, routing)
    if sort is not None:
        # ES URI-search `sort=f1[:asc|desc][,f2...]`: relevance is not
        # computed (constant _score, like ES with a sort clause); the
        # page is a top-k by the field list — TakeOrdered, never a
        # global sort — later fields break ties of earlier ones, id
        # tie-break last for determinism.
        sorts = _parse_sorts(sort)
        for f, _ in sorts:
            if f not in matched.columns:
                raise ValueError(f"unknown sort field {f!r}")
        leads = [
            F.asc(f"sort_{f}") if asc else F.desc(f"sort_{f}") for f, asc in sorts
        ]
        page = (
            matched.select(
                F.col(id_col),
                *[F.col(f).alias(f"sort_{f}") for f, _ in sorts],
            )
            .orderBy(*leads, F.asc(id_col))
            .limit(from_ + k)
            .offset(from_)
        )
        return search._collect(page)
    weighted = weighted_terms(parse_query_string(query), analyzer=analyzer)
    if not weighted:
        # pure-filter query (e.g. only ranges/wildcards): constant score,
        # deterministic id order
        page = (
            matched.select(F.col(id_col), F.lit(0.0).alias("score"))
            .orderBy(id_col)
            .limit(from_ + k)
            .offset(from_)
        )
        return search._collect(page)
    # keep_zero_hits: `matched` is already the query's filtered match
    # set — a doc matching only non-scoring clauses (wildcard/range)
    # must stay in the page at score 0 (ES returns it constant-scored),
    # not vanish from results. Boosted field specs rank per field
    # (search_paged -> search_topk_multifield); term ^N boosts multiply in.
    return search.search_paged(
        matched,
        " ".join(t for t, _ in weighted),
        size=k,
        from_=from_,
        id_col=id_col,
        text_col=specs,
        highlight=highlight,
        term_weights=[w for _, w in weighted],
        keep_zero_hits=True,
        analyzer=analyzer,
    )


def _match(
    spark: SparkSession,
    index_name: str,
    query: str,
    text_col: "str | list[str] | None",
    routing: "str | None" = None,
) -> "tuple[DataFrame, list[str], str]":
    """The ``?q=`` filter on ONE index, shared by search and count:
    ``(matched rows, field specs, analyzer)``. ``text_col=None`` means
    every string column (ES ``_all``); specs may carry ``^boost``
    suffixes, which filtering ignores. Per-field analyzers come from
    the index mapping (ES: each field is analyzed by ITS mapped
    analyzer; unmapped fields stay standard). When the search targets
    exactly one field, the returned analyzer (for the query's scoring
    terms) follows that field's mapping too; multi-field ``_all``
    scoring stays standard (like ES's ``_all`` field, which has its own
    analyzer)."""
    from bigdatasearchpro_spark.operators.querystring import query_string_filter

    docs, specs, fields, mapping, analyzer = _resolve(
        spark, index_name, text_col, routing
    )
    matched = query_string_filter(
        docs, query, default_field=fields, fields=fields,
        analyzer=analyzer, field_analyzers=mapping,
    )
    return matched, specs, analyzer


def _resolve(
    spark: SparkSession,
    index_name: str,
    text_col: "str | list[str] | None",
    routing: "str | None" = None,
) -> "tuple[DataFrame, list[str], list[str], dict, str]":
    """What a query on ONE index searches, before any filter: ``(docs,
    field specs, field names, mapping, scoring analyzer)`` — the
    resolution half of :func:`_match`, shared with :func:`explain_doc`."""
    docs = resolve_index(spark, index_name)
    if routing is not None:
        docs = apply_routing(spark, index_name, docs, routing)
    specs = (
        [text_col]
        if isinstance(text_col, str)
        else list(text_col)
        if text_col is not None
        else search.all_string_cols(docs)
    )
    fields = [n for n, _ in search.parse_boosted_fields(specs)]
    mapping = get_field_mapping(spark, index_name)
    analyzer = (
        mapping.get(fields[0], "standard") if len(fields) == 1 else "standard"
    )
    return docs, specs, fields, mapping, analyzer


def get_field_mapping(spark: SparkSession, index_name: str) -> dict:
    """Per-field analyzer mapping for an index (ES ``GET _mapping``);
    empty for ``_all`` scatter targets resolved per index, unmarked
    tables, and views without properties."""
    try:
        return ddl.get_mapping(spark, index_name)
    except Exception:
        return {}


def put_mapping(spark: SparkSession, index_name: str, analyzers: dict) -> dict:
    """ES ``PUT {index}/_mapping`` — record per-field analyzers; the
    search path (:func:`query_data`) consults them so index-time and
    query-time analysis stay symmetric per field."""
    return ddl.put_mapping(spark, index_name, analyzers)


def put_template(spark: SparkSession, name: str, **kw) -> dict:
    """ES ``PUT _template/{name}`` — register a template whose glob
    ``index_patterns`` apply settings (shards) + mappings (per-field
    analyzers) to every MATCHING index at creation time, explicit
    create and bulk auto-create alike (sinks/ddl.py put_template)."""
    return ddl.put_template(spark, name, **kw)


def get_template(spark: SparkSession, name: str) -> "dict | None":
    """ES ``GET _template/{name}`` (None when absent, like a 404)."""
    return ddl.get_template(spark, name)


def delete_template(spark: SparkSession, name: str) -> bool:
    """ES ``DELETE _template/{name}`` — True iff it existed."""
    return ddl.delete_template(spark, name)


_INGEST_PIPELINES: "dict[str, list]" = {}


def put_ingest_pipeline(spark: SparkSession, pipeline_id: str,
                        processors: "list[dict]") -> dict:
    """ES ``PUT _ingest/pipeline/{id}``: store a processor chain,
    validated at PUT time like ES (operators/ingest.py).  Stored
    pipelines must be pure data — ``enrich`` references a lookup
    INDEX by name (the ES enrich-policy shape)."""
    from bigdatasearchpro_spark.operators.ingest import validate_pipeline

    validate_pipeline(processors)
    for p in processors:
        kind, body = next(iter(p.items()))
        if kind == "enrich" and "lookup" in body:
            raise ValueError(
                "stored enrich must reference an index by name"
            )
    _INGEST_PIPELINES[pipeline_id] = [dict(p) for p in processors]
    return {"id": pipeline_id, "processors": len(processors)}


def get_ingest_pipeline(spark: SparkSession, pipeline_id: str):
    """ES ``GET _ingest/pipeline/{id}`` — the processors, or None."""
    got = _INGEST_PIPELINES.get(pipeline_id)
    return None if got is None else list(got)


def delete_ingest_pipeline(spark: SparkSession, pipeline_id: str) -> bool:
    """ES ``DELETE _ingest/pipeline/{id}`` — True iff it existed."""
    return _INGEST_PIPELINES.pop(pipeline_id, None) is not None


def put_script(spark: SparkSession, script_id: str, source: str, **kw) -> dict:
    """ES ``PUT _scripts/{id}``: store a named script, parse-validated
    at PUT time (sinks/ddl.py put_script)."""
    return ddl.put_script(spark, script_id, source, **kw)


def get_script(spark: SparkSession, script_id: str) -> "dict | None":
    """ES ``GET _scripts/{id}`` (None when absent, like a 404)."""
    return ddl.get_script(spark, script_id)


def delete_script(spark: SparkSession, script_id: str) -> bool:
    """ES ``DELETE _scripts/{id}`` — True iff it existed."""
    return ddl.delete_script(spark, script_id)


def stored_script_column(spark: SparkSession, script_id: str,
                         params: "dict | None" = None):
    """Resolve a stored script to a native Column with ``params``
    bound at use time — the ``{"script": {"id": ..., "params": ...}}``
    request shape shared by script_score, runtime fields, and
    scripted_metric."""
    from bigdatasearchpro_spark.operators.scripting import Script

    stored = ddl.get_script(spark, script_id)
    if stored is None:
        raise ValueError(f"no stored script {script_id!r}")
    if stored.get("lang") != "painless":
        raise ValueError(
            f"stored script {script_id!r} is lang "
            f"{stored.get('lang')!r}, not an executable painless script")
    return Script(stored["source"], strict=False).bind(params).column()


def render_search_template(
    spark: SparkSession,
    *,
    source: "str | None" = None,
    template_id: "str | None" = None,
    params: "dict | None" = None,
) -> dict:
    """ES ``POST _render/template`` (and ``_render/template/{id}``):
    mustache-substitute ``params`` into an inline ``source`` or a
    STORED mustache template (``PUT _scripts/{id}`` with
    ``lang="mustache"``) and return the parsed query the search would
    run, wrapped like ES: ``{"template_output": <node>}``.  Pure
    driver-side (the render is request-metadata work, no scan);
    missing params and invalid rendered JSON fail like ES
    (operators/wrapper.py render_template)."""
    from bigdatasearchpro_spark.operators.wrapper import render_template

    if (source is None) == (template_id is None):
        raise ValueError("pass exactly one of source= / template_id=")
    if template_id is not None:
        stored = ddl.get_script(spark, template_id)
        if stored is None:
            raise ValueError(f"no stored template {template_id!r}")
        if stored.get("lang") != "mustache":
            raise ValueError(
                f"stored script {template_id!r} is lang "
                f"{stored.get('lang')!r}, not a mustache search template")
        source = stored["source"]
    return {"template_output": render_template(source, params)}


def get_index_data_count(
    spark: SparkSession,
    index_name: str,
    query: str | None = None,
    *,
    text_col: "str | list[str] | None" = None,
) -> int:
    """Doc count per index: declared-but-null in the reference.
    ``_all`` sums every catalog index (ES ``GET _all/_count``).
    ``query`` counts only matching documents (ES ``_count?q=...``),
    filtered exactly as :func:`query_data` filters — same field
    resolution, same per-field analyzers from the mapping — and
    counted by ONE aggregate over the filtered scan (no page, no sort,
    the filter pushes down)."""
    def one(name: str) -> int:
        if not query:
            return resolve_index(spark, name).count()
        return _match(spark, name, query, text_col)[0].count()

    if index_name == "_all":
        return sum(one(n) for n in get_all_index(spark))
    return one(index_name)


def get_doc(
    spark: SparkSession,
    index_name: str,
    doc_id,
    *,
    id_col: str = "doc_id",
):
    """ES ``GET {index}/{id}`` — fetch one document by id, or ``None``
    when absent (the ES 404). A keyset point lookup: the id predicate
    pushes to the scan (min/max row-group skipping does the work a
    doc-values lookup does in ES)."""
    from pyspark.sql import functions as F

    rows = (
        spark.table(transform.normalize_index_name(index_name))
        .filter(F.col(id_col) == F.lit(doc_id))
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def mget(
    spark: SparkSession,
    index_name: str,
    doc_ids,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``_mget`` — fetch a batch of documents by id in ONE scan
    (the id list folds into a single IN predicate; missing ids are
    simply absent, like the ES ``found: false`` entries)."""
    from pyspark.sql import functions as F

    if not doc_ids:
        raise ValueError("mget needs at least one id")
    return spark.table(transform.normalize_index_name(index_name)).filter(
        F.col(id_col).isin(list(doc_ids))
    )


def termvectors(
    docs,
    doc_ids,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "standard",
    term_statistics: bool = True,
):
    """ES ``_termvectors`` / ``_mtermvectors`` — per-document term
    statistics for one or many ids: ``term_freq`` (occurrences in the
    doc), plus with ``term_statistics=True`` (the ES flag) the
    corpus-level ``doc_freq`` (documents containing the term) and
    ``ttf`` (total term frequency across the corpus).

    Scale shape: the requested-ids side is one IN-predicate scan
    (pushed to the parquet reader) + a per-doc token hash agg over a
    handful of rows; the corpus statistics are ONE pass building the
    vocabulary-scale (term, doc_freq, ttf) table (map-side partial
    agg), joined back with the tiny requested side BROADCAST — the
    corpus is never re-scanned per id.

    Output: (id, term, term_freq[, doc_freq, ttf])."""
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark.operators.search import tokens_expr
    from bigdatasearchpro_spark.sources.files import fan_out

    if not doc_ids:
        raise ValueError("termvectors needs at least one id")
    sel = docs.filter(F.col(id_col).isin(list(doc_ids)))
    tf = (
        sel.select(
            F.col(id_col), F.explode(tokens_expr(text_col, analyzer)).alias("term")
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("term_freq"))
    )
    if not term_statistics:
        return tf
    toks = fan_out(docs).select(
        F.col(id_col), F.explode(tokens_expr(text_col, analyzer)).alias("term")
    )
    stats = toks.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).alias("doc_freq"),
        F.count("*").alias("ttf"),
    )
    return stats.join(F.broadcast(tf), "term").select(
        id_col, "term", "term_freq", "doc_freq", "ttf"
    )


def scroll(
    spark: SparkSession,
    index_name: str,
    query: str | None = None,
    *,
    size: int = 100,
    scroll_id=None,
    id_col: str = "doc_id",
    text_col: "str | list[str] | None" = None,
    slice_spec: "tuple[int, int] | None" = None,
):
    """ES ``scroll`` API shape: iterate EVERY hit of a query in stable
    ``_doc`` order, batch by batch — the surface ES offers for full
    exports, where ``from+size`` paging is capped and ``search_after``
    needs a sort. Returns ``(page, next_scroll_id)``; pass the id back
    to get the next batch, ``next_scroll_id is None`` when exhausted.

    ES's scroll pins a snapshot server-side; here the parquet files
    are immutable UNLESS a write endpoint (delete/update_by_query,
    bulk_mixed, reindex) republishes the index mid-export — a later
    page then reads the new content, like ``search_after`` rather
    than ES scroll.  For a mutation-proof export, :func:`open_pit`
    first and export the frozen :func:`pit_dataframe` — that pinned
    snapshot is exactly what ES scroll holds server-side.
    The cursor is the last ``id`` of the page — a KEYSET,
    not an offset, so page N costs the same as page 1 (the
    ``id > cursor`` predicate pushes to the scan and the page is a
    TakeOrdered of ``size``; nothing re-reads already-scrolled rows).

    REQUIRES UNIQUE ``id_col`` values: the keyset cursor is strictly
    ``id > last_id``, so documents SHARING the cursor id would be
    skipped at a page boundary. Bulk ``mode='append'`` loads without id
    dedup can create duplicates — scroll probes one row past the page
    and RAISES if a page boundary falls inside a duplicate-id run,
    instead of silently losing rows from the export.

    ``query=None`` scrolls the whole index (ES ``match_all``).

    ``slice_spec=(i, max)`` is ES SLICED scrolling — the parallel-
    export form: worker i of max reads only documents whose id-hash
    lands in its slice (ES hashes ``_id`` the same way), so max
    workers cover the index disjointly and exhaustively with NO
    coordination.  The slice predicate (portable md5 hash % max) is
    one more pushed filter — each worker's pages stay keyset-priced,
    and the hash is the engine's cross-replayable md5 form."""
    from pyspark.sql import functions as F

    docs = (
        _match(spark, index_name, query, text_col)[0] if query
        else resolve_index(spark, index_name)
    )
    if slice_spec is not None:
        from bigdatasearchpro_spark.operators.neardup import portable_hash_long

        sid, smax = int(slice_spec[0]), int(slice_spec[1])
        if not 0 <= sid < smax:
            raise ValueError(f"slice id must be in [0, max), got {slice_spec}")
        docs = docs.filter(
            portable_hash_long(F.col(id_col).cast("string")) % smax == sid
        )
    if scroll_id is not None:
        docs = docs.filter(F.col(id_col) > F.lit(scroll_id))
    # probe one row past the page: if the boundary falls inside a run
    # of equal ids, the keyset cursor would skip the siblings — refuse
    probe = search._collect(docs.orderBy(F.asc(id_col)).limit(size + 1))
    rows = probe.collect()  # a local relation: no job
    if len(rows) == size + 1 and rows[size][id_col] == rows[size - 1][id_col]:
        raise ValueError(
            f"scroll requires unique {id_col!r} values: id "
            f"{rows[size][id_col]!r} straddles a page boundary and its "
            f"siblings would be skipped (dedup the index or raise size)"
        )
    next_id = rows[size - 1][id_col] if len(rows) >= size else None
    return probe.limit(size), next_id


def reindex(
    spark: SparkSession,
    source_index: str,
    dest_index: str,
    query: str | None = None,
    *,
    id_col: str = "doc_id",
    text_col: "str | list[str] | None" = None,
    pipeline: str | None = None,
) -> dict:
    """ES ``_reindex``: copy documents from one index into another,
    optionally narrowed by a query — the standard reshape/migrate
    operation (ES implements it as an internal scroll + bulk; here it
    is ONE distributed scan -> optional query-string filter -> bulk
    write, no batch loop and no coordinator bottleneck at any size).
    ``pipeline`` is ES ``dest.pipeline``: the stored ingest processor
    chain runs over the copied documents before the write (the
    standard migrate-and-enrich shape) — same projection fusion as the
    bulk path, so it stays inside the single scan's codegen span.

    Returns ``{"created": n, "source": ..., "dest": ...}`` (the ES
    response's count field)."""
    docs = (
        _match(spark, source_index, query, text_col)[0] if query
        else resolve_index(spark, source_index)
    )
    # a ROUTED source's __shard is a DERIVED partition column, not
    # document payload — ES _reindex doesn't copy _routing either;
    # leaking it would pollute the dest schema with stale shard ids
    if "__shard" in docs.columns:
        docs = docs.drop("__shard")
    if pipeline is not None:
        from bigdatasearchpro_spark.operators.ingest import apply_pipeline

        procs = _INGEST_PIPELINES.get(pipeline)
        if procs is None:
            raise ValueError(f"no ingest pipeline {pipeline!r}")
        docs = apply_pipeline(docs, procs)
    n = bulk_index_table(docs, dest_index, id_col=id_col)
    return {
        "created": n,
        "source": source_index.lower(),
        "dest": dest_index.lower(),
    }


def add_alias(spark, index_names, alias, *, filter_sql=None) -> str:
    """ES ``POST _aliases`` add action — see ``sinks.ddl.add_alias``
    (filtered alias = WHERE view; multi-index alias = UNION ALL view;
    search/count/scroll through the alias just work, the filter pushes
    into the underlying scans)."""
    return ddl.add_alias(spark, index_names, alias, filter_sql=filter_sql)


def delete_alias(spark, alias: str) -> bool:
    """ES ``POST _aliases`` remove action."""
    return ddl.delete_alias(spark, alias)


def get_alias(spark) -> list[tuple[str, str]]:
    """ES ``GET _alias`` — (alias, index) edges."""
    return [
        (r["alias"], r["index_name"]) for r in ddl.list_aliases(spark).collect()
    ]


def analyze(
    spark: SparkSession, text: str, *, analyzer: str = "standard"
) -> list[str]:
    """ES ``_analyze`` — the analyzer's token output for a given text
    (the debugging endpoint behind every "why didn't this match"
    question). Pure driver-side; ``analyzer`` picks from the registry
    in operators/analyzers.py (standard / whitespace / english /
    cjk / french / german / spanish / russian), and
    what you get here is exactly what the index-side expressions
    compute per row (the symmetry is property-tested)."""
    return search.analyze_query(text, analyzer)


def msearch(
    spark: SparkSession,
    index_name: str,
    queries: "dict[str, str]",
    *,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: "str | list[str] | None" = None,
    sort: str | None = None,
) -> DataFrame:
    """ES ``_msearch`` — a batch of named queries against one index in
    a single request; the result carries a ``query_id`` provenance
    column (one page per query, unioned). Each page is the same
    TakeOrdered plan ``query_data`` builds; the union is page-sized,
    never corpus-sized."""
    from pyspark.sql import functions as F

    if not queries:
        raise ValueError("msearch needs at least one query")
    merged = None
    for qid, q in queries.items():
        page = query_data(
            spark, q, index_name, k=k, id_col=id_col, text_col=text_col,
            sort=sort,
        ).withColumn("query_id", F.lit(qid))
        merged = page if merged is None else merged.unionByName(page)
    return merged


def force_merge(
    spark: SparkSession,
    index_name: str,
    *,
    max_num_segments: int = 1,
) -> dict:
    """ES ``_forcemerge`` — compact an index's storage segments. Here:
    rewrite the managed parquet table at ``max_num_segments`` files
    (small-files maintenance, the exact job a streaming/bulk ingest
    needs periodically at 100 TB). One distributed read -> coalesce ->
    staged write, then a catalog rename swap — content is unchanged
    (the registry entry hash-verifies that), only the layout changes.
    Not crash-atomic across the drop/rename pair (Spark's catalog has
    no atomic table swap); run it from a maintenance window, as ES
    itself recommends for force-merge. The failure path is recoverable:
    the target is validated as a real index up front (an alias view
    would otherwise be copied and then fail at DROP TABLE), and the
    swap is :func:`_staged_rewrite`'s — properties carried onto the
    staged copy BEFORE the swap, a routed index's ``__shard``
    partitions kept — so no failure mode loses the index (per
    routed partition directory, at most ``max_num_segments`` files)."""
    n = transform.normalize_index_name(index_name)
    if not ddl.is_index_table(spark, n):
        raise ValueError(f"force_merge target is not an index: {index_name!r}")
    _staged_rewrite(spark, n,
                    spark.table(n).coalesce(max(int(max_num_segments), 1)))
    rows = spark.table(n).count()
    return {"index": n, "rows": rows, "segments": int(max_num_segments)}


def snapshot_index(spark: SparkSession, index_name: str, repo_dir: str) -> dict:
    """ES ``_snapshot`` (create): back an index up into a repository
    directory as parquet — one distributed write, no per-doc loop.
    INDEX SETTINGS are part of the snapshot, like ES: the routing spec
    and the data-independent settings (per-field analyzer mappings,
    the shards setting) go into underscore-prefixed manifest files
    (Spark reads skip ``_*`` files) so restore re-creates the index as
    configured, not just its rows — without the settings manifest a
    restored index silently dropped its analyzers and searched with
    standard analysis (the r9 lifecycle-sweep find).  The derived
    ``__shard`` column is NOT stored as data.  Returns the snapshot
    manifest info."""
    import json as _json
    import os

    from bigdatasearchpro_spark.sinks.bulk import bulk_index_parquet

    n = transform.normalize_index_name(index_name)
    if not ddl.is_index_table(spark, n):
        # ES resolves alias snapshot targets to their CONCRETE indices
        # and snapshots those (full content + settings, under their
        # own names) — snapshotting the alias VIEW would silently
        # freeze only the filtered subset and restore a truncated
        # index (r9 lifecycle-sweep find)
        targets = sorted({t for a, t in get_alias(spark) if a == n})
        if not targets:
            raise ValueError(
                f"snapshot target is not an index or alias: {index_name!r}")
        return {"index": n,
                "resolved": [snapshot_index(spark, t, repo_dir)
                             for t in targets]}
    path = os.path.join(repo_dir, n)
    df = spark.table(n)
    props = ddl.index_props(spark, n)
    meta = ddl.routing_spec(props)
    settings = ddl.data_settings(props)
    if "__shard" in df.columns:
        df = df.drop("__shard")
    rows = bulk_index_parquet(df, path, mode="overwrite")
    if meta is not None:
        with open(os.path.join(path, "_bdsp_routing.json"), "w",
                  encoding="utf-8") as f:
            _json.dump(meta, f)
    if settings:
        with open(os.path.join(path, "_bdsp_settings.json"), "w",
                  encoding="utf-8") as f:
            _json.dump(settings, f, sort_keys=True)
    return {"index": n, "path": path, "rows": rows}


def restore_index(
    spark: SparkSession, repo_dir: str, index_name: str, *,
    rename_to: str | None = None,
) -> dict:
    """ES ``_snapshot`` (restore): re-create an index from a repository
    snapshot, optionally under a new name (the ES ``rename_pattern``
    use-case for side-by-side restores). One distributed read -> bulk
    write; the restored table is a first-class marked index."""
    import os

    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    import json as _json

    src = transform.normalize_index_name(index_name)
    dst = transform.normalize_index_name(rename_to or index_name)
    path = os.path.join(repo_dir, src)
    df = spark.read.parquet(path)
    if "__shard" in df.columns:  # pre-manifest snapshots of routed indices
        df = df.drop("__shard")
    mpath = os.path.join(path, "_bdsp_routing.json")
    meta = None
    if os.path.exists(mpath):
        with open(mpath, encoding="utf-8") as f:
            meta = _json.load(f)
    if meta is not None:
        # rebuild the routed layout (partitioned write + routing
        # property), like ES restoring index settings with the data
        rows = bulk_index_table(
            df, dst, routing_col=meta["col"], n_shards=int(meta["shards"])
        )
    else:
        rows = bulk_index_table(df, dst)
    # REPLACE the index settings with the snapshot's (analyzer
    # mappings, the shards setting) — ES restores settings WITH the
    # data.  Replace, not merge: bulk_index_table's overwrite keep-set
    # re-applies the destination's PRE-EXISTING analyzer props, so a
    # prop added after the snapshot was taken would otherwise survive
    # the restore and the "restored" index would silently search with
    # the wrong analysis (r9 high review find).
    settings = {}
    spath = os.path.join(path, "_bdsp_settings.json")
    if os.path.exists(spath):
        with open(spath, encoding="utf-8") as f:
            settings = _json.load(f)
    ddl.unset_index_props(spark, dst, [
        k for k in ddl.index_props(spark, dst)
        if k.startswith(ddl.ANALYZER_PROP_PREFIX) and k not in settings])
    ddl.set_index_props(spark, dst, settings)
    return {"index": dst, "rows": rows}


def _staged_rewrite(spark: SparkSession, index: str, df: DataFrame) -> None:
    """Swap an index's content for ``df`` — the one publish protocol:
    complete staged copy first, then drop + rename, original
    properties carried over, then :data:`ON_CONTENT_WRITE` fires.
    Shared by force-merge, the by-query writes and the mixed bulk.

    ROUTED indices (``bdsp.routing`` property) keep their contract
    through the rewrite: ``__shard`` is RECOMPUTED from the routing
    column (idempotent for unchanged rows; corrects rows whose routing
    key a script rewrote, and rows a mixed bulk created without a
    shard) and the staged table is physically ``partitionBy(__shard)``
    — without this the rewrite silently kept the column but dropped
    the directory layout, turning every routed search's partition
    pruning into a full scan at scale."""
    import uuid

    from pyspark.sql import functions as F

    props = ddl.index_props(spark, index)
    staged = f"{index}__bq_{uuid.uuid4().hex[:8]}"
    # `routed` marks that THIS write applies partitionBy('__shard') —
    # the MSCK below keys off it, NOT off `'__shard' in df.columns`:
    # an input frame may carry a (stale) __shard column while the
    # routed branch doesn't fire (no bdsp.routing property, or the
    # routing column absent), and MSCK on a non-partitioned table
    # throws AFTER the swap already happened (ADVICE r8).
    meta = ddl.routing_spec(props)
    routed = meta is not None and meta.get("col") in df.columns
    if routed:
        df = df.withColumn(
            "__shard", ddl.routing_shard_expr(F.col(meta["col"]), meta["shards"])
        )
    writer = df.write.mode("errorifexists")
    if routed:
        writer = writer.partitionBy("__shard")
    writer.saveAsTable(staged)
    try:
        ddl.set_index_props(spark, staged, props)
    except Exception:
        spark.sql(f"DROP TABLE IF EXISTS {staged}")
        raise
    spark.sql(f"DROP TABLE {index}")
    try:
        spark.sql(f"ALTER TABLE {staged} RENAME TO {index}")
    except Exception as e:
        raise RuntimeError(
            f"index swap interrupted: index {index!r} is dropped but its "
            f"complete rewritten copy is staged as {staged!r} — rename it "
            f"back manually (ALTER TABLE {staged} RENAME TO {index})"
        ) from e
    if routed:
        # the rename moved the managed table's directory but the
        # catalog's partition entries still point at the staged path —
        # without recovery a partitioned table reads EMPTY
        spark.sql(f"MSCK REPAIR TABLE {index}")
    ddl.mark_index_table(spark, index)
    content_written(index)


def _routing_shard(spark: SparkSession, index_name: str, routing) -> int:
    """The shard a routing value hashes to — the single home of the
    routing-hash computation (:func:`apply_routing` and the routed
    by-query writes all delegate here); raises on unrouted indices.

    The literal is CAST TO THE ROUTING COLUMN'S ACTUAL TYPE before
    hashing: the write path hashed the native column
    (``xxhash64(bigint)`` != ``xxhash64(string)`` — Spark's hash is
    type-sensitive), so hashing the raw string literal would scope a
    routed write/search to the WRONG shard on any non-string-routed
    index (r9 review find)."""
    from pyspark.sql import functions as F

    meta = routing_meta(spark, index_name)
    if meta is None:
        raise ValueError(
            f"index {index_name!r} has no custom routing "
            "(routing= requires a routed index)")
    n = transform.normalize_index_name(index_name)
    dtype = dict(spark.table(n).dtypes).get(meta["col"], "string")
    row = (
        spark.range(1)
        .select(
            # try_cast: ANSI mode makes a plain cast THROW on
            # malformed input; NULL lets us raise the typed error below
            F.lit(routing).try_cast(dtype).alias("v"),
            ddl.routing_shard_expr(F.lit(routing).try_cast(dtype),
                                   meta["shards"]).alias("shard"),
        )
        .first()
    )
    if row["v"] is None:
        raise ValueError(
            f"routing value {routing!r} does not cast to the routing "
            f"column's type {dtype} (column {meta['col']!r})")
    return int(row["shard"])


def _overwrite_shard(spark: SparkSession, index: str, shard: int,
                     kept: DataFrame) -> int:
    """Replace ONE ``__shard`` partition directory with ``kept`` (the
    shard's surviving rows, ``__shard`` already dropped): INSERT
    OVERWRITE with a STATIC partition spec rewrites only that
    directory — 1/n_shards of the table moves instead of the full
    staged-copy swap, which is the entire point of passing routing to
    a by-query write at scale.  Returns the surviving-row count.

    Publish protocol (the same no-data-loss guarantee as
    ``_staged_rewrite``): the survivors are first written to a DURABLE
    staging MANAGED TABLE — Spark's static-partition INSERT
    OVERWRITE deletes the target partition before its write job
    commits, so sourcing it from volatile executor blocks
    (localCheckpoint) risked losing the shard to a mid-write failure
    (r9 high review find).  Staging as a managed table (not a
    driver-local tempdir, r9 advice) puts the recovery copy in the
    WAREHOUSE — the same shared filesystem as the index — so the
    guarantee holds on a multi-node cluster, exactly like
    ``_staged_rewrite``.  A complete on-storage copy exists before
    anything is deleted; an insert failure raises with the staged
    table name so the partition is manually recoverable, and the
    staging table is dropped only after a successful commit."""
    import uuid as _uuid

    cols = [c for c in spark.table(index).columns if c != "__shard"]
    staged = f"{index}__shard_rw_{_uuid.uuid4().hex[:8]}"
    kept.select(*cols).write.mode("errorifexists").saveAsTable(staged)
    n_kept = spark.table(staged).count()
    try:
        spark.sql(
            f"INSERT OVERWRITE TABLE {index} PARTITION (__shard={int(shard)}) "
            f"SELECT * FROM {staged}"
        )
    except Exception as e:
        raise RuntimeError(
            f"routed by-query overwrite interrupted: partition "
            f"__shard={int(shard)} of {index!r} may be incomplete, but "
            f"its complete surviving copy is staged as table {staged!r} — "
            f"re-run INSERT OVERWRITE from it to recover"
        ) from e
    spark.sql(f"DROP TABLE {staged}")
    content_written(index)
    return n_kept


def _query_rows(
    spark: SparkSession, index: str, query: str,
    text_col: "str | list[str] | None",
) -> "tuple[DataFrame, Column]":
    """``(docs, pred)`` for a by-query write: ``pred`` selects exactly
    the rows ``_search?q=`` / ``_count?q=`` match on ``index`` — the
    same field resolution, mapped analyzers, fuzzy vocabulary and
    dotted paths as :func:`_match` — with NULL read as no match."""
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark.operators.querystring import (
        query_string_predicate,
    )

    docs, _, fields, mapping, analyzer = _resolve(spark, index, text_col)
    pred = query_string_predicate(
        docs, query, default_field=fields, fields=fields,
        analyzer=analyzer, field_analyzers=mapping,
    )
    return docs, F.coalesce(pred, F.lit(False))


def delete_by_query(
    spark: SparkSession,
    index_name: str,
    query: str,
    *,
    text_col: "str | list[str] | None" = None,
    routing: "str | None" = None,
) -> dict:
    """ES ``_delete_by_query``: remove every document matching a query
    string. ES runs an internal scroll + per-batch bulk deletes; here
    it is ONE distributed scan -> anti-filter -> staged rewrite +
    catalog swap (the force-merge publish protocol, so a failure never
    loses the index). Returns ``{"deleted": n, "remaining": m}``.

    ``routing`` (ES ``?routing=`` on _delete_by_query) scopes the
    delete to the ONE shard the value hashes to — and, unlike the
    unrouted path, rewrites ONLY that shard's partition directory
    (static-partition INSERT OVERWRITE): at 100 TB a routed delete
    moves 1/n_shards of the index, not all of it."""
    from pyspark.sql import functions as F

    n = transform.normalize_index_name(index_name)
    if not ddl.is_index_table(spark, n):
        raise ValueError(f"delete_by_query target is not an index: {index_name!r}")
    docs, pred = _query_rows(spark, n, query, text_col)
    if routing is not None:
        shard = _routing_shard(spark, n, routing)
        scope = docs.filter(F.col("__shard") == F.lit(shard))
        total = scope.count()
        kept = scope.filter(~pred)
        n_kept = _overwrite_shard(spark, n, shard, kept)
        # deleted comes from the shard-scoped numbers already in hand
        # (no post-write rescan of the shard); the single full count
        # is the `remaining` the response shape promises
        deleted = total - n_kept
        remaining = spark.table(n).count()
        return {"deleted": deleted, "remaining": remaining}
    total = docs.count()
    kept = docs.filter(~pred)
    _staged_rewrite(spark, n, kept)
    remaining = spark.table(n).count()
    return {"deleted": total - remaining, "remaining": remaining}


def update_by_query(
    spark: SparkSession,
    index_name: str,
    set_exprs: dict,
    query: str | None = None,
    *,
    text_col: "str | list[str] | None" = None,
    routing: "str | None" = None,
) -> dict:
    """ES ``_update_by_query`` with a script: rewrite matching
    documents' fields. ``set_exprs`` maps column -> SQL expression
    (evaluated over the row, the painless-script analogue); documents
    NOT matching ``query`` keep their values. One distributed scan ->
    conditional projection -> staged rewrite + catalog swap. Returns
    ``{"updated": n, "total": m}`` (``total`` = documents processed —
    the routed scope when ``routing`` is given, like ES).

    ``routing`` scopes the update to the one shard the value hashes
    to and rewrites ONLY that shard's partition directory (see
    :func:`delete_by_query`).  The routing COLUMN itself cannot be
    updated through the routed path (the rewritten rows must stay in
    the shard being overwritten; a routing-key rewrite is a cross-
    shard MOVE — use the unrouted path, which re-shards)."""
    from pyspark.sql import functions as F

    n = transform.normalize_index_name(index_name)
    if not ddl.is_index_table(spark, n):
        raise ValueError(f"update_by_query target is not an index: {index_name!r}")
    docs = spark.table(n)
    unknown = set(set_exprs) - set(docs.columns)
    if unknown:
        raise ValueError(f"update_by_query: unknown columns {sorted(unknown)}")
    if query is None:
        pred = F.lit(True)
    else:
        docs, pred = _query_rows(spark, n, query, text_col)
    if routing is not None:
        meta = routing_meta(spark, n)
        if meta is not None and meta.get("col") in set_exprs:
            raise ValueError(
                "routed update_by_query cannot rewrite the routing "
                f"column {meta['col']!r} (cross-shard move; use the "
                "unrouted path, which re-shards)")
        shard = _routing_shard(spark, n, routing)
        docs = docs.filter(F.col("__shard") == F.lit(shard))
    updated = docs.filter(pred).count()
    total = docs.count()
    rewritten = docs.select(
        *[
            F.when(pred, F.expr(set_exprs[c]).cast(docs.schema[c].dataType))
            .otherwise(F.col(c))
            .alias(c)
            if c in set_exprs
            else F.col(c)
            for c in docs.columns
        ]
    )
    if routing is not None:
        _overwrite_shard(spark, n, shard, rewritten.drop("__shard"))
    else:
        _staged_rewrite(spark, n, rewritten)
    return {"updated": updated, "total": total}


def bulk_mixed(
    spark: SparkSession,
    index_name: str,
    actions: DataFrame,
    *,
    id_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """ES ``_bulk`` with MIXED action types over one index —
    ``index`` / ``create`` (fail on exists) / ``update`` (partial-doc
    merge, fail on missing) / ``delete``, applied in ``seq_col`` order
    within the batch, with optional ``if_seq_no``
    optimistic-concurrency guards (an ``if_seq_no`` column on
    ``actions``).  The reference's sink sends only ``IndexRequest``
    lines (BulkProcessImpl.java:124); this completes the bulk action
    surface.

    Execution: one JVM-side fold per batch id
    (:func:`bigdatasearchpro_spark.sinks.bulk.apply_bulk_actions` —
    no UDF), then the force-merge publish protocol swaps in the new
    state (staged rewrite, same as the by-query endpoints, so a
    failure never loses the index).  The base table never shuffles:
    touched ids broadcast into one anti-join.  Payload cells are cast
    to the index schema (documents are stringified at bulk time,
    BulkProcessImpl.java:113-117).  Returns the per-action ``items``
    response table ``(seq, id, op, result)``, materialized BEFORE the
    swap."""
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark.sinks.bulk import apply_bulk_actions

    n = transform.normalize_index_name(index_name)
    if not ddl.is_index_table(spark, n):
        raise ValueError(f"bulk_mixed target is not an index: {index_name!r}")
    base = spark.table(n)
    # routed indices: the shard column is DERIVED, never part of the
    # document payload — drop it here; _staged_rewrite recomputes it
    # from the routing column and restores the partitioned layout
    if "__shard" in base.columns:
        base = base.drop("__shard")
    dtypes = dict(base.dtypes)
    casted = actions.select(*[
        F.col(c).cast(dtypes[c]).alias(c) if c in dtypes else F.col(c)
        for c in actions.columns
    ])
    new_state, items = apply_bulk_actions(
        base, casted, id_col=id_col, seq_col=seq_col, op_col=op_col
    )
    # items must survive the source table's drop+rename (their lineage
    # reads the pre-swap table): eager localCheckpoint materializes
    # the response DISTRIBUTED, in executor block storage — a driver
    # collect here would be the classic bounded-response trap, OOMing
    # on a large action batch that the fold itself handles fine
    items = items.localCheckpoint(eager=True)
    _staged_rewrite(spark, n, new_state)
    return items


def cat_indices(spark: SparkSession) -> DataFrame:
    """ES ``GET _cat/indices`` — one row per index with its doc count
    and shard setting (the operational overview endpoint; the reference
    watched the same numbers in Kibana, README.md:12, 809). Counts are
    parquet-metadata reads per index — catalog-sized work, never a
    corpus scan."""
    rows = []
    for r in ddl.list_indices(spark).collect():
        name = r["index_name"]
        # every ES index has a shard count; indices created through the
        # bulk path without explicit settings carry the default (the
        # reference's 5, BulkProcessImpl.java:66)
        shards = ddl.shard_count(ddl.index_props(spark, name))
        rows.append((name, spark.table(name).count(), shards))
    return spark.createDataFrame(
        rows, "index_name string, docs_count long, shards int"
    )


def cluster_health(spark: SparkSession) -> dict:
    """ES ``GET _cluster/health`` — cluster status rollup, completing
    the ops-script trio with :func:`cat_indices` and
    :func:`cat_shards` (the r7-verdict gap #5: users script against
    the three together).  Single-process semantics: one "node"; an
    index is healthy when its backing table resolves; status is
    ``green`` when every index resolves, ``red`` otherwise (there are
    no replicas, so ES's yellow — unassigned replicas — cannot
    occur).  Shard counts are catalog/metadata reads, never a corpus
    scan."""
    n_indices = 0
    shards = 0
    failed = 0
    for r in ddl.list_indices(spark).collect():
        n_indices += 1
        name = r["index_name"]
        try:
            spark.table(name)
            shards += ddl.shard_count(ddl.index_props(spark, name))
        except Exception:
            failed += 1
    return {
        "cluster_name": "bigdatasearchpro_spark",
        "status": "red" if failed else "green",
        "number_of_nodes": 1,
        "number_of_data_nodes": 1,
        "number_of_indices": n_indices,
        "active_primary_shards": shards,
        "active_shards": shards,
        "unassigned_shards": 0,
        "relocating_shards": 0,
        "initializing_shards": 0,
    }


def cat_shards(spark: SparkSession,
               index_name: "str | None" = None) -> DataFrame:
    """ES ``GET _cat/shards`` — one row per (index, shard) with its
    doc count.  ROUTED indices report their REAL ``__shard``
    partition populations (one group-by over the partition column —
    partition-pruned scans see exactly these directories); unrouted
    indices have no physical shard split in this engine (parquet
    tables instead of Lucene shards), so their documents report under
    shard 0 with the remaining configured shards empty — an honest
    reflection of the storage, not a simulation.  Columns:
    ``(index_name, shard, prirep, state, docs)``."""
    from pyspark.sql import functions as F

    names = (
        [transform.normalize_index_name(index_name)]
        if index_name is not None
        else [r["index_name"] for r in ddl.list_indices(spark).collect()]
    )
    rows: list[tuple] = []
    for name in names:
        docs = spark.table(name)
        props = ddl.index_props(spark, name)
        meta = ddl.routing_spec(props)
        counts: dict[int, int] = dict.fromkeys(range(ddl.shard_count(props)), 0)
        if meta is not None and "__shard" in docs.columns:
            for r in docs.groupBy("__shard").agg(
                F.count(F.lit(1)).alias("n")
            ).collect():
                counts[int(r["__shard"])] = int(r["n"])
        else:
            counts[0] = docs.count()
        rows.extend(
            (name, s, "p", "STARTED", counts[s]) for s in sorted(counts)
        )
    return spark.createDataFrame(
        rows, "index_name string, shard int, prirep string, "
              "state string, docs long"
    )


def list_tasks(spark: SparkSession) -> DataFrame:
    """ES ``GET _tasks`` — the running stored jobs this engine tracks:
    in-flight async searches (running until every shard reports),
    transforms, watches, and ILM policies (the tick-driven job
    surface).  One catalog-sized listing, no scans.  Columns:
    ``(task_id, action, is_running)``."""
    rows = [
        (sid, "indices:data/read/async_search",
         s["completed_shards"] < s["total_shards"])
        for sid, s in sorted(_ASYNC_SEARCHES.items())
    ]
    rows += [(tid, "transform", True) for tid in sorted(_TRANSFORMS)]
    rows += [(rid, "rollup", r["status"] == "started")
             for rid, r in sorted(_ROLLUP_JOBS.items())]
    rows += [(wid, "watcher", True) for wid in sorted(_WATCHES)]
    rows += [(pid, "ilm", True) for pid in sorted(_ILM_POLICIES)]
    rows += [(pid, "slm", True) for pid in sorted(_SLM_POLICIES)]
    return spark.createDataFrame(
        rows, "task_id string, action string, is_running boolean"
    )


def rank_eval(
    docs,
    requests: dict,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    scoring: str = "bm25",
) -> DataFrame:
    """ES ``_rank_eval`` — offline ranking evaluation: for each named
    request ``{name: (query, relevant_id_set)}``, run the search and
    report how the labeled relevant documents ranked — ``relevant_found``
    (the precision@k numerator) and ``first_rel_rank`` (the MRR
    numerator; NULL when no relevant doc reaches the page).

    Integer outputs only (the ratio is the caller's division), so the
    metric replays exactly wherever the underlying ranking does. Each
    request costs one top-k search; only the k-row result pages reach
    the driver (page-sized, like msearch)."""
    from bigdatasearchpro_spark.operators.search import search_topk

    if not requests:
        raise ValueError("rank_eval needs at least one request")
    spark = docs.sparkSession
    rows = []
    for name in sorted(requests):
        query, relevant = requests[name]
        top = search_topk(
            docs, query, k, id_col=id_col, text_col=text_col, scoring=scoring
        ).collect()
        ids = [r[id_col] for r in top]
        rel = set(relevant)
        found = sum(1 for i in ids if i in rel)
        first = next((p + 1 for p, d in enumerate(ids) if d in rel), None)
        rows.append((name, k, found, first))
    return spark.createDataFrame(
        rows,
        "request string, k int, relevant_found int, first_rel_rank int",
    )


def field_caps(spark: SparkSession, index_names) -> DataFrame:
    """ES ``GET _field_caps`` — merged per-field capabilities across
    one or more indices: the field's type, whether it is searchable /
    aggregatable (ES 6.x: text fields search but don't aggregate;
    keyword/numeric/date do both), and — exactly like ES when indices
    DISAGREE on a type — one row per (field, type) listing which
    indices carry it, so conflicts are visible instead of merged away.

    Catalog-sized: reads schemas only, never data."""
    if isinstance(index_names, str):
        index_names = [index_names]
    if not index_names:
        raise ValueError("field_caps needs at least one index")
    rows = []
    per_field: dict[tuple[str, str], list[str]] = {}
    for name in index_names:
        n = transform.normalize_index_name(name)
        for f in spark.table(n).schema.fields:
            t = f.dataType.simpleString()
            per_field.setdefault((f.name, t), []).append(n)
    for (fname, t), idxs in sorted(per_field.items()):
        searchable = True
        # ES: text searches, keyword/numeric/date/bool fields agg;
        # complex types (array/struct/map/binary) are NOT aggregatable
        aggregatable = t in {
            "tinyint", "smallint", "int", "bigint", "float", "double",
            "decimal", "date", "timestamp", "timestamp_ntz", "boolean",
        } or t.startswith("decimal(")
        rows.append((fname, t, searchable, aggregatable, ",".join(sorted(idxs))))
    return spark.createDataFrame(
        rows,
        "field string, type string, searchable boolean, "
        "aggregatable boolean, indices string",
    )


def update_settings(spark: SparkSession, index_name: str, settings: dict) -> dict:
    """ES ``PUT _settings`` — record index settings as table
    properties (the reference sets number_of_shards / replicas /
    refresh_interval at create time, BulkProcessImpl.java:66-68;
    dynamic settings are updated through this endpoint). Keys are
    namespaced verbatim; values stringified, like ES."""
    n = transform.normalize_index_name(index_name)
    if not ddl.is_index_table(spark, n):
        raise ValueError(f"update_settings target is not an index: {index_name!r}")
    ddl.set_index_props(spark, n, settings)
    return get_settings(spark, n)


def get_settings(spark: SparkSession, index_name: str) -> dict:
    """ES ``GET _settings`` — the index's recorded settings (table
    properties, engine markers filtered out)."""
    props = ddl.index_props(spark, transform.normalize_index_name(index_name))
    return {k: v for k, v in props.items() if k != ddl.INDEX_MARKER}


def rollover(
    spark: SparkSession,
    alias: str,
    *,
    max_docs: "int | None" = None,
    dry_run: bool = False,
) -> dict:
    """ES ``_rollover`` — the index-lifecycle primitive: when the
    alias's current write index exceeds a condition (here ``max_docs``,
    the count condition), create the NEXT generation index (same
    schema, name pattern ``base-NNNNNN`` incremented) and re-point the
    alias at it, so writers keep using the alias while data ages out
    in bounded generations (exactly how ES time-series indices stay
    write-cheap at scale: the hot index stays small, old generations
    become read-only targets for force-merge/snapshot).

    The alias must resolve to exactly ONE index. Returns the ES-shaped
    ``{"old_index", "new_index", "rolled_over", "conditions"}``."""
    a = transform.normalize_index_name(alias)
    targets = [
        r["index_name"]
        for r in ddl.list_aliases(spark).collect()
        if r["alias"] == a
    ]
    if len(targets) != 1:
        raise ValueError(
            f"rollover alias {alias!r} must point at exactly one index "
            f"(has {targets})"
        )
    old = targets[0]
    if not ddl.is_index_table(spark, old):
        raise ValueError(f"rollover target is not an index: {old!r}")
    n_docs = spark.table(old).count()
    met = {"max_docs": max_docs is not None and n_docs >= max_docs}
    rolled = any(met.values())
    # generation pattern: trailing _NNNNNN (index names are [a-z0-9_])
    base, sep, gen = old.rpartition("_")
    if sep and gen.isdigit() and len(gen) == 6:
        new = f"{base}_{int(gen) + 1:06d}"
    else:
        new = f"{old}_000002"
    if rolled and not dry_run:
        schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in spark.table(old).schema.fields
        )
        ddl.create_index(spark, new, schema_ddl)
        ddl.add_alias(spark, new, a)  # re-point: writers keep using the alias
    return {
        "old_index": old,
        "new_index": new,
        "rolled_over": rolled and not dry_run,
        "conditions": {"max_docs": met["max_docs"], "docs": n_docs},
    }


def validate_query(
    spark: SparkSession,
    query: str,
    index_name: "str | None" = None,
    *,
    text_col: "str | list[str] | None" = None,
) -> dict:
    """ES ``_validate/query`` — parse (and, with an index, analyze/
    resolve) a query string WITHOUT running it; returns the ES-shaped
    ``{"valid": bool, "explanation": ...}``. With an index the
    compiled predicate is resolved against the actual schema (unknown
    fields and malformed clauses are reported, not thrown)."""
    from bigdatasearchpro_spark.operators.querystring import parse_query_string

    try:
        node = parse_query_string(query)
    except ValueError as e:
        return {"valid": False, "explanation": f"parse error: {e}"}
    if index_name is None:
        return {"valid": True, "explanation": repr(node)}
    try:
        _match(spark, index_name, query, text_col)[0].schema  # force analysis
    except Exception as e:
        return {"valid": False, "explanation": str(e)}
    return {"valid": True, "explanation": repr(node)}


def explain_doc(
    spark: SparkSession,
    query: str,
    index_name: str,
    doc_id,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> dict:
    """ES ``_explain`` — WHY does this document match (or not), with
    the per-term score breakdown: for each analyzed query term, the
    doc's tf, the corpus df/idf, and the term's BM25 contribution.
    Thin ES-response adapter over :func:`operators.search.explain_score`
    (the single home of the breakdown math, oracle-verified by the
    ``l3_explain_score`` registry entry). Returns the ES-shaped
    ``{"matched": bool, "value": score, "details": [...]}``.

    The index and the field resolve as they do for :func:`query_data`
    (:func:`_resolve`): remote ``alias:index`` names, and the field's
    mapped analyzer for the query terms and the corpus alike. The
    statistics are the whole index's — ``search_topk``'s score over
    the index, which is :func:`query_data`'s (matched-set statistics)
    only when the query matches every document."""
    docs, _, fields, _, analyzer = _resolve(spark, index_name, text_col)
    if not search.analyze_query(query, analyzer):
        return {"matched": False, "value": 0.0, "details": []}
    rows = search.explain_score(
        docs, query, doc_id, id_col=id_col,
        text_col=fields[0] if len(fields) == 1 else fields,
        k1=k1, b=b, round_to=6, keep_nonmatching=True, analyzer=analyzer,
    ).collect()
    if not rows:
        raise ValueError(f"doc {doc_id!r} not found in {index_name!r}")
    details = [
        {"term": r["term"], "tf": float(r["tf"]), "df": float(r["df"]),
         "idf": r["idf"], "value": r["contribution"]}
        for r in rows
    ]
    total = sum(d["value"] for d in details)
    return {"matched": total > 0, "value": round(total, 4), "details": details}


def search_mvt(
    spark: SparkSession,
    index_name: str,
    z: int,
    x: int,
    y: int,
    *,
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_col: str = "doc_id",
    extent: int = 4096,
    grid_precision: int = 8,
    size: int = 10000,
) -> bytes:
    """ES ``GET /{index}/_mvt/{field}/{z}/{x}/{y}`` — one Mapbox
    vector tile rendered from the index: ``hits`` (up to ``size``
    points), ``aggs`` (``geotile_grid`` cells at ``z+grid_precision``
    clipped to the tile, tagged ``_count``), ``meta`` (the max cell
    count clients normalize styling against).  The distributed half
    (tile filter, cell aggregate, hits page, pixel projection) is
    :func:`operators.mvt.mvt_feature_rows` — hash-verified by the
    ``l3_search_mvt`` registry entry; this facade collects the bounded
    feature rows (<= 4^grid_precision cells + ``size`` hits) and
    returns the MVT 2.1 protobuf binary."""
    from bigdatasearchpro_spark.operators.mvt import (
        mvt_encode,
        mvt_feature_rows,
    )

    docs = resolve_index(spark, index_name)
    rows = mvt_feature_rows(
        docs, lat_col, lon_col, z, x, y, id_col=id_col, extent=extent,
        grid_precision=grid_precision, size=size,
    ).collect()
    return mvt_encode(rows, extent=extent)


def knn_search(
    spark: SparkSession,
    index_name: str,
    query_vector: "list[float]",
    *,
    k: int = 10,
    num_candidates: "int | None" = None,
    field: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "exact",
) -> DataFrame:
    """ES 8.x ``_knn_search`` endpoint shape over an indexed vector
    column: top-``k`` by cosine against ``query_vector``.

    ``mode='exact'`` is the brute-force single-pass TakeOrdered
    (ES ``exact: true`` / script-score form).  ``mode='ann'`` is the
    approximate path with the ES ``num_candidates`` contract (default
    100, like ES): when :func:`put_knn_index` has materialized the
    IVF layout for (index, field), the query reads ONLY the
    partition-pruned probe cells whose recorded populations cover
    ``num_candidates`` — the exact re-score then ranks a candidate
    pool >= num_candidates, which is the HNSW beam contract
    re-expressed in Spark's storage model (see SCALING.md "ANN vs
    the HNSW contract" for the measured recall/latency trade and why
    IVF is the right Spark shape).  Without a materialized index the
    probe set is computed on the fly (same candidates, full scan for
    assignment)."""
    from bigdatasearchpro_spark.operators import similarity, transform

    n = transform.normalize_index_name(index_name)
    emb = spark.table(n)
    if mode == "exact":
        return similarity.cosine_topk(
            emb, query_vector, k, id_col=id_col, vec_col=field
        )
    if mode == "ann":
        nc = int(num_candidates or 100)
        if nc < k:
            raise ValueError(
                f"num_candidates ({nc}) must be >= k ({k}), like ES")
        built = _KNN_INDEXES.get((n, field))
        if built is not None:
            return similarity.ivf_topk_indexed(
                spark, built["path"], query_vector, k,
                num_candidates=nc, id_col=id_col, vec_col=field,
            )
        # no materialized index: same IVF candidates, on-the-fly
        # assignment (one scan); nprobe sized to cover num_candidates
        # assuming balanced cells
        total = emb.count()
        n_cells = 8
        per_cell = max(1, total // n_cells)
        nprobe = min(n_cells, max(1, -(-nc // per_cell)))
        return similarity.ivf_topk(
            emb, query_vector, k, n_cells=n_cells, nprobe=nprobe,
            id_col=id_col, vec_col=field,
        )
    raise ValueError(f"mode must be 'exact' or 'ann', got {mode!r}")


# materialized kNN index registry: (normalized index, field) -> layout
_KNN_INDEXES: "dict[tuple[str, str], dict]" = {}


def _invalidate_knn_indexes(index_name: str) -> None:
    """Drop every materialized ANN layout for an index whose content
    just changed or vanished (staged rewrite, delete) — a stale IVF
    layout would serve deleted vectors and miss new ones.  ES's
    analogue: vector graphs live in the segments, so any reindex
    rebuilds them; here the next ``knn_search(mode='ann')`` falls back
    to on-the-fly assignment until ``put_knn_index`` runs again."""
    import shutil as _shutil

    n = transform.normalize_index_name(index_name)
    for key in [k for k in _KNN_INDEXES if k[0] == n]:
        built = _KNN_INDEXES.pop(key)
        _shutil.rmtree(built["path"], ignore_errors=True)


# EVERY bulk_index_table content write invalidates the target's
# materialized ANN layouts — bulk overwrite, reindex dest, snapshot
# restore, transform dest, and resize all replace index content, and
# per-call-site invalidation covered only staged rewrites + delete
# (ADVICE r8: ann search served deleted vectors after a re-bulk).
from bigdatasearchpro_spark.sinks.bulk import ON_CONTENT_WRITE  # noqa: E402

if _invalidate_knn_indexes not in ON_CONTENT_WRITE:
    ON_CONTENT_WRITE.append(_invalidate_knn_indexes)


def put_knn_index(
    spark: SparkSession,
    index_name: str,
    *,
    field: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    base_dir: "str | None" = None,
) -> dict:
    """Build the ANN index for a vector field — the analogue of ES
    mapping ``index: true`` on a ``dense_vector`` (ES builds an HNSW
    graph per segment at index time; here the IVF-Flat layout
    materializes once: centroids + corpus partitioned by cell + cell
    populations, operators/similarity.build_ivf_index).  Subsequent
    ``knn_search(mode='ann')`` calls prune to the probe cells'
    partition directories — nprobe/C of the files, the physical-I/O
    analogue of HNSW visiting num_candidates nodes."""
    import os as _os
    import tempfile as _tempfile
    import uuid as _uuid

    from bigdatasearchpro_spark.operators import similarity

    n = transform.normalize_index_name(index_name)
    # a CONCRETE index only, never an alias view: the layout registry
    # and the content-write invalidation hook are keyed by the real
    # index name — a layout keyed by an alias would never be
    # invalidated when the underlying index's content changes and
    # would serve deleted vectors forever (ES likewise puts
    # dense_vector mappings on the index, not the alias)
    if not ddl.is_index_table(spark, n):
        raise ValueError(
            f"put_knn_index target is not an index: {index_name!r} "
            "(aliases resolve at search time; build the ANN layout on "
            "the concrete index)")
    emb = spark.table(n)
    if field not in emb.columns:
        raise ValueError(f"no vector field {field!r} on {index_name!r}")
    root = base_dir or _os.path.join(_tempfile.gettempdir(), "bdsp_knn")
    path = _os.path.join(root, f"{n}-{field}-{_uuid.uuid4().hex[:8]}")
    similarity.build_ivf_index(
        emb, path, n_cells=n_cells, id_col=id_col, vec_col=field
    )
    _KNN_INDEXES[(n, field)] = {"path": path, "n_cells": int(n_cells)}
    return {"index": n, "field": field, "path": path,
            "n_cells": int(n_cells)}


def delete_knn_index(spark: SparkSession, index_name: str,
                     *, field: str = "embedding") -> bool:
    """Drop a materialized kNN index (registry + files); True iff it
    existed."""
    import shutil as _shutil

    n = transform.normalize_index_name(index_name)
    built = _KNN_INDEXES.pop((n, field), None)
    if built is None:
        return False
    _shutil.rmtree(built["path"], ignore_errors=True)
    return True


def sql_query(
    spark: SparkSession,
    query: str,
    *,
    fetch_size: "int | None" = None,
) -> DataFrame:
    """ES SQL endpoint (``POST /_sql``, the x-pack SQL surface): run an
    SQL statement whose FROM clause names INDICES.  The engine host
    language already IS SQL, so this facade only (1) restricts the
    statement to a single read-only SELECT (ES SQL serves queries, not
    DDL/DML — mutations go through the typed endpoints), (2) resolves
    index names through the same catalog normalization as `_search`,
    and (3) applies ``fetch_size`` as the page cap.  The plan is
    whatever Catalyst builds for the statement — predicate pushdown,
    codegen, AQE all apply, which is exactly the ES-SQL pitch
    (SQL in, engine-native execution out).

    Read-only enforcement is PLAN-based, not keyword-based (the r7
    ADVICE fix): the statement is parsed with Spark's own SQL parser
    and rejected when the root logical plan is a ``Command`` /
    ``ParsedStatement`` (DDL/DML — INSERT, CREATE, DROP, SET, ...).
    A SELECT whose string literals or identifiers merely CONTAIN
    reserved words (``WHERE status = 'delete'``) parses to a query
    plan and passes; a multi-statement string fails Spark's
    single-statement parser outright."""
    jss = spark._jsparkSession
    try:
        jplan = jss.sessionState().sqlParser().parsePlan(query)
    except Exception as e:  # Py4J wraps ParseException
        msg = str(getattr(e, "java_exception", e)).splitlines()[0]
        raise ValueError(f"_sql could not parse statement: {msg}") from None
    jvm = spark.sparkContext._jvm
    gate_classes = []
    for cmd_cls in (
        "org.apache.spark.sql.catalyst.plans.logical.Command",
        "org.apache.spark.sql.catalyst.plans.logical.ParsedStatement",
    ):
        try:
            gate_classes.append(jvm.java.lang.Class.forName(cmd_cls))
        except Exception:  # class absent in this Spark build
            continue
    if not gate_classes:
        # FAIL CLOSED (ADVICE r8): with neither marker class loadable
        # the guard can't classify the plan — refusing beats silently
        # executing arbitrary DDL/DML through a "read-only" endpoint.
        raise RuntimeError(
            "_sql read-only gate unavailable: neither Command nor "
            "ParsedStatement resolves in this Spark build; refusing "
            "to execute (update the gate for this Spark version)")
    for cls in gate_classes:
        if cls.isInstance(jplan):
            raise ValueError(
                "_sql is read-only (use the typed endpoints); got "
                f"{jplan.getClass().getSimpleName()}"
            )
    out = spark.sql(query)
    if fetch_size is not None:
        if fetch_size <= 0:
            raise ValueError("fetch_size must be positive")
        out = out.limit(int(fetch_size))
    return out


def open_pit(spark: SparkSession, index_name: str,
             *, base_dir: "str | None" = None) -> str:
    """ES point-in-time (``POST /{index}/_pit``): freeze a consistent
    view of the index and return an opaque ``pit_id``.  The freeze is
    one distributed parquet snapshot write (the `_snapshot` machinery);
    subsequent searches against the PIT read the frozen files, so
    concurrent index mutations — reindex, delete_by_query, new bulks —
    never shift a paging session underneath the caller (the reason PIT
    replaced long scroll contexts in ES).  The id encodes the snapshot
    location; :func:`close_pit` releases it."""
    import base64 as _b64
    import json as _json
    import os
    import tempfile
    import uuid

    from bigdatasearchpro_spark.sinks.bulk import bulk_index_parquet

    n = transform.normalize_index_name(index_name)
    root = base_dir or os.path.join(tempfile.gettempdir(), "bdsp_pits")
    path = os.path.join(root, f"{n}-{uuid.uuid4().hex}")
    df = spark.table(n)
    if "__shard" in df.columns:
        # derived routing partition column, never document payload —
        # the same rule every other index copy applies (snapshot,
        # reindex); a PIT is a frozen READ view, so no routing
        # manifest is needed either
        df = df.drop("__shard")
    rows = bulk_index_parquet(df, path, mode="overwrite")
    token = _json.dumps({"index": n, "path": path, "rows": rows},
                        sort_keys=True)
    return _b64.b64encode(token.encode()).decode()


def _decode_pit(pit_id: str) -> dict:
    import base64 as _b64
    import json as _json

    try:
        return _json.loads(_b64.b64decode(pit_id, validate=True))
    except Exception as e:  # noqa: BLE001
        raise ValueError(f"malformed pit_id: {e}")


def pit_dataframe(spark: SparkSession, pit_id: str) -> DataFrame:
    """The frozen view behind a ``pit_id`` — search/aggregate it like
    any index DataFrame (reads the snapshot files only)."""
    import os

    meta = _decode_pit(pit_id)
    if not os.path.isdir(meta["path"]):
        raise ValueError("pit is closed or expired")
    return spark.read.parquet(meta["path"])


def close_pit(spark: SparkSession, pit_id: str) -> bool:
    """ES ``DELETE /_pit`` — release the frozen snapshot.  True iff
    the PIT was still open."""
    import os
    import shutil

    meta = _decode_pit(pit_id)
    if not os.path.isdir(meta["path"]):
        return False
    shutil.rmtree(meta["path"], ignore_errors=True)
    return True


# ES Transforms (`_transform`): stored pivot jobs that materialize an
# entity-centric summary INDEX from an event-centric source index —
# the ES feature for turning raw streams into queryable rollups.  A
# batch run is one groupBy+agg -> bulk write; continuous mode maps to
# Structured Streaming with foreachBatch upsert (the streaming ring's
# CDC-apply machinery) — batch `_start` is what this facade serves.
_TRANSFORMS: "dict[str, dict]" = {}

_TRANSFORM_AGGS = ("value_count", "sum", "min", "max", "avg")


def put_transform(spark: SparkSession, transform_id: str, *,
                  source: str, dest: str, pivot: dict) -> dict:
    """ES ``PUT _transform/{id}``: store a pivot transform.  ``pivot``
    is ``{"group_by": {out_name: field}, "aggregations": {out_name:
    {agg: field}}}`` with aggs from value_count/sum/min/max/avg —
    validated at PUT like ES.  Exactness note: sum/avg over
    non-integral doubles is combine-order-dependent; keep those aggs
    on integral/exact columns (the engine-wide rule)."""
    gb = pivot.get("group_by") or {}
    aggs = pivot.get("aggregations") or {}
    if not gb or not aggs:
        raise ValueError("pivot needs group_by and aggregations")
    for name, spec in aggs.items():
        if not isinstance(spec, dict) or len(spec) != 1:
            raise ValueError(f"bad aggregation {name!r}")
        kind = next(iter(spec))
        if kind not in _TRANSFORM_AGGS:
            raise ValueError(f"unsupported transform agg {kind!r}")
    _TRANSFORMS[transform_id] = {
        "source": source, "dest": dest,
        "pivot": {"group_by": dict(gb), "aggregations": dict(aggs)},
    }
    return {"id": transform_id, **_TRANSFORMS[transform_id]}


def get_transform(spark: SparkSession, transform_id: str):
    """ES ``GET _transform/{id}`` — the stored job, or None."""
    t = _TRANSFORMS.get(transform_id)
    return None if t is None else {"id": transform_id, **t}


def delete_transform(spark: SparkSession, transform_id: str) -> bool:
    """ES ``DELETE _transform/{id}`` — True iff it existed."""
    return _TRANSFORMS.pop(transform_id, None) is not None


def start_transform(spark: SparkSession, transform_id: str) -> dict:
    """ES ``POST _transform/{id}/_start`` (batch checkpoint): run the
    pivot — ONE hash aggregate over the source index (map-side
    combinable) materialized into the dest index (overwrite = the
    transform checkpoint contract: dest always reflects one complete
    pivot of the source).  Returns ``{docs_processed, docs_indexed}``."""
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    t = _TRANSFORMS.get(transform_id)
    if t is None:
        raise ValueError(f"no transform {transform_id!r}")
    src = resolve_index(spark, t["source"])
    gb = t["pivot"]["group_by"]
    aggs = []
    for name, spec in t["pivot"]["aggregations"].items():
        kind, field = next(iter(spec.items()))
        col = F.col(field)
        if kind == "value_count":
            aggs.append(F.count(col).alias(name))
        elif kind == "sum":
            aggs.append(F.sum(col).alias(name))
        elif kind == "min":
            aggs.append(F.min(col).alias(name))
        elif kind == "max":
            aggs.append(F.max(col).alias(name))
        else:  # avg: exact sum / count, ONE division
            aggs.append((F.sum(col) / F.count(col)).alias(name))
    out = src.groupBy(
        *[F.col(f).alias(n) for n, f in gb.items()]
    ).agg(*aggs)
    docs_processed = src.count()
    docs_indexed = bulk_index_table(out, t["dest"])
    return {"docs_processed": docs_processed, "docs_indexed": docs_indexed}


# X-Pack rollup jobs (`_rollup/job`): scheduled pivot materialization
# of a raw index into a pre-aggregated rollup index.  The pivot engine
# is the same one the transforms above use (one map-side-combinable
# hash aggregate -> bulk_index_table); the job surface adds the ES
# config shape (groups = date_histogram + terms + histogram, metrics
# per field) and the start/stop lifecycle.
_ROLLUP_JOBS: "dict[str, dict]" = {}

_ROLLUP_METRICS = ("min", "max", "sum", "avg", "value_count")
_FIXED_UNIT_S = {"ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400}
_CALENDAR_UNITS = ("minute", "hour", "day", "week", "month", "year")


def _fixed_interval_seconds(spec: str) -> int:
    import re as _re

    m = _re.fullmatch(r"(\d+)(ms|s|m|h|d)", spec)
    if not m:
        raise ValueError(f"bad fixed_interval {spec!r}")
    secs = int(m.group(1)) * _FIXED_UNIT_S[m.group(2)]
    if secs < 1 or secs != int(secs):
        raise ValueError(f"fixed_interval {spec!r} must be >= 1s here")
    return int(secs)


def put_rollup_job(spark: SparkSession, job_id: str, *,
                   index_pattern: str, rollup_index: str, groups: dict,
                   metrics: "list[dict]",
                   cron: str = "*/30 * * * * ?",
                   page_size: int = 1000) -> dict:
    """ES ``PUT _rollup/job/{id}`` (X-Pack): store a rollup job —
    ``groups`` is the ES shape (``date_histogram`` with ``field`` +
    ``fixed_interval``/``calendar_interval`` required, optional
    ``terms.fields`` and ``histogram`` with ``fields`` + ``interval``),
    ``metrics`` is ``[{"field": f, "metrics": [min|max|sum|avg|
    value_count, ...]}, ...]``.  Config-validated at PUT like ES; the
    pivot itself runs at ``_start`` through the same aggregate engine
    as ``put_transform``/``start_transform``.  ``cron``/``page_size``
    are stored as job metadata (this engine's checkpoint unit is one
    whole batch pivot, not pages)."""
    dh = (groups or {}).get("date_histogram")
    if not dh or "field" not in dh:
        raise ValueError("groups.date_histogram.field is required")
    if ("fixed_interval" in dh) == ("calendar_interval" in dh):
        raise ValueError(
            "date_histogram needs exactly one of fixed_interval / "
            "calendar_interval")
    if "fixed_interval" in dh:
        _fixed_interval_seconds(dh["fixed_interval"])
    elif dh["calendar_interval"] not in _CALENDAR_UNITS:
        raise ValueError(
            f"bad calendar_interval {dh['calendar_interval']!r}")
    hist = groups.get("histogram")
    if hist and (not hist.get("fields")
                 or not float(hist.get("interval", 0)) > 0):
        raise ValueError("histogram group needs fields and interval > 0")
    if not metrics:
        raise ValueError("metrics must name at least one field")
    for m in metrics:
        bad = set(m.get("metrics", ())) - set(_ROLLUP_METRICS)
        if "field" not in m or not m.get("metrics") or bad:
            raise ValueError(f"bad metrics entry {m!r}")
    # One job per rollup index (round-10 advice): start_rollup_job
    # materializes the index as ONE job's complete pivot (overwrite)
    # and rows carry no job id — unlike ES, which tags rollup docs
    # with _rollup.id and filters per job — so a second job sharing
    # the index would leave rollup_search picking a config whose
    # pivot may not be the one currently materialized.
    for other_id, other in _ROLLUP_JOBS.items():
        if other_id != job_id and other["rollup_index"] == rollup_index:
            raise ValueError(
                f"rollup_index {rollup_index!r} is already targeted by "
                f"job {other_id!r} — this engine materializes one "
                "complete pivot per rollup index")
    _ROLLUP_JOBS[job_id] = {
        "index_pattern": index_pattern, "rollup_index": rollup_index,
        "groups": groups, "metrics": list(metrics), "cron": cron,
        "page_size": int(page_size), "status": "stopped",
    }
    return {"id": job_id, **_ROLLUP_JOBS[job_id]}


def get_rollup_job(spark: SparkSession, job_id: str):
    """ES ``GET _rollup/job/{id}`` — the stored job config + status,
    or None (a 404)."""
    j = _ROLLUP_JOBS.get(job_id)
    return None if j is None else {"id": job_id, **j}


def delete_rollup_job(spark: SparkSession, job_id: str) -> bool:
    """ES ``DELETE _rollup/job/{id}`` — True iff it existed; a STARTED
    job must be stopped first (the ES contract).  The rollup index
    itself is not touched (also the ES contract)."""
    j = _ROLLUP_JOBS.get(job_id)
    if j is None:
        return False
    if j["status"] == "started":
        raise ValueError(
            f"rollup job {job_id!r} is started — stop it before delete")
    del _ROLLUP_JOBS[job_id]
    return True


def stop_rollup_job(spark: SparkSession, job_id: str) -> dict:
    """ES ``POST _rollup/job/{id}/_stop``."""
    j = _ROLLUP_JOBS.get(job_id)
    if j is None:
        raise ValueError(f"no rollup job {job_id!r}")
    j["status"] = "stopped"
    return {"id": job_id, "status": "stopped"}


def start_rollup_job(spark: SparkSession, job_id: str) -> dict:
    """ES ``POST _rollup/job/{id}/_start`` + one scheduler tick: run
    the rollup pivot — ONE hash aggregate over the source index
    (map-side combinable, shuffles only group keys + partial
    aggregates) materialized into ``rollup_index`` (overwrite = the
    checkpoint contract shared with ``start_transform``: the rollup
    index always reflects one complete pivot of the source).  Group
    columns: ``{field}_bucket`` for the date histogram (epoch-floored
    for fixed_interval, date_trunc for calendar_interval), the bare
    field for terms, the bucket floor under the bare field name for
    histogram.  Metric columns: ``{field}_{metric}``; ``avg`` is one
    exact sum / count division.  Returns ``{docs_processed,
    rollup_docs, status}``."""
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    j = _ROLLUP_JOBS.get(job_id)
    if j is None:
        raise ValueError(f"no rollup job {job_id!r}")
    src = resolve_index(spark, j["index_pattern"])
    dh = j["groups"]["date_histogram"]
    ts = F.col(dh["field"])
    if "fixed_interval" in dh:
        secs = _fixed_interval_seconds(dh["fixed_interval"])
        # TIMESTAMP has no long cast in ANSI Spark 4 — epoch math goes
        # through to_unix_timestamp (the engine-wide date-math rule)
        bucket = F.timestamp_seconds(
            F.floor(F.to_unix_timestamp(ts) / secs) * secs)
    else:
        bucket = F.date_trunc(dh["calendar_interval"], ts)
    keys = [bucket.alias(f"{dh['field']}_bucket")]
    for f in (j["groups"].get("terms") or {}).get("fields", ()):
        keys.append(F.col(f))
    hist = j["groups"].get("histogram")
    if hist:
        iv = float(hist["interval"])
        for f in hist["fields"]:
            keys.append((F.floor(F.col(f) / iv) * iv).alias(f))
    aggs = []
    for m in j["metrics"]:
        col = F.col(m["field"])
        for kind in m["metrics"]:
            name = f"{m['field']}_{kind}"
            if kind == "value_count":
                aggs.append(F.count(col).alias(name))
            elif kind == "avg":
                aggs.append((F.sum(col) / F.count(col)).alias(name))
            else:
                aggs.append(getattr(F, kind)(col).alias(name))
    out = src.groupBy(*keys).agg(*aggs)
    docs_processed = src.count()
    rollup_docs = bulk_index_table(out, j["rollup_index"])
    j["status"] = "started"
    return {"docs_processed": docs_processed, "rollup_docs": rollup_docs,
            "status": "started"}


# `_rollup_search`: query a rollup index with a LIVE agg request and
# have the engine rewrite it onto the pre-aggregated columns — the
# read half of the rollup contract (searching the rollup must equal
# aggregating the raw data).  Reference behavior: ES 6.6 X-Pack
# RollupSearchAction; the reference app itself never re-aggregates —
# it delegates every search to ES (ElasticServiceImpl.java:35-136) —
# so the contract here is the ES endpoint's.
_CALENDAR_CHAIN = ("minute", "hour", "day", "month", "year")


def _rollup_jobs_for(index: str) -> "list[tuple[str, dict]]":
    return [(jid, j) for jid, j in _ROLLUP_JOBS.items()
            if j["rollup_index"] == index]


def _coarser_calendar(stored: str, requested: str) -> bool:
    """True iff date_trunc(requested, date_trunc(stored, ts)) ==
    date_trunc(requested, ts) for all ts — units must nest.  ``week``
    is asymmetric: a STORED unit of week nests into nothing coarser
    (month/year boundaries split weeks), but a REQUESTED week over
    minute/hour/day-stored buckets is exact — week boundaries fall on
    day boundaries, so ``date_trunc('week', date_trunc('day', ts)) ==
    date_trunc('week', ts)`` (round-10 advice: the old predicate
    applied the month-splits-weeks argument to both directions)."""
    if stored == requested:
        return True
    if stored == "week":
        return False
    if requested == "week":
        return stored in ("minute", "hour", "day")
    return (_CALENDAR_CHAIN.index(requested)
            > _CALENDAR_CHAIN.index(stored))


def rollup_search(spark: SparkSession, rollup_index: str, *,
                  date_histogram: dict, terms: "list[str] | None" = None,
                  histogram: "dict | None" = None,
                  metrics: "dict[str, tuple[str, str]] | None" = None,
                  query: "dict | None" = None) -> DataFrame:
    """ES ``GET {rollup_index}/_rollup_search``: run a live aggregation
    against a ROLLUP index by rewriting it onto the pre-aggregated
    columns — ONE hash aggregate over the (already tiny) rollup index,
    never touching the raw data.

    Request shape (the ES agg tree flattened to this engine's grouped-
    DataFrame convention): ``date_histogram`` = ``{"field": f,
    "fixed_interval"|"calendar_interval": iv}`` (requested interval
    must be satisfiable by the job: an integer multiple of a fixed
    job interval, or a calendar unit the stored unit nests into);
    ``terms`` = grouped term fields; ``histogram`` = ``{"fields":
    [...], "interval": iv}`` with iv an integer multiple of the job's;
    ``metrics`` = ``{out_col: (kind, field)}`` with kind in
    min/max/sum/value_count/avg; ``query`` = optional ``{"term": {f:
    v}}`` / ``{"terms": {f: [v...]}}`` / ``{"range": {f: {gte/gt/lte/
    lt}}}`` on GROUPED fields only (the ES rollup-search restriction).

    Metric rewrite: ``sum(f) -> sum(f_sum)``, ``min -> min(f_min)``,
    ``max -> max(f_max)``, ``value_count -> sum(f_value_count)``, and
    ``avg -> sum(f_sum) / sum(f_value_count)`` (exactly how ES stores
    avg internally; requires the job to have captured both sum and
    value_count for the field).  Validation mirrors ES: an agg a job
    cannot satisfy is an error naming the missing capability.  When
    several jobs target the index the first satisfying one is used.
    """
    jobs = _rollup_jobs_for(rollup_index)
    if not jobs:
        raise ValueError(f"no rollup job targets index {rollup_index!r}")

    errors: "list[str]" = []
    for jid, j in jobs:
        try:
            return _rollup_search_one(
                spark, jid, j, date_histogram=date_histogram,
                terms=list(terms or ()), histogram=histogram,
                metrics=dict(metrics or {}), query=query)
        except ValueError as e:
            errors.append(f"{jid}: {e}")
    raise ValueError(
        "no rollup job on {0!r} satisfies the request: {1}".format(
            rollup_index, "; ".join(errors)))


def _rollup_search_one(spark, jid, j, *, date_histogram, terms,
                       histogram, metrics, query) -> DataFrame:
    from pyspark.sql import functions as F

    dh_job = j["groups"]["date_histogram"]
    f = date_histogram.get("field")
    if f != dh_job["field"]:
        raise ValueError(
            f"date_histogram on {f!r} but job groups {dh_job['field']!r}")
    stored = F.col(f"{f}_bucket")
    if "fixed_interval" in date_histogram:
        if "fixed_interval" not in dh_job:
            raise ValueError("job uses calendar_interval, request fixed")
        want = _fixed_interval_seconds(date_histogram["fixed_interval"])
        have = _fixed_interval_seconds(dh_job["fixed_interval"])
        if want % have:
            raise ValueError(
                f"requested interval {want}s is not a multiple of the "
                f"job's {have}s")
        bucket = F.timestamp_seconds(
            F.floor(F.to_unix_timestamp(stored) / want) * want)
    elif "calendar_interval" in date_histogram:
        if "calendar_interval" not in dh_job:
            raise ValueError("job uses fixed_interval, request calendar")
        want_u = date_histogram["calendar_interval"]
        if want_u not in _CALENDAR_UNITS:
            raise ValueError(f"bad calendar_interval {want_u!r}")
        if not _coarser_calendar(dh_job["calendar_interval"], want_u):
            raise ValueError(
                f"calendar unit {want_u!r} does not nest over the "
                f"job's {dh_job['calendar_interval']!r}")
        bucket = F.date_trunc(want_u, stored)
    else:
        raise ValueError("date_histogram needs an interval")
    keys = [bucket.alias(f"{f}_bucket")]
    # queryable = everything the JOB grouped by (the ES rule), whether
    # or not this request re-groups on it — an un-requested group field
    # is still a physical column of the rollup index
    job_terms = set((j["groups"].get("terms") or {}).get("fields", ()))
    job_hist = j["groups"].get("histogram")
    grouped_fields = ({f"{f}_bucket", f} | job_terms
                      | set((job_hist or {}).get("fields", ())))

    for t in terms:
        if t not in job_terms:
            raise ValueError(f"terms field {t!r} is not grouped by the job")
        keys.append(F.col(t))

    if histogram:
        if not job_hist:
            raise ValueError("job has no histogram group")
        import math

        want_iv = float(histogram.get("interval", 0))
        have_iv = float(job_hist["interval"])
        # tolerance-based multiple check (round-10 advice): float
        # division rejects exact decimal multiples (0.3 / 0.1 =
        # 2.9999…) and int() truncation compares the wrong integer —
        # test the remainder against both 0 and have_iv instead
        rem = math.fmod(want_iv, have_iv)
        # scale with BOTH intervals (round-11 advice): fmod's error is
        # relative to want_iv, so a large want over a small fractional
        # have (1e9 over 0.1) needs a want-scaled tolerance too
        tol = 1e-9 * max(1.0, abs(have_iv), abs(want_iv))
        is_multiple = (
            math.isclose(rem, 0.0, abs_tol=tol)
            or math.isclose(rem, have_iv, abs_tol=tol)
        )
        if want_iv <= 0 or want_iv < have_iv - tol or not is_multiple:
            raise ValueError(
                f"histogram interval {want_iv} is not a multiple of the "
                f"job's {have_iv}")
        for h in histogram.get("fields", ()):
            if h not in job_hist["fields"]:
                raise ValueError(
                    f"histogram field {h!r} is not grouped by the job")
            keys.append((F.floor(F.col(h) / want_iv) * want_iv).alias(h))

    captured = {m["field"]: set(m["metrics"]) for m in j["metrics"]}
    aggs = []
    for out_col, (kind, field) in metrics.items():
        have = captured.get(field, set())
        if kind in ("min", "max"):
            if kind not in have:
                raise ValueError(f"job did not capture {kind}({field})")
            aggs.append(getattr(F, kind)(F.col(f"{field}_{kind}"))
                        .alias(out_col))
        elif kind == "sum":
            if "sum" not in have:
                raise ValueError(f"job did not capture sum({field})")
            aggs.append(F.sum(F.col(f"{field}_sum")).alias(out_col))
        elif kind == "value_count":
            if "value_count" not in have:
                raise ValueError(
                    f"job did not capture value_count({field})")
            aggs.append(F.sum(F.col(f"{field}_value_count"))
                        .alias(out_col))
        elif kind == "avg":
            # ES stores avg as (sum, count) internally and recombines;
            # this engine's job must have captured both explicitly.
            if not {"sum", "value_count"} <= have:
                raise ValueError(
                    f"avg({field}) needs the job to capture both "
                    f"sum and value_count for {field!r}")
            aggs.append(
                (F.sum(F.col(f"{field}_sum")).cast("double")
                 / F.sum(F.col(f"{field}_value_count"))).alias(out_col))
        else:
            raise ValueError(f"unsupported rollup metric {kind!r}")
    if not aggs:
        raise ValueError("request names no metrics")

    df = resolve_index(spark, j["rollup_index"])
    if query:

        def _floor_value(fld, v):
            # term/terms values on BUCKETED fields floor to the job's
            # bucket (round-10 advice: the field name was rewritten
            # onto the stored bucket column but the VALUE stayed raw,
            # so a mid-bucket term matched zero buckets) — matching
            # the range clause's whole-bucket semantics: the term
            # selects the bucket CONTAINING the value.
            import math as _math

            if fld == f:
                import datetime as _dt

                ts = (v if isinstance(v, _dt.datetime)
                      else _dt.datetime.fromisoformat(str(v)))
                if "fixed_interval" in dh_job:
                    secs = _fixed_interval_seconds(
                        dh_job["fixed_interval"])
                    epoch = (ts - _dt.datetime(1970, 1, 1)).total_seconds()
                    return (_dt.datetime(1970, 1, 1)
                            + _dt.timedelta(
                                seconds=_math.floor(epoch / secs) * secs))
                return _py_date_trunc(dh_job["calendar_interval"], ts)
            if job_hist and fld in job_hist["fields"]:
                iv = float(job_hist["interval"])
                return _math.floor(float(v) / iv) * iv
            return v

        cond_field, pred = _compile_rollup_query(
            query,
            # a query on the raw date field rewrites onto the stored
            # bucket column (the rollup index has no raw timestamps) —
            # the ES rollup-search behavior: range bounds select whole
            # buckets
            col_of=lambda fld: f"{fld}_bucket" if fld == f else fld,
            floor_of=_floor_value)
        if cond_field not in grouped_fields:
            raise ValueError(
                f"query field {cond_field!r} is not grouped by the job "
                "(rollup search allows queries on grouped fields only)")
        df = df.filter(pred)
    return df.groupBy(*keys).agg(*aggs)


def _py_date_trunc(unit: str, ts):
    """Driver-side twin of ``date_trunc`` for the calendar units the
    rollup surface supports (UTC session convention, naive inputs).
    ``week`` truncates to Monday — the Spark/DuckDB behavior."""
    import datetime as _dt

    if unit == "minute":
        return ts.replace(second=0, microsecond=0)
    if unit == "hour":
        return ts.replace(minute=0, second=0, microsecond=0)
    day = ts.replace(hour=0, minute=0, second=0, microsecond=0)
    if unit == "day":
        return day
    if unit == "week":
        return day - _dt.timedelta(days=day.weekday())
    if unit == "month":
        return day.replace(day=1)
    if unit == "year":
        return day.replace(month=1, day=1)
    raise ValueError(f"bad calendar unit {unit!r}")


def _compile_rollup_query(query: dict, *, col_of, floor_of=None):
    """One term/terms/range clause -> (logical_field, Column predicate
    over ``col_of(logical_field)``).  ``floor_of(field, v)`` maps a
    term/terms value to its stored bucket value (identity for
    categorical fields); range bounds stay raw — they already select
    whole buckets."""
    from pyspark.sql import functions as F

    if floor_of is None:
        floor_of = lambda _fld, v: v  # noqa: E731
    if len(query) != 1:
        raise ValueError("rollup query supports exactly one clause")
    kind, body = next(iter(query.items()))
    if kind == "term":
        (field, v), = body.items()
        return field, F.col(col_of(field)) == floor_of(field, v)
    if kind == "terms":
        (field, vs), = body.items()
        return field, F.col(col_of(field)).isin(
            [floor_of(field, v) for v in vs])
    if kind == "range":
        (field, bounds), = body.items()
        ops = {"gte": "__ge__", "gt": "__gt__", "lte": "__le__",
               "lt": "__lt__"}
        pred = None
        for op, v in bounds.items():
            if op not in ops:
                raise ValueError(f"bad range op {op!r}")
            c = getattr(F.col(col_of(field)), ops[op])(v)
            pred = c if pred is None else (pred & c)
        if pred is None:
            raise ValueError("empty range bounds")
        return field, pred
    raise ValueError(f"unsupported rollup query clause {kind!r}")


# ES Watcher (`_watcher`): stored alerts — a search input, a scalar
# condition, an action fired when the condition holds.  The streaming
# ring serves the push form (percolation, geo-fence, script alerts);
# Watcher is the PULL form: execute on demand / on schedule.
_WATCHES: "dict[str, dict]" = {}

_WATCH_OPS = {"gt": "__gt__", "gte": "__ge__", "lt": "__lt__",
              "lte": "__le__", "eq": "__eq__"}


def put_watch(spark: SparkSession, watch_id: str, *, input_sql: str,
              condition: dict, action: str = "log") -> dict:
    """ES ``PUT _watcher/watch/{id}``: store an alert — ``input_sql``
    (a read-only SELECT whose first cell is the watched scalar — the
    ES search input reduced to its compare payload), a ``condition``
    ``{op: threshold}`` with op in gt/gte/lt/lte/eq, and an action
    name.  Validated at PUT like ES."""
    if not isinstance(condition, dict) or len(condition) != 1:
        raise ValueError("condition must be one {op: threshold}")
    op = next(iter(condition))
    if op not in _WATCH_OPS:
        raise ValueError(f"unsupported condition op {op!r}")
    sql_query(spark, input_sql, fetch_size=1)  # validates read-only form
    _WATCHES[watch_id] = {
        "input_sql": input_sql, "condition": dict(condition),
        "action": action,
    }
    return {"id": watch_id, **_WATCHES[watch_id]}


def get_watch(spark: SparkSession, watch_id: str):
    """ES ``GET _watcher/watch/{id}`` — the stored watch, or None."""
    w = _WATCHES.get(watch_id)
    return None if w is None else {"id": watch_id, **w}


def delete_watch(spark: SparkSession, watch_id: str) -> bool:
    """ES ``DELETE _watcher/watch/{id}`` — True iff it existed."""
    return _WATCHES.pop(watch_id, None) is not None


def execute_watch(spark: SparkSession, watch_id: str) -> dict:
    """ES ``POST _watcher/watch/{id}/_execute``: run the input, test
    the condition, report whether the action fired — ONE scalar
    aggregate query per execution."""
    w = _WATCHES.get(watch_id)
    if w is None:
        raise ValueError(f"no watch {watch_id!r}")
    row = sql_query(spark, w["input_sql"], fetch_size=1).first()
    value = row[0] if row is not None else None
    op, thr = next(iter(w["condition"].items()))
    met = (
        value is not None and getattr(value, _WATCH_OPS[op])(thr)
    )
    return {
        "watch_id": watch_id,
        "value": value,
        "condition_met": bool(met),
        "action_fired": w["action"] if met else None,
    }


# ES ILM (`_ilm/policy`): the policy layer over the lifecycle
# primitives this facade already serves (rollover, delete).  A policy
# here = a hot-phase rollover condition + a delete phase keeping the
# newest K generations — the time-series retention loop.
_ILM_POLICIES: "dict[str, dict]" = {}


def put_ilm_policy(spark: SparkSession, name: str, *,
                   rollover_max_docs: int,
                   keep_generations: int = 2) -> dict:
    """ES ``PUT _ilm/policy/{name}``: hot phase = rollover at
    ``rollover_max_docs``; delete phase = drop generations older than
    the newest ``keep_generations``."""
    if rollover_max_docs < 1 or keep_generations < 1:
        raise ValueError("rollover_max_docs and keep_generations must be >= 1")
    _ILM_POLICIES[name] = {
        "rollover_max_docs": int(rollover_max_docs),
        "keep_generations": int(keep_generations),
    }
    return {"name": name, **_ILM_POLICIES[name]}


def get_ilm_policy(spark: SparkSession, name: str):
    """ES ``GET _ilm/policy/{name}`` — the policy, or None."""
    p = _ILM_POLICIES.get(name)
    return None if p is None else {"name": name, **p}


def delete_ilm_policy(spark: SparkSession, name: str) -> bool:
    """ES ``DELETE _ilm/policy/{name}`` — True iff it existed."""
    return _ILM_POLICIES.pop(name, None) is not None


def apply_ilm(spark: SparkSession, alias: str, policy: str) -> dict:
    """One ILM tick (ES runs this on its poll interval): roll the
    alias's write index over if the hot-phase condition holds, then
    delete generations beyond the retention window.  Each tick is one
    count + (maybe) one empty-index create + K catalog drops — no data
    rewrite; generations age out whole, the reason time-series
    retention is cheap in generation-structured storage."""
    import re as _re

    p = _ILM_POLICIES.get(policy)
    if p is None:
        raise ValueError(f"no ilm policy {policy!r}")
    res = rollover(spark, alias, max_docs=p["rollover_max_docs"])
    # delete phase: generations beyond the newest keep_generations
    # (generation names end in the incremented digit run, base_NNNNNN)
    base = _re.sub(r"\d+$", "", res["new_index"])
    gens = sorted(
        n for n in get_all_index(spark)
        if _re.fullmatch(_re.escape(base) + r"\d+", n)
    )
    deleted = []
    for old in gens[: max(0, len(gens) - p["keep_generations"])]:
        delete_index(spark, old)
        deleted.append(old)
    return {**res, "deleted": deleted, "kept": gens[len(deleted):]}


# X-Pack SLM (`_slm/policy`): snapshot lifecycle management —
# scheduling metadata over the existing snapshot machinery
# (snapshot_index / restore_index above).  The scheduler surface is
# the stored policy + the on-demand execute tick (ES also lets you
# `POST _slm/policy/{id}/_execute` outside the schedule); cron fires
# map to execute_slm_policy calls.
_SLM_POLICIES: "dict[str, dict]" = {}


def put_slm_policy(spark: SparkSession, policy_id: str, *,
                   repository: str, indices: "list[str]",
                   schedule: str = "0 30 1 * * ?",
                   snapshot_name: str = "snap-{id}",
                   retention_max_count: "int | None" = None) -> dict:
    """ES ``PUT _slm/policy/{id}``: store a snapshot-lifecycle policy —
    ``repository`` (a repo directory here), ``indices`` (``*``-globs
    resolved against the live index list at EXECUTE time, the ES
    semantics), the cron ``schedule``, a ``snapshot_name`` template,
    and optional count-based retention.  Validated at PUT."""
    if not indices:
        raise ValueError("policy needs at least one index pattern")
    if retention_max_count is not None and retention_max_count < 1:
        raise ValueError("retention_max_count must be >= 1")
    _SLM_POLICIES[policy_id] = {
        "repository": repository, "indices": list(indices),
        "schedule": schedule, "snapshot_name": snapshot_name,
        "retention_max_count": retention_max_count,
        "executions": 0,
    }
    return {"id": policy_id, **_SLM_POLICIES[policy_id]}


def get_slm_policy(spark: SparkSession, policy_id: str):
    """ES ``GET _slm/policy/{id}`` — the stored policy, or None."""
    p = _SLM_POLICIES.get(policy_id)
    return None if p is None else {"id": policy_id, **p}


def delete_slm_policy(spark: SparkSession, policy_id: str) -> bool:
    """ES ``DELETE _slm/policy/{id}`` — True iff it existed."""
    return _SLM_POLICIES.pop(policy_id, None) is not None


def execute_slm_policy(spark: SparkSession, policy_id: str) -> dict:
    """ES ``POST _slm/policy/{id}/_execute`` (and what a schedule fire
    runs): resolve the policy's index globs against the LIVE index
    list, snapshot each match into ``{repository}/{snapshot_name}``
    via :func:`snapshot_index` (one distributed write per index,
    settings manifests included), then apply count-based retention —
    oldest snapshot directories beyond ``retention_max_count`` are
    deleted, whole (the generation-ages-out-whole economics ILM uses).
    Returns ``{snapshot, indices, retained, deleted}``."""
    import fnmatch as _fnmatch
    import os as _os
    import shutil as _shutil

    p = _SLM_POLICIES.get(policy_id)
    if p is None:
        raise ValueError(f"no slm policy {policy_id!r}")
    live = [r["index_name"] for r in ddl.list_indices(spark).collect()]
    matched = sorted({
        n for n in live
        for pat in p["indices"] if _fnmatch.fnmatch(n, pat)
    })
    if not matched:
        raise ValueError(
            f"slm policy {policy_id!r} matched no live index "
            f"(patterns {p['indices']})")
    p["executions"] += 1
    snap = p["snapshot_name"].format(id=f"{policy_id}-{p['executions']:06d}")
    repo = _os.path.join(p["repository"], snap)
    results = [snapshot_index(spark, n, repo) for n in matched]
    # retention: keep the newest retention_max_count snapshot dirs
    deleted = []
    keep = p["retention_max_count"]
    if keep is not None and _os.path.isdir(p["repository"]):
        snaps = sorted(
            d for d in _os.listdir(p["repository"])
            if _os.path.isdir(_os.path.join(p["repository"], d)))
        for old in snaps[: max(0, len(snaps) - keep)]:
            _shutil.rmtree(_os.path.join(p["repository"], old))
            deleted.append(old)
    return {"snapshot": snap, "indices": [r["index"] for r in results],
            "retained": keep, "deleted": deleted}


def terms_enum(spark: SparkSession, index_name: str, field: str,
               string: str = "", *, size: int = 10) -> "list[str]":
    """ES ``_terms_enum`` (7.14+): fast sorted term autocomplete for a
    field — the DISTINCT values of ``field`` starting with ``string``
    (case-insensitive, like the ES default), first ``size`` in sorted
    order.  One distinct hash agg + a TakeOrdered page; the prefix
    predicate pushes into the scan."""
    from pyspark.sql import functions as F

    docs = resolve_index(spark, index_name)
    if field not in docs.columns:
        raise ValueError(f"unknown field {field!r}")
    col = F.col(field).cast("string")
    out = (
        docs.filter(F.lower(col).startswith(string.lower()))
        .select(col.alias("term"))
        .distinct()
        .orderBy("term")
        .limit(size)
    )
    return [r.term for r in out.collect()]


_RESIZE_OPS = ("_split", "_shrink", "_clone")


def resize_index(
    spark: SparkSession,
    source_index: str,
    target_index: str,
    *,
    op: str,
    factor: int = 2,
) -> dict:
    """ES index-resize APIs — ``_split`` / ``_shrink`` / ``_clone``:
    re-materialize an index under a new shard count (or verbatim for
    clone), preserving content exactly.

    Shard math mirrors ES's resize invariant: with hash routing
    ``shard = pmod(xxhash64(routing), n)``, splitting to ``k*n``
    sends each document of source shard ``s`` to a target shard
    ``≡ s (mod n)`` — every source shard fans out to exactly its own
    ``k`` children, and shrink is the same relation reversed (ES
    requires factor-multiple shard counts for precisely this reason).
    ES implements split via filesystem hard links (metadata-cheap) and
    shrink via forced colocation; on an object-store lakehouse both
    are one content-invariant distributed rewrite — scan, recompute
    the partition column, write — with no shuffle beyond the
    partitioned-write clustering.  Non-routed indices support
    ``_clone`` only (they have no shard structure to resize)."""
    if op not in _RESIZE_OPS:
        raise ValueError(f"op must be one of {_RESIZE_OPS}, got {op!r}")
    if factor < 1 or (op in ("_split", "_shrink") and factor < 2):
        raise ValueError(f"factor must be >= 2 for {op}, got {factor}")
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    meta = routing_meta(spark, source_index)
    if op != "_clone" and meta is None:
        raise ValueError(
            f"{op} requires a custom-routed index (clone-only for flat ones)"
        )
    if op == "_split":
        n_t = meta["shards"] * factor
    elif op == "_shrink":
        if meta["shards"] % factor:
            raise ValueError(
                f"_shrink factor {factor} must divide {meta['shards']} shards"
            )
        n_t = meta["shards"] // factor
    else:
        n_t = meta["shards"] if meta else None
    docs = resolve_index(spark, source_index)
    if meta is not None:
        docs = docs.drop("__shard")
    rows = bulk_index_table(
        docs,
        target_index,
        routing_col=meta["col"] if meta else None,
        n_shards=n_t if n_t is not None else 8,
    )
    return {
        "op": op,
        "source": source_index,
        "target": target_index,
        "shards": n_t,
        "rows": int(rows),
    }


# ES async search (`_async_search`): submit a search, poll PARTIAL
# results while shards complete, fetch / delete by id.  ES's partial
# response is the coordinating node's reduce over the shards that
# have finished so far; the deterministic batch re-expression drives
# shard completion explicitly (tick_async_search — the same stored-job
# tick contract as _transform / _watcher / _ilm).  Supported search
# shape: optional WHERE predicate + GROUP BY key + additive metrics
# (doc count, integer sum) — exactly the shard-decomposable class
# ES's own incremental reduce relies on, so any partial equals the
# true aggregate of the completed shards and the last tick's result
# equals the whole-index aggregate.
_ASYNC_SEARCHES: "dict[str, dict]" = {}


def submit_async_search(
    spark: SparkSession,
    index_name: str,
    *,
    group_by: str,
    sum_col: "str | None" = None,
    where: "str | None" = None,
    n_shards: "int | None" = None,
) -> dict:
    """ES ``POST /{index}/_async_search``: register the search and
    return its id + shard progress (0 of N at submit, like ES when no
    shard has reported).  Routed indices use their REAL ``__shard``
    partition column (partial fetches prune to completed shard
    directories — the scan never touches unfinished shards); unrouted
    indices get virtual shards ``pmod(xxhash64(group_by), n)``.
    ``sum_col`` is summed on the BIGINT grid (the document model
    stringifies every field; integer sums keep partials hash-exact)."""
    import uuid as _uuid

    docs = resolve_index(spark, index_name)
    if group_by not in docs.columns:
        raise ValueError(f"unknown group_by field {group_by!r}")
    if sum_col is not None and sum_col not in docs.columns:
        raise ValueError(f"unknown sum field {sum_col!r}")
    if where is not None:
        docs.filter(where)  # validate the predicate compiles
    meta = routing_meta(spark, index_name)
    if meta is not None:
        total = int(meta["shards"])
        if n_shards is not None and n_shards != total:
            raise ValueError(
                f"index has {total} routed shards; n_shards must match"
            )
    else:
        total = int(n_shards or ddl.DEFAULT_SHARDS)
    sid = _uuid.uuid4().hex[:16]
    _ASYNC_SEARCHES[sid] = {
        "index": index_name,
        "group_by": group_by,
        "sum_col": sum_col,
        "where": where,
        "routed": meta is not None,
        "total_shards": total,
        "completed_shards": 0,
    }
    return {"id": sid, "is_running": True, "is_partial": True,
            "total_shards": total, "completed_shards": 0}


def tick_async_search(spark: SparkSession, search_id: str,
                      shards: int = 1) -> dict:
    """Advance shard completion by ``shards`` (ES: time passes and
    more shards report; here the progression is explicit and
    deterministic).  Returns the updated status."""
    s = _ASYNC_SEARCHES.get(search_id)
    if s is None:
        raise ValueError(f"no async search {search_id!r}")
    if shards < 1:
        raise ValueError("shards must be >= 1")
    s["completed_shards"] = min(s["total_shards"],
                                s["completed_shards"] + int(shards))
    running = s["completed_shards"] < s["total_shards"]
    return {"id": search_id, "is_running": running, "is_partial": running,
            "total_shards": s["total_shards"],
            "completed_shards": s["completed_shards"]}


def get_async_search(spark: SparkSession, search_id: str) -> dict:
    """ES ``GET /_async_search/{id}``: the reduce over completed
    shards — ONE filter + hash aggregate per fetch (the shard
    predicate prunes routed indices to completed shard directories);
    ``is_partial`` until every shard is in, at which point the
    response is the whole-index aggregate."""
    from pyspark.sql import functions as F

    s = _ASYNC_SEARCHES.get(search_id)
    if s is None:
        raise ValueError(f"no async search {search_id!r}")
    docs = resolve_index(spark, s["index"])
    k = s["completed_shards"]
    if s["routed"]:
        shard = F.col("__shard")
    else:
        shard = F.pmod(F.xxhash64(F.col(s["group_by"])),
                       F.lit(s["total_shards"]))
    part = docs.filter(shard < F.lit(k))
    if s["where"] is not None:
        part = part.filter(s["where"])
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    if s["sum_col"] is not None:
        aggs.append(
            F.sum(F.col(s["sum_col"]).cast("bigint")).alias("sum_metric")
        )
    running = k < s["total_shards"]
    resp = part.groupBy(s["group_by"]).agg(*aggs).orderBy(s["group_by"])
    return {"id": search_id, "is_running": running, "is_partial": running,
            "total_shards": s["total_shards"], "completed_shards": k,
            "response": resp}


def delete_async_search(spark: SparkSession, search_id: str) -> bool:
    """ES ``DELETE /_async_search/{id}`` — True iff it existed."""
    return _ASYNC_SEARCHES.pop(search_id, None) is not None
