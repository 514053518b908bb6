"""End-to-end facade test: the reference's six service operations as one
lifecycle — load a table into an index, list it, count it, query it,
drop it (reference ElasticController.java:31-72, BulkProcessImpl.java
main() flow :44-60)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatasearchpro_spark import api
from bigdatasearchpro_spark.sources.files import load_table


def test_full_service_lifecycle(spark, sf_dir, docs):
    idx = "API_Lifecycle_Docs"  # mixed case: must normalize

    # bulk load (the /bulk/{index} path) — stringify + LWW by doc_id
    res = api.bulk_data_to_index(spark, docs, idx, id_col="doc_id")
    assert res["index"] == idx.lower()
    assert res["rows"] == docs.count()  # count reconciliation
    assert res["seconds"] >= 0

    try:
        # catalog (the /getAllIndex path)
        assert idx.lower() in api.get_all_index(spark)

        # count (declared-null in the reference; real here)
        assert api.get_index_data_count(spark, idx) == docs.count()

        # search (the ?q= path; docs were stringified -> text col intact)
        hits = api.query_data(spark, "spark join window", idx, k=5)
        rows = hits.collect()
        assert 0 < len(rows) <= 5
        assert rows == sorted(rows, key=lambda r: (-r["score"], int(r["doc_id"])))
    finally:
        api.delete_index(spark, idx)
    assert idx.lower() not in api.get_all_index(spark)


def test_query_data_all_indices_scatter_gather(spark, sf_dir, docs):
    """`index_name="_all"` (the reference UI's "all index" option,
    HtmlController.java:27): per-index top-k searched independently,
    merged by score with an `index` provenance column."""
    a, b = "all_test_idx_a", "all_test_idx_b"
    api.bulk_data_to_index(spark, docs.filter(F.col("doc_id") % 2 == 0), a,
                           id_col="doc_id")
    api.bulk_data_to_index(spark, docs.filter(F.col("doc_id") % 2 == 1), b,
                           id_col="doc_id")
    try:
        hits = api.query_data(spark, "spark join window", "_all", k=6)
        rows = hits.collect()
        assert 0 < len(rows) <= 6
        assert {r["index"] for r in rows} <= {a, b}
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        # a page wide enough for every hit reaches BOTH indices and
        # reproduces each index's own single-index ranking exactly
        n = docs.count()
        wide = api.query_data(spark, "spark join window", "_all", k=n).collect()
        assert {r["index"] for r in wide} == {a, b}
        for idx in (a, b):
            single = {
                (r["doc_id"], r["score"])
                for r in api.query_data(spark, "spark join window", idx, k=n).collect()
            }
            assert {
                (r["doc_id"], r["score"]) for r in wide if r["index"] == idx
            } == single
    finally:
        api.delete_index(spark, a)
        api.delete_index(spark, b)


def test_query_data_field_sort_and_all_count(spark, sf_dir, docs):
    """ES URI-search `sort=field[:asc|desc]`: the page ranks by the
    field (constant relevance, like ES with a sort clause); `_all`
    count sums every index."""
    a, b = "sort_test_idx_a", "sort_test_idx_b"
    api.bulk_data_to_index(spark, docs.filter(F.col("doc_id") % 2 == 0), a,
                           id_col="doc_id")
    api.bulk_data_to_index(spark, docs.filter(F.col("doc_id") % 2 == 1), b,
                           id_col="doc_id")
    try:
        # bulk_data_to_index stringifies every column (the reference's
        # document model, BulkProcessImpl.java:112-117), so field sort
        # is LEXICOGRAPHIC — the same observable semantics ES gives the
        # reference's all-string documents.
        hits = api.query_data(spark, "spark", a, k=5, sort="n_chars:desc").collect()
        assert len(hits) == 5
        vals = [h["sort_n_chars"] for h in hits]
        assert vals == sorted(vals, reverse=True)
        # the page is the global top-5 of the matched set, not any top-5
        allv = sorted(
            (r["sort_n_chars"] for r in
             api.query_data(spark, "spark", a, k=10**6, sort="n_chars:desc").collect()),
            reverse=True,
        )
        assert vals == allv[:5]
        # ascending + _all merge keeps global field order across indices
        merged = api.query_data(spark, "spark", "_all", k=8, sort="n_chars").collect()
        mv = [h["sort_n_chars"] for h in merged]
        assert mv == sorted(mv)
        assert {h["index"] for h in merged} <= {a, b}
        # _all count = sum of per-index counts
        assert api.get_index_data_count(spark, "_all") == (
            api.get_index_data_count(spark, a) + api.get_index_data_count(spark, b)
        )
        import pytest as _pytest

        with _pytest.raises(ValueError):
            api.query_data(spark, "spark", a, sort="nope_col")
        with _pytest.raises(ValueError):
            api.query_data(spark, "spark", a, sort="n_chars:sideways")
        # multi-field comma list: later fields break ties of earlier ones
        multi = api.query_data(
            spark, "spark", a, k=8, sort="lang:asc,n_chars:desc"
        ).collect()
        keys = [(h["sort_lang"], h["sort_n_chars"]) for h in multi]
        for (l1, c1), (l2, c2) in zip(keys, keys[1:]):
            assert l1 < l2 or (l1 == l2 and c1 >= c2)
        # a single-field spec returns the exact same page as before the
        # comma-list extension (schema and ordering unchanged)
        single = api.query_data(spark, "spark", a, k=5, sort="n_chars:desc").collect()
        assert [h["sort_n_chars"] for h in single] == vals
        assert single[0].asDict().keys() == hits[0].asDict().keys()
        with _pytest.raises(ValueError):
            api.query_data(spark, "spark", a, sort="lang:asc,lang:desc")
        with _pytest.raises(ValueError):
            api.query_data(spark, "spark", a, sort="lang:asc,,n_chars")
    finally:
        api.delete_index(spark, a)
        api.delete_index(spark, b)


def test_all_is_a_reserved_index_name(spark, docs):
    """'_all' mirrors ES's reserved multi-index alias: creating an index
    with that name (which would make query_data's scatter-gather recurse
    into itself) is rejected everywhere names are normalized."""
    import pytest as _pytest

    from bigdatasearchpro_spark.operators.transform import normalize_index_name
    from bigdatasearchpro_spark.sinks import ddl

    with _pytest.raises(ValueError, match="reserved"):
        normalize_index_name("_all")
    with _pytest.raises(ValueError, match="reserved"):
        api.create_index(spark, "_ALL ")
    with _pytest.raises(ValueError, match="reserved"):
        api.bulk_data_to_index(spark, docs, "_all", id_col="doc_id")
    # defense-in-depth: even a pre-existing catalog table named _all
    # (created outside the facade) never enters the scatter list
    spark.sql("CREATE TABLE IF NOT EXISTS _all (doc_id BIGINT) USING parquet")
    try:
        assert "_all" not in api.get_all_index(spark)
    finally:
        spark.sql("DROP TABLE IF EXISTS _all")


def test_query_data_wildcard_only_matches_stay_in_page(spark, sf_dir, docs):
    """A doc matching only a non-scoring clause (wildcard) must appear
    in the results at score 0.0 (ES constant-score), not vanish."""
    idx = "zerohit_test_idx"
    api.bulk_data_to_index(spark, docs, idx, id_col="doc_id")
    try:
        n_matched = api.get_index_data_count(spark, idx)
        # every doc matches vect* (fixture vocab) or the rare exact term
        hits = api.query_data(
            spark, "zzznotaword OR vect*", idx, k=n_matched
        ).collect()
        # BM25 terms contribute nothing (zzznotaword absent): all hits
        # surface with constant score 0.0, ordered by id
        assert len(hits) > 0
        assert all(h["score"] == 0.0 for h in hits)
        wildcard_only = {
            r["doc_id"]
            for r in spark.table(idx).filter(
                F.col("text").rlike("(?i)\\bvect")
            ).select("doc_id").collect()
        }
        assert {h["doc_id"] for h in hits} == wildcard_only
        # mixed query: scored docs first, wildcard-only docs follow at 0.0
        mixed = api.query_data(spark, "spark OR vect*", idx, k=n_matched).collect()
        scores = [h["score"] for h in mixed]
        assert scores == sorted(scores, reverse=True)
        assert any(s > 0 for s in scores) and any(s == 0.0 for s in scores)
    finally:
        api.delete_index(spark, idx)


def _jobs_in(spark, group: str, run):
    """``run()``'s result and the number of Spark jobs it started, read
    from its own job group once the listener bus has caught up."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_page_is_local_and_job_bounded(spark, docs, monkeypatch):
    """A scored query_data page costs the stats jobs plus ONE top-k job
    that also ranks the page: at most 4 Spark jobs, the caller's
    collect included. The page (and the pure-filter and sort pages)
    comes back as a local relation — no Python RDD behind it, so
    consuming it starts no job and no Python worker. The request plans
    the index scan to count its splits at most once."""
    from bigdatasearchpro_spark.plans import executed_plan
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    idx = "page_jobs_idx"
    # one file per core, like any index larger than a split per core: a
    # scan with fewer splits than cores gets fan_out's repartition, a
    # shuffle job of its own on top of the bound
    cores = spark.sparkContext.defaultParallelism
    bulk_index_table(docs.select("doc_id", "text").repartition(cores), idx)
    try:
        assert api.resolve_index(spark, idx).rdd.getNumPartitions() >= cores
        probes = []
        rdd = type(docs).rdd
        monkeypatch.setattr(
            type(docs), "rdd",
            property(lambda df: probes.append(1) or rdd.func(df)),
        )
        rows, jobs = _jobs_in(spark, "page_jobs_or", lambda: api.query_data(
            spark, "spark join window", idx, k=5, from_=2
        ).collect())
        monkeypatch.undo()
        assert 1 <= jobs <= 4
        assert len(probes) <= 1  # fan_out plans the scan at most once
        assert [r["rank"] for r in rows] == list(range(3, 3 + len(rows)))
        assert rows and rows[0]["score"] >= rows[-1]["score"] > 0
        for q, kw in (("spark join window", {}), ("vect*", {}),
                      ("spark", {"sort": "doc_id:desc"})):
            page = api.query_data(spark, q, idx, k=5, from_=1, **kw)
            plan = executed_plan(page)
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
            got, jobs = _jobs_in(spark, "page_jobs_read", page.collect)
            assert got and jobs == 0
    finally:
        api.delete_index(spark, idx)


def test_explain_doc_follows_field_mapping(spark):
    """_explain resolves the field as the search does: on an english-
    mapped field, the query "runs" matches "run late", and the per-term
    contributions sum to that hit's score in the search over the index
    with the mapped analyzer."""
    from bigdatasearchpro_spark.operators import search

    idx = "explain_mapping_idx"
    api.bulk_data_to_index(
        spark,
        spark.createDataFrame(
            [(1, "walks home"), (2, "she runs"), (3, "run late"),
             (4, "unrelated words")],
            "doc_id long, text string",
        ),
        idx,
        id_col="doc_id",
    )
    try:
        api.put_mapping(spark, idx, {"text": "english"})
        hits = {
            r["doc_id"]: r["score"]
            for r in search.search_topk(
                api.resolve_index(spark, idx), "runs", 10, analyzer="english"
            ).collect()
        }
        assert set(hits) == {"2", "3"}
        exp = api.explain_doc(spark, "runs", idx, "3")
        assert exp["matched"] and exp["details"][0]["tf"] == 1.0
        total = sum(d["value"] for d in exp["details"])
        assert round(total, 4) == hits["3"] == exp["value"]
        assert not api.explain_doc(spark, "runs", idx, "1")["matched"]
    finally:
        api.delete_index(spark, idx)


def test_scroll_walks_every_hit_exactly_once(spark, sf_dir, docs):
    """ES scroll: keyset batches cover the full match set exactly once,
    in _doc order, and the cursor terminates."""
    idx = "scroll_walk_idx"
    api.bulk_data_to_index(spark, docs.select("doc_id", "text"), idx,
                           id_col="doc_id")
    try:
        want = {
            r["doc_id"]
            for r in spark.table(idx).collect()
            if "spark" in r["text"].split()
        }
        seen, cursor, pages = set(), None, 0
        while True:
            page, cursor = api.scroll(spark, idx, "spark", size=37,
                                      scroll_id=cursor, text_col="text")
            rows = page.collect()
            ids = [r["doc_id"] for r in rows]
            assert ids == sorted(ids)  # _doc (string) order within a page
            assert not (set(ids) & seen)  # never re-reads scrolled rows
            seen |= set(ids)
            pages += 1
            if cursor is None:
                break
        assert seen == want
        assert pages >= 2  # the walk actually paginated
    finally:
        api.delete_index(spark, idx)


def test_scroll_match_all_and_empty_tail(spark, sf_dir, docs):
    idx = "scroll_all_idx"
    api.bulk_data_to_index(spark, docs.limit(10), idx, id_col="doc_id")
    try:
        page, cursor = api.scroll(spark, idx, None, size=10)
        assert page.count() == 10
        # a full final page hands back a cursor; the next call is empty
        if cursor is not None:
            tail, c2 = api.scroll(spark, idx, None, size=10, scroll_id=cursor)
            assert tail.count() == 0 and c2 is None
    finally:
        api.delete_index(spark, idx)


def test_reindex_copies_matched_set(spark, sf_dir, docs):
    src, dst = "reidx_src", "reidx_dst"
    api.bulk_data_to_index(spark, docs.select("doc_id", "text"), src,
                           id_col="doc_id")
    try:
        res = api.reindex(spark, src, dst, "spark", text_col="text")
        assert res["created"] == spark.table(dst).count()
        got = {r["doc_id"] for r in spark.table(dst).collect()}
        want = {
            r["doc_id"]
            for r in spark.table(src).collect()
            if "spark" in r["text"].split()
        }
        assert got == want
        assert dst in api.get_all_index(spark)  # dest is a first-class index
        # ES dest.pipeline: the stored processor chain runs over the
        # copied docs before the write (migrate-and-enrich)
        api.put_ingest_pipeline(spark, "reidx_pipe", [
            {"set": {"field": "migrated", "value": "yes"}},
        ])
        res2 = api.reindex(spark, src, f"{dst}_p", "spark",
                           text_col="text", pipeline="reidx_pipe")
        t = spark.table(f"{dst}_p")
        assert res2["created"] == t.count() == len(want)
        assert t.filter(F.col("migrated") == "yes").count() == len(want)
        import pytest as pt

        with pt.raises(ValueError, match="no ingest pipeline"):
            api.reindex(spark, src, f"{dst}_q", pipeline="nope")
    finally:
        api.delete_index(spark, src)
        api.delete_index(spark, dst)
        api.delete_index(spark, f"{dst}_p")


def test_alias_lifecycle_filtered_and_multi(spark, sf_dir, docs):
    """ES _aliases: filtered alias narrows every read; multi-index
    alias unions its targets; alias never appears as an index; the
    alias API refuses to drop a real index."""
    import pytest as _pytest

    a, b = "alias_t_idx_a", "alias_t_idx_b"
    api.bulk_data_to_index(spark, docs.filter(F.col("doc_id") % 2 == 0),
                           a, id_col="doc_id")
    api.bulk_data_to_index(spark, docs.filter(F.col("doc_id") % 2 == 1),
                           b, id_col="doc_id")
    try:
        api.add_alias(spark, a, "alias_en", filter_sql="lang = 'en'")
        api.add_alias(spark, [a, b], "alias_both")
        try:
            # filtered alias: count == filtered count of the target
            want = spark.table(a).filter(F.col("lang") == "en").count()
            assert api.get_index_data_count(spark, "alias_en") == want
            # multi alias: union of both targets
            assert api.get_index_data_count(spark, "alias_both") == (
                spark.table(a).count() + spark.table(b).count()
            )
            # search through the filtered alias only sees filtered docs
            hits = api.query_data(spark, "spark", "alias_en", k=10**6,
                                  text_col="text")
            ids = {r["doc_id"] for r in hits.collect()}
            allowed = {r["doc_id"] for r in
                       spark.table(a).filter(F.col("lang") == "en").collect()}
            assert ids <= allowed and ids
            # aliases are not indices: _all never scans them
            listed = api.get_all_index(spark)
            assert "alias_en" not in listed and "alias_both" not in listed
            edges = set(api.get_alias(spark))
            assert {("alias_en", a), ("alias_both", a), ("alias_both", b)} <= edges
            with _pytest.raises(ValueError):
                api.delete_alias(spark, a)  # refuses to drop an index
            with _pytest.raises(ValueError):
                api.add_alias(spark, "no_such_index_xyz", "alias_bad")
        finally:
            api.delete_alias(spark, "alias_en")
            api.delete_alias(spark, "alias_both")
        assert not {al for al, _ in api.get_alias(spark)} & {"alias_en", "alias_both"}
    finally:
        api.delete_index(spark, a)
        api.delete_index(spark, b)


def test_count_with_query_and_point_lookups(spark, sf_dir, docs):
    """ES _count?q= counts only matches; GET doc / _mget point lookups."""
    idx = "count_q_idx"
    api.bulk_data_to_index(spark, docs.select("doc_id", "text", "lang"), idx,
                           id_col="doc_id")
    try:
        total = api.get_index_data_count(spark, idx)
        matched = api.get_index_data_count(spark, idx, "spark", text_col="text")
        want = spark.table(idx).filter(
            F.array_contains(F.split(F.col("text"), " "), "spark")
        ).count()
        assert matched == want and 0 < matched < total
        # field-scoped query counts too
        en = api.get_index_data_count(spark, idx, "lang:en")
        assert en == spark.table(idx).filter(F.col("lang") == "en").count()
        # point lookup: present id returns the row, absent returns None
        some_id = spark.table(idx).select("doc_id").first()["doc_id"]
        row = api.get_doc(spark, idx, some_id)
        assert row is not None and row["doc_id"] == some_id
        assert api.get_doc(spark, idx, "no_such_id_xyz") is None
        # mget: one scan, missing ids simply absent
        got = api.mget(spark, idx, [some_id, "no_such_id_xyz"]).collect()
        assert [r["doc_id"] for r in got] == [some_id]
        import pytest as _pytest

        with _pytest.raises(ValueError):
            api.mget(spark, idx, [])
    finally:
        api.delete_index(spark, idx)


def test_analyze_msearch_force_merge(spark, sf_dir, docs):
    """_analyze echoes the one analyzer; _msearch unions tagged pages;
    _forcemerge compacts files without changing content."""
    assert api.analyze(spark, "Spark, JOIN window!") == ["spark", "join", "window"]

    idx = "ops_parity_idx"
    api.bulk_data_to_index(spark, docs.limit(40).repartition(6), idx,
                           id_col="doc_id")
    try:
        before = sorted(tuple(r) for r in spark.table(idx).collect())
        n_before = spark.table(idx).select(F.input_file_name()).distinct().count()
        res = api.force_merge(spark, idx, max_num_segments=1)
        after = sorted(tuple(r) for r in spark.table(idx).collect())
        n_after = spark.table(idx).select(F.input_file_name()).distinct().count()
        assert after == before and res["rows"] == len(before)
        assert n_after == 1 <= n_before
        assert idx in api.get_all_index(spark)  # marker survives the swap

        out = api.msearch(spark, idx, {"a": "spark", "b": "value"}, k=5,
                          text_col="text")
        rows = out.collect()
        assert {r["query_id"] for r in rows} <= {"a", "b"}
        assert all(len([r for r in rows if r["query_id"] == q]) <= 5
                   for q in ("a", "b"))
        import pytest as _pytest

        with _pytest.raises(ValueError):
            api.msearch(spark, idx, {})
    finally:
        api.delete_index(spark, idx)


def test_quarantine_ingest_partitions_input(spark, sf_dir):
    """clean + quarantined partition the input; clean carries typed
    columns; null-in is not an error."""
    from bigdatasearchpro_spark.operators.transform import quarantine_ingest

    rows = [("1", "2.5"), ("x", "3.0"), ("4", "bad"), (None, None), ("7", "8")]
    df = spark.createDataFrame(rows, "a string, b string")
    clean, quar = quarantine_ingest(df, {"a": "bigint", "b": "double"})
    c, q = clean.collect(), quar.collect()
    assert len(c) + len(q) == len(rows)
    assert {r["a"] for r in c} == {1, None, 7}
    assert dict(c[0].asDict()) and clean.schema["a"].dataType.typeName() == "long"
    reasons = {r["a"]: r["quarantine_reason"] for r in q}
    assert reasons == {"x": "a", "4": "b"}


def test_alias_filter_validated_semantically(spark, sf_dir):
    """r4-advice: the alias filter gate must reject subqueries/DDL (a
    character allowlist let EXISTS(SELECT...) through) and must accept
    any predicate that resolves against the target schema — including
    ones the old regex wrongly rejected (e.g. double quotes, +)."""
    import pytest as _pytest

    from bigdatasearchpro_spark.sinks import ddl as _ddl

    idx = "alias_val_idx"
    api.bulk_data_to_index(
        spark, load_table(spark, sf_dir, "nation"), idx, id_col="n_nationkey"
    )
    try:
        with _pytest.raises(ValueError, match="not a query"):
            _ddl.add_alias(
                spark, idx, "alias_val_bad",
                filter_sql="EXISTS(SELECT 1 FROM region)",
            )
        with _pytest.raises(ValueError, match="does not resolve"):
            _ddl.add_alias(
                spark, idx, "alias_val_bad", filter_sql="no_such_col = '1'"
            )
        # arithmetic + comparison that the old charset regex rejected
        a = _ddl.add_alias(
            spark, idx, "alias_val_ok",
            filter_sql='cast(n_nationkey as int) + 1 > 10',
        )
        assert spark.table(a).count() > 0
    finally:
        _ddl.delete_alias(spark, "alias_val_ok")
        api.delete_index(spark, idx)


def test_scroll_raises_on_duplicate_boundary_ids(spark):
    """r4-advice: keyset scroll assumes unique ids; a duplicate-id run
    straddling a page boundary must raise instead of silently dropping
    the siblings from the export."""
    import pytest as _pytest

    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    idx = "scroll_dup_idx"
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c"), (3, "d")], "doc_id long, text string"
    )
    bulk_index_table(df, idx)  # append-style: no id dedup
    try:
        page, cur = api.scroll(spark, idx, size=4)  # no boundary inside run
        assert page.count() == 4
        with _pytest.raises(ValueError, match="unique"):
            api.scroll(spark, idx, size=2)  # boundary splits the id=2 run
    finally:
        api.delete_index(spark, idx)


def test_segment_dedup_keeps_token_empty_docs(spark):
    """r4-advice: a doc whose text tokenizes to zero tokens must still
    appear in segment_dedup output (zero counts, empty clean_text)."""
    from bigdatasearchpro_spark.operators.curation import segment_dedup

    df = spark.createDataFrame(
        [(1, "real words here"), (2, "!!! ??? ..."), (3, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in segment_dedup(df, seg_tokens=2).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["n_segments"] == 0 and rows[2]["clean_text"] == ""
    assert rows[3]["n_segments"] == 0 and rows[3]["clean_text"] == ""


def test_update_and_get_settings(spark, sf_dir):
    """ES _settings round-trip: dynamic settings persist as table
    properties and read back; non-index targets refuse."""
    import pytest as _pytest

    idx = "settings_idx"
    api.bulk_data_to_index(
        spark, load_table(spark, sf_dir, "region"), idx, id_col="r_regionkey"
    )
    try:
        out = api.update_settings(
            spark, idx, {"index.refresh_interval": "-1", "index.number_of_replicas": 0}
        )
        assert out["index.refresh_interval"] == "-1"
        assert out["index.number_of_replicas"] == "0"
        assert api.get_settings(spark, idx)["index.refresh_interval"] == "-1"
        with _pytest.raises(ValueError, match="not an index"):
            api.update_settings(spark, "no_such_index_xyz", {"a": 1})
    finally:
        api.delete_index(spark, idx)


def test_analyze_endpoint_analyzers(spark):
    assert api.analyze(spark, "The Tables, Running!") == [
        "the", "tables", "running",
    ]
    assert api.analyze(spark, "The Tables, Running!", analyzer="english") == [
        "table", "runn",
    ]
    assert api.analyze(spark, "The Tables, Running!", analyzer="whitespace") == [
        "The", "Tables,", "Running!",
    ]


def test_delete_by_query_guards(spark, sf_dir):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not an index"):
        api.delete_by_query(spark, "no_such_index_xyz", "x")


def test_update_by_query_unknown_column(spark, sf_dir):
    import pytest as _pytest

    idx = "ubq_guard_idx"
    api.bulk_data_to_index(
        spark, load_table(spark, sf_dir, "region"), idx, id_col="r_regionkey"
    )
    try:
        with _pytest.raises(ValueError, match="unknown columns"):
            api.update_by_query(spark, idx, {"nope": "'x'"})
        # unqueried update touches every row, types preserved
        res = api.update_by_query(spark, idx, {"r_name": "upper(r_name)"})
        assert res["updated"] == res["total"] == spark.table(idx).count()
        names = [r["r_name"] for r in spark.table(idx).collect()]
        assert all(n == n.upper() for n in names)
    finally:
        api.delete_index(spark, idx)


def test_count_follows_field_mapping(spark):
    """_count?q= filters exactly as the search does: a field mapped to
    the english analyzer matches inflected forms in both."""
    idx = "count_mapping_idx"
    api.bulk_data_to_index(
        spark,
        spark.createDataFrame(
            [(1, "walks home"), (2, "she runs"), (3, "run late"),
             (4, "unrelated words")],
            "doc_id long, text string",
        ),
        idx,
        id_col="doc_id",
    )
    try:
        api.put_mapping(spark, idx, {"text": "english"})
        hits = api.query_data(spark, "text:runs", idx, highlight=False).collect()
        assert sorted(r["doc_id"] for r in hits) == ["2", "3"]
        assert api.get_index_data_count(spark, idx, "text:runs") == len(hits)
        # unqualified query over every string field, mixed-case name
        all_hits = api.query_data(spark, "runs", idx, highlight=False).collect()
        assert api.get_index_data_count(spark, idx.upper(), "runs") == len(all_hits)
    finally:
        api.delete_index(spark, idx)


def test_put_mapping_validation_and_search(spark, sf_dir):
    """ES _mapping parity: per-field analyzers persist, validate, and
    drive the search path symmetrically."""
    import pytest as _pytest

    idx = "mapping_idx"
    api.bulk_data_to_index(
        spark,
        spark.createDataFrame(
            [(1, "tables sorted"), (2, "unrelated words")],
            "doc_id long, text string",
        ),
        idx,
        id_col="doc_id",
    )
    try:
        with _pytest.raises(ValueError, match="unknown analyzer"):
            api.put_mapping(spark, idx, {"text": "nope"})
        with _pytest.raises(ValueError, match="unknown field"):
            api.put_mapping(spark, idx, {"nope": "english"})
        api.put_mapping(spark, idx, {"text": "english"})
        assert api.get_field_mapping(spark, idx) == {"text": "english"}
        # inflected query matches through the mapping, no analyzer arg
        hits = api.query_data(
            spark, "table sorting", idx, text_col="text", highlight=False
        ).collect()
        assert [r["doc_id"] for r in hits] == ["1"]
        # field-scoped clause uses the field's mapped analyzer too
        hits2 = api.query_data(
            spark, "text:tables", idx, text_col="text", highlight=False
        ).collect()
        assert [r["doc_id"] for r in hits2] == ["1"]
    finally:
        api.delete_index(spark, idx)


def test_validate_query_endpoint(spark, sf_dir):
    idx = "validate_idx"
    api.bulk_data_to_index(
        spark, load_table(spark, sf_dir, "region"), idx, id_col="r_regionkey"
    )
    try:
        assert api.validate_query(spark, "a AND (b OR c)")["valid"]
        bad = api.validate_query(spark, "field:")
        assert not bad["valid"] and "parse error" in bad["explanation"]
        assert api.validate_query(spark, "r_name:asia", idx)["valid"]
        unk = api.validate_query(spark, "nope_field:x", idx)
        assert not unk["valid"] and "unknown field" in unk["explanation"]
    finally:
        api.delete_index(spark, idx)


def test_explain_doc_matches_search_score(spark, sf_dir):
    """_explain's total must equal the flagship search score for the
    same doc, and per-term details must be consistent."""
    import bigdatasearchpro_spark.registry_text as rt

    idx = "explain_idx"
    api.bulk_data_to_index(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        idx,
        id_col="doc_id",
    )
    try:
        from bigdatasearchpro_spark.operators import search as s

        top = s.search_topk(
            spark.table(idx), rt.SEARCH_QUERY, 3, id_col="doc_id"
        ).collect()
        best_id, best_score = top[0]["doc_id"], top[0]["score"]
        exp = api.explain_doc(spark, rt.SEARCH_QUERY, idx, best_id)
        assert exp["matched"] and abs(exp["value"] - best_score) < 1e-3
        assert sum(d["value"] for d in exp["details"]) == __import__(
            "pytest"
        ).approx(exp["value"], abs=1e-3)
        # a term absent from the doc contributes 0
        miss = api.explain_doc(spark, "zzzunseen", idx, best_id)
        assert not miss["matched"] and miss["value"] == 0.0
    finally:
        api.delete_index(spark, idx)


def test_rank_eval_metrics(spark):
    """_rank_eval: integer precision@k / first-rank outputs against
    hand-labeled relevance on a tiny corpus."""
    import pytest

    from bigdatasearchpro_spark import api

    docs = spark.createDataFrame(
        [
            (1, "spark join window spark"),
            (2, "spark join"),
            (3, "window only here"),
            (4, "nothing relevant"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["request"]: (r["k"], r["relevant_found"], r["first_rel_rank"])
        for r in api.rank_eval(
            docs,
            {
                "q1": ("spark join window", {1, 3}),
                "q_none": ("spark join window", {4}),
            },
            k=3,
        ).collect()
    }
    # ranking puts 1 first (all terms, repeats), 3 somewhere in top-3
    k, found, first = out["q1"]
    assert k == 3 and found == 2 and first == 1
    # doc 4 matches nothing -> no relevant doc reaches the page
    assert out["q_none"][1] == 0 and out["q_none"][2] is None
    with pytest.raises(ValueError):
        api.rank_eval(docs, {})


def test_field_caps_single_index_and_guards(spark):
    import uuid

    import pytest

    from bigdatasearchpro_spark import api
    from bigdatasearchpro_spark.sinks import ddl

    idx = f"fc_one_{uuid.uuid4().hex[:8]}"
    ddl.create_index(
        spark, idx,
        "doc_id BIGINT, body STRING, tags ARRAY<STRING>, "
        "meta STRUCT<k: STRING>",
    )
    try:
        out = {r["field"]: (r["type"], r["aggregatable"])
               for r in api.field_caps(spark, idx).collect()}  # str accepted
        assert out["doc_id"] == ("bigint", True)
        assert out["body"] == ("string", False)
        # complex types are NOT aggregatable (ES field-caps semantics)
        assert out["tags"][1] is False and out["meta"][1] is False
    finally:
        api.delete_index(spark, idx)
    with pytest.raises(ValueError):
        api.field_caps(spark, [])


def test_termvectors_respects_analyzer(spark):
    """With the english analyzer the term vector carries STEMS and the
    corpus stats aggregate over stems too."""
    from bigdatasearchpro_spark import api

    docs = spark.createDataFrame(
        [(1, "tables sorted tables"), (2, "table sorting")],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["term"]): (r["term_freq"], r["doc_freq"], r["ttf"])
        for r in api.termvectors(docs, [1], analyzer="english").collect()
    }
    # 'tables'/'table' both stem to 'table'; 'sorted'/'sorting' to 'sort'
    assert out[(1, "table")] == (2, 2, 3)
    assert out[(1, "sort")] == (1, 2, 2)


def test_index_template_lifecycle(spark):
    """put/get/list/delete templates; matching indices inherit
    settings+mappings at creation; explicit args win; non-matching
    indices are untouched; higher order overrides."""
    import uuid

    import pytest

    from bigdatasearchpro_spark import api
    from bigdatasearchpro_spark.sinks import ddl

    sfx = uuid.uuid4().hex[:8]
    t1, t2 = f"tpl_a_{sfx}", f"tpl_b_{sfx}"
    api.put_template(
        spark, t1, index_patterns=[f"tpl{sfx}_*"],
        mappings={"body": "english"}, shards=3, order=0,
    )
    # higher order overrides the body mapping on overlapping patterns
    api.put_template(
        spark, t2, index_patterns=[f"tpl{sfx}_special_*"],
        mappings={"body": "whitespace"}, order=1,
    )
    got = api.get_template(spark, t1)
    assert got["shards"] == 3 and got["mappings"] == {"body": "english"}
    assert {t["name"] for t in ddl.list_templates(spark)} >= {t1, t2}

    ia = f"tpl{sfx}_plain"
    ib = f"tpl{sfx}_special_one"
    ic = f"other{sfx}_nomatch"
    ddl.create_index(spark, ia, "doc_id BIGINT, body STRING")
    ddl.create_index(spark, ib, "doc_id BIGINT, body STRING")
    ddl.create_index(spark, ic, "doc_id BIGINT, body STRING")
    # explicit shards beats the template
    idx_explicit = f"tpl{sfx}_explicit"
    ddl.create_index(spark, idx_explicit, "doc_id BIGINT, body STRING", shards=9)

    def shards_of(n):
        return next(
            int(r["value"])
            for r in spark.sql(f"SHOW TBLPROPERTIES {n} ('shards')").collect()
        )

    try:
        assert ddl.get_mapping(spark, ia) == {"body": "english"}
        assert shards_of(ia) == 3
        # both templates match ib: order 1 wins the mapping, shards
        # come from the only template that sets them
        assert ddl.get_mapping(spark, ib) == {"body": "whitespace"}
        assert shards_of(ib) == 3
        assert ddl.get_mapping(spark, ic) == {}
        assert shards_of(ic) == ddl.DEFAULT_SHARDS
        assert shards_of(idx_explicit) == 9
        # template mappings only apply to fields the index has
        api.put_template(
            spark, t1, index_patterns=[f"tpl{sfx}_*"],
            mappings={"nosuchfield": "english"},
        )
        idx_nf = f"tpl{sfx}_nofield"
        ddl.create_index(spark, idx_nf, "doc_id BIGINT, body STRING")
        assert ddl.get_mapping(spark, idx_nf) == {}
        ddl.delete_index(spark, idx_nf)
    finally:
        for n in (ia, ib, ic, idx_explicit):
            ddl.delete_index(spark, n)
        assert api.delete_template(spark, t1) is True
        assert api.delete_template(spark, t1) is False
        api.delete_template(spark, t2)

    with pytest.raises(ValueError):
        api.put_template(spark, "bad", index_patterns=[])
    with pytest.raises(ValueError):
        api.put_template(spark, "bad", index_patterns=["x*"],
                         mappings={"f": "nosuchanalyzer"})
    with pytest.raises(ValueError):
        api.put_template(spark, "Bad Name!", index_patterns=["x*"])
    assert api.get_template(spark, "never_put") is None


def test_index_template_dynamic_wildcard_fields(spark):
    """'*'-glob field patterns (ES dynamic-template shape) expand
    against each matching index's STRING columns at creation; exact
    names override globs; non-string columns never get an analyzer."""
    import uuid

    from bigdatasearchpro_spark import api
    from bigdatasearchpro_spark.sinks import ddl

    sfx = uuid.uuid4().hex[:8]
    t = f"dyn_{sfx}"
    api.put_template(
        spark, t, index_patterns=[f"dyn{sfx}_*"],
        mappings={"*": "english", "raw_text": "whitespace"},
    )
    idx = f"dyn{sfx}_docs"
    ddl.create_index(
        spark, idx,
        "doc_id BIGINT, title STRING, raw_text STRING, n_views BIGINT",
    )
    try:
        got = ddl.get_mapping(spark, idx)
        # every string col analyzed; exact name beats the glob;
        # bigints untouched
        assert got == {"title": "english", "raw_text": "whitespace"}
    finally:
        ddl.delete_index(spark, idx)
        api.delete_template(spark, t)


def test_knn_search_endpoint(spark, sf_dir):
    """ES 8 _knn_search facade: exact mode == brute-force cosine_topk;
    ann mode returns k rows from the same table; bad mode raises."""
    from bigdatasearchpro_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    name = "knn_vec_index"
    emb.write.mode("overwrite").saveAsTable(name)
    try:
        qv = [float(x) for x in emb.first()["embedding"]]
        got = api.knn_search(spark, name, qv, k=5).collect()
        want = similarity.cosine_topk(spark.table(name), qv, 5).collect()
        assert [(r["vec_id"], r["score"]) for r in got] == [
            (r["vec_id"], r["score"]) for r in want
        ]
        ann = api.knn_search(
            spark, name, qv, k=5, mode="ann", num_candidates=64
        ).collect()
        assert len(ann) == 5
        import pytest as pt

        with pt.raises(ValueError):
            api.knn_search(spark, name, qv, mode="hnsw")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_sliced_scroll_partitions_disjoint_exhaustive(spark):
    import uuid

    from bigdatasearchpro_spark import api

    docs = spark.range(0, 97).selectExpr(
        "id AS doc_id", "concat('t', id) AS text"
    )
    idx = f"slice_t_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(spark, docs, idx, id_col="doc_id")
    try:
        seen = []
        for sid in range(4):
            cursor, got = None, set()
            while True:
                page, cursor = api.scroll(
                    spark, idx, size=10, scroll_id=cursor,
                    slice_spec=(sid, 4),
                )
                got |= {r["doc_id"] for r in page.collect()}
                if cursor is None:
                    break
            seen.append(got)
        union = set().union(*seen)
        # the bulk pipeline stringifies every column (the reference's
        # document model), so ids come back as strings
        assert union == {str(i) for i in range(97)}
        assert sum(len(s) for s in seen) == 97  # disjoint
        import pytest as pt

        with pt.raises(ValueError):
            api.scroll(spark, idx, slice_spec=(4, 4))
    finally:
        api.delete_index(spark, idx)


def test_indices_boost_reorders_merge_only(spark, docs):
    import uuid

    from pyspark.sql import functions as F

    from bigdatasearchpro_spark import api

    tag = uuid.uuid4().hex[:8]
    a, b = f"ib_a_{tag}", f"ib_b_{tag}"
    api.bulk_data_to_index(spark, docs.filter(F.col("doc_id") % 2 == 0), a,
                           id_col="doc_id")
    api.bulk_data_to_index(spark, docs.filter(F.col("doc_id") % 2 == 1), b,
                           id_col="doc_id")
    try:
        plain = api.query_data(spark, "spark join", "_all", k=8).collect()
        boosted = api.query_data(
            spark, "spark join", "_all", k=8,
            indices_boost={b: 4.0},
        ).collect()
        # per-index hit sets at a generous page depth are unchanged;
        # only scores/order move
        assert {r.doc_id for r in plain if r["index"] == a} >= set()
        pb = {r.doc_id: r.score for r in plain if r["index"] == b}
        bb = {r.doc_id: r.score for r in boosted if r["index"] == b}
        for d in set(pb) & set(bb):
            assert bb[d] == pb[d] * 4.0  # power-of-two: exact
        # boosting b pushes its docs up the merged ranking: at least
        # as many b hits on the boosted page, and b appears at all
        n_plain_b = sum(1 for r in plain if r["index"] == b)
        n_boost_b = sum(1 for r in boosted if r["index"] == b)
        assert n_boost_b >= max(n_plain_b, 1)
    finally:
        api.delete_index(spark, a)
        api.delete_index(spark, b)


def test_sql_endpoint_read_only_guards(spark, docs):
    import uuid

    import pytest as pt

    from bigdatasearchpro_spark import api

    name = f"sqlapi_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(spark, docs.limit(50), name, id_col="doc_id")
    try:
        out = api.sql_query(spark, f"SELECT count(*) AS n FROM {name}")
        assert out.first().n == 50
        capped = api.sql_query(
            spark, f"SELECT doc_id FROM {name}", fetch_size=7)
        assert capped.count() == 7
        with pt.raises(ValueError, match="read-only"):
            api.sql_query(spark, f"DROP TABLE {name}")
        with pt.raises(ValueError, match="read-only"):
            api.sql_query(spark, f"INSERT INTO {name} VALUES (1)")
        with pt.raises(ValueError, match="could not parse"):
            api.sql_query(spark, f"SELECT * FROM {name}; DELETE FROM {name}")
        with pt.raises(ValueError, match="fetch_size"):
            api.sql_query(spark, f"SELECT 1", fetch_size=0)
        # plan-based guard (ADVICE r7): reserved words inside string
        # literals are NOT commands — the old keyword regex rejected
        # this legitimate query
        ok = api.sql_query(
            spark, f"SELECT count(*) AS n FROM {name} "
                   f"WHERE lang <> 'delete' AND lang <> 'drop table'")
        assert ok.first().n == 50
    finally:
        api.delete_index(spark, name)


def test_point_in_time_consistency(spark, docs):
    import uuid

    import pytest as pt

    name = f"pit_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(spark, docs.limit(100), name, id_col="doc_id")
    pit = None
    try:
        pit = api.open_pit(spark, name)
        before = api.pit_dataframe(spark, pit).count()
        assert before == 100
        api.delete_by_query(spark, name, "lang:en")
        # live shrank; the PIT is frozen
        assert api.get_index_data_count(spark, name) < 100
        assert api.pit_dataframe(spark, pit).count() == 100
        with pt.raises(ValueError, match="malformed pit_id"):
            api.pit_dataframe(spark, "???")
        assert api.close_pit(spark, pit) is True
        with pt.raises(ValueError, match="closed or expired"):
            api.pit_dataframe(spark, pit)
        assert api.close_pit(spark, pit) is False
        pit = None
    finally:
        if pit is not None:
            api.close_pit(spark, pit)
        api.delete_index(spark, name)


def test_cross_cluster_resolution(spark, sf_dir, docs):
    import pytest as pt

    api.register_remote_cluster(spark, "lake", sf_dir)
    assert api.list_remote_clusters(spark)["lake"] == sf_dir
    remote = api.resolve_index(spark, "lake:documents")
    assert remote.count() == docs.count()
    with pt.raises(ValueError, match="unknown remote cluster"):
        api.resolve_index(spark, "nope:documents")
    with pt.raises(ValueError, match="invalid remote cluster alias"):
        api.register_remote_cluster(spark, "Bad Alias", sf_dir)
    # remote search never touches the local catalog; _all stays local
    hits = api.query_data(spark, "spark", "lake:documents", k=3)
    assert 0 < len(hits.collect()) <= 3
    assert "lake:documents" not in api.get_all_index(spark)


def test_routing_partition_pruning(spark, docs):
    """Routed search prunes the scan to ONE shard directory (the ES
    point of custom routing), and routed == unrouted results when the
    query pins the routing value's field."""
    import uuid

    import pytest as pt

    from pyspark.sql import functions as F

    name = f"routed_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(spark, docs, name, id_col="doc_id",
                           routing_col="lang", n_shards=4)
    try:
        meta = api.routing_meta(spark, name)
        assert meta == {"col": "lang", "shards": 4}
        routed = api.apply_routing(spark, name, spark.table(name), "en")
        # a LITERAL equality on the partition column must plan as
        # metadata-only pruning (PartitionFilters), not a post-scan filter
        from bigdatasearchpro_spark.plans.inspect import partition_filters
        pf = [f for f in partition_filters(routed) if "__shard" in f]
        assert pf, "routed scan shows no PartitionFilters on __shard"
        # every lang='en' doc lives in the routed shard
        n_en = docs.filter("lang = 'en'").count()
        assert routed.filter("lang = 'en'").count() == n_en
        # routed + field-pinned query == unrouted query
        a = sorted(r.doc_id for r in api.query_data(
            spark, "lang:en AND spark", name, k=10**6,
            sort="n_chars:desc", routing="en").collect())
        b = sorted(r.doc_id for r in api.query_data(
            spark, "lang:en AND spark", name, k=10**6,
            sort="n_chars:desc").collect())
        assert a == b and a
        with pt.raises(ValueError, match="no custom routing"):
            api.apply_routing(spark, "nonexistent_idx", docs, "en")
    finally:
        api.delete_index(spark, name)


def test_transform_lifecycle_and_validation(spark, docs):
    import uuid

    import pytest as pt

    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    tag = uuid.uuid4().hex[:6]
    src, dest, tid = f"tfu_src_{tag}", f"tfu_dest_{tag}", f"tfu-{tag}"
    bulk_index_table(docs.select("doc_id", "lang", "n_chars"), src)
    try:
        with pt.raises(ValueError, match="group_by and aggregations"):
            api.put_transform(spark, tid, source=src, dest=dest,
                              pivot={"group_by": {}})
        with pt.raises(ValueError, match="unsupported transform agg"):
            api.put_transform(spark, tid, source=src, dest=dest,
                              pivot={"group_by": {"lang": "lang"},
                                     "aggregations": {"x": {"median": "n_chars"}}})
        api.put_transform(
            spark, tid, source=src, dest=dest,
            pivot={"group_by": {"lang": "lang"},
                   "aggregations": {"n": {"value_count": "doc_id"},
                                    "total": {"sum": "n_chars"},
                                    "mean": {"avg": "n_chars"}}},
        )
        assert api.get_transform(spark, tid)["dest"] == dest
        stats = api.start_transform(spark, tid)
        assert stats["docs_processed"] == docs.count()
        got = {r.lang: (r.n, r.total, r.mean)
               for r in spark.table(dest).collect()}
        from pyspark.sql import functions as F

        want = {r.lang: (r.n, r.total, r.total / r.n)
                for r in docs.groupBy("lang").agg(
                    F.count("doc_id").alias("n"),
                    F.sum("n_chars").alias("total")).collect()}
        assert got == want
        # re-start overwrites (the checkpoint contract), not appends
        api.start_transform(spark, tid)
        assert spark.table(dest).count() == len(want)
        with pt.raises(ValueError, match="no transform"):
            api.start_transform(spark, "missing")
    finally:
        api.delete_transform(spark, tid)
        api.delete_index(spark, src)
        api.delete_index(spark, dest)


def test_rollup_job_lifecycle_and_guards(spark, docs):
    """X-Pack `_rollup/job`: PUT config-validates (date_histogram
    required with exactly one interval kind, metrics non-empty,
    histogram needs interval > 0), _start materializes the rollup
    index through the transform pivot engine (calendar_interval +
    histogram group + avg metric exercised here; the registry entry
    covers fixed_interval + terms), a started job refuses DELETE until
    stopped, re-start overwrites (checkpoint contract), and list_tasks
    reports the job."""
    import uuid

    import pytest as pt
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark import api
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    tag = uuid.uuid4().hex[:6]
    src, dest, jid = f"ru_src_{tag}", f"ru_dest_{tag}", f"ruj-{tag}"
    ev = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d} 0{i % 8}:30:00", i % 25, float(i))
         for i in range(200)],
        "event_id long, ts string, bucketed long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    bulk_index_table(ev, src)
    groups = {"date_histogram": {"field": "ts",
                                 "calendar_interval": "day"},
              "histogram": {"fields": ["bucketed"], "interval": 10}}
    metrics = [{"field": "value", "metrics": ["avg", "value_count"]}]
    try:
        with pt.raises(ValueError, match="date_histogram.field"):
            api.put_rollup_job(spark, jid, index_pattern=src,
                               rollup_index=dest, groups={},
                               metrics=metrics)
        with pt.raises(ValueError, match="exactly one of"):
            api.put_rollup_job(
                spark, jid, index_pattern=src, rollup_index=dest,
                groups={"date_histogram": {
                    "field": "ts", "fixed_interval": "1h",
                    "calendar_interval": "day"}},
                metrics=metrics)
        with pt.raises(ValueError, match="bad fixed_interval"):
            api.put_rollup_job(
                spark, jid, index_pattern=src, rollup_index=dest,
                groups={"date_histogram": {"field": "ts",
                                           "fixed_interval": "fortnight"}},
                metrics=metrics)
        with pt.raises(ValueError, match="interval > 0"):
            api.put_rollup_job(
                spark, jid, index_pattern=src, rollup_index=dest,
                groups={**groups,
                        "histogram": {"fields": ["bucketed"]}},
                metrics=metrics)
        with pt.raises(ValueError, match="metrics"):
            api.put_rollup_job(spark, jid, index_pattern=src,
                               rollup_index=dest, groups=groups,
                               metrics=[])
        api.put_rollup_job(spark, jid, index_pattern=src,
                           rollup_index=dest, groups=groups,
                           metrics=metrics)
        assert api.get_rollup_job(spark, jid)["status"] == "stopped"
        stats = api.start_rollup_job(spark, jid)
        assert stats["docs_processed"] == 200
        got = {(r.ts_bucket, r.bucketed): (r.value_avg, r.value_value_count)
               for r in spark.table(dest).collect()}
        want = {(r.d, r.b): (r.s / r.n, r.n)
                for r in ev.groupBy(
                    F.date_trunc("day", "ts").alias("d"),
                    (F.floor(F.col("bucketed") / 10) * 10.0).alias("b"))
                .agg(F.sum("value").alias("s"),
                     F.count("value").alias("n")).collect()}
        assert got == want
        # lifecycle: started refuses delete; stop, re-start overwrites
        with pt.raises(ValueError, match="stop it before delete"):
            api.delete_rollup_job(spark, jid)
        tasks = {r.task_id: (r.action, r.is_running)
                 for r in api.list_tasks(spark).collect()}
        assert tasks[jid] == ("rollup", True)
        api.stop_rollup_job(spark, jid)
        api.start_rollup_job(spark, jid)
        assert spark.table(dest).count() == len(want)
        api.stop_rollup_job(spark, jid)
        with pt.raises(ValueError, match="no rollup job"):
            api.start_rollup_job(spark, "missing")
    finally:
        api.delete_rollup_job(spark, jid)
        api.delete_index(spark, src)
        api.delete_index(spark, dest)


def test_rollup_search_rewrite_and_guards(spark):
    """`_rollup_search`: a live agg against the ROLLUP index rewrites
    onto the pre-aggregated columns and must equal aggregating the raw
    data — checked here for fixed-interval re-bucketing (6h job, 12h
    request), avg recombination (sum(f_sum)/sum(f_value_count)), a
    terms query on a grouped field, and a range query on the raw date
    field (rewritten onto the stored bucket column).  Every ES
    validation error is exercised: non-multiple interval, fixed vs
    calendar kind mismatch, non-nesting calendar unit (week), terms /
    query field not grouped, metric not captured, avg without
    sum+value_count, no job on the index."""
    import uuid

    import pytest as pt
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark import api
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    tag = uuid.uuid4().hex[:6]
    src, dest, jid = f"rs_src_{tag}", f"rs_dest_{tag}", f"rsj-{tag}"
    ev = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 5:02d} {i % 24:02d}:11:00",
          ("a", "b", "c")[i % 3], i % 17, float(i % 7))
         for i in range(300)],
        "event_id long, ts string, kind string, n long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    bulk_index_table(ev, src)
    api.put_rollup_job(
        spark, jid, index_pattern=src, rollup_index=dest,
        groups={"date_histogram": {"field": "ts", "fixed_interval": "6h"},
                "terms": {"fields": ["kind"]}},
        metrics=[{"field": "n", "metrics": ["sum", "value_count"]},
                 {"field": "value", "metrics": ["min", "max"]}])
    try:
        api.start_rollup_job(spark, jid)
        got = {(r.ts_bucket, r.kind):
               (r.n_sum, r.n_cnt, r.n_avg, r.v_min, r.v_max)
               for r in api.rollup_search(
                   spark, dest,
                   date_histogram={"field": "ts", "fixed_interval": "12h"},
                   terms=["kind"],
                   metrics={"n_sum": ("sum", "n"),
                            "n_cnt": ("value_count", "n"),
                            "n_avg": ("avg", "n"),
                            "v_min": ("min", "value"),
                            "v_max": ("max", "value")}).collect()}
        want = {(r.b, r.kind): (r.s, r.c, r.s / r.c, r.lo, r.hi)
                for r in ev.groupBy(
                    F.timestamp_seconds(
                        F.floor(F.to_unix_timestamp("ts") / 43200) * 43200
                    ).alias("b"), "kind")
                .agg(F.sum("n").alias("s"), F.count("n").alias("c"),
                     F.min("value").alias("lo"),
                     F.max("value").alias("hi")).collect()}
        assert got == want

        # terms query on a grouped field prunes buckets
        only_a = api.rollup_search(
            spark, dest,
            date_histogram={"field": "ts", "fixed_interval": "6h"},
            metrics={"c": ("value_count", "n")},
            query={"term": {"kind": "a"}})
        assert (only_a.agg(F.sum("c")).first()[0]
                == ev.filter(F.col("kind") == "a").count())

        # range on the RAW date field rewrites onto ts_bucket: bounds
        # aligned to bucket edges select exactly those whole buckets
        ranged = api.rollup_search(
            spark, dest,
            date_histogram={"field": "ts", "fixed_interval": "6h"},
            metrics={"c": ("value_count", "n")},
            query={"range": {"ts": {"gte": "2024-01-02 00:00:00",
                                    "lt": "2024-01-03 00:00:00"}}})
        assert (ranged.agg(F.sum("c")).first()[0]
                == ev.filter(F.to_date("ts") == "2024-01-02").count())

        def _bad(match, **kw):
            with pt.raises(ValueError, match=match):
                api.rollup_search(spark, dest, **kw)

        m = {"c": ("value_count", "n")}
        _bad("not a multiple",
             date_histogram={"field": "ts", "fixed_interval": "8h"},
             metrics=m)
        _bad("request calendar",
             date_histogram={"field": "ts", "calendar_interval": "day"},
             metrics=m)
        _bad("not grouped by the job",
             date_histogram={"field": "ts", "fixed_interval": "6h"},
             terms=["n"], metrics=m)
        _bad("no histogram group",
             date_histogram={"field": "ts", "fixed_interval": "6h"},
             histogram={"fields": ["n"], "interval": 2}, metrics=m)
        _bad(r"did not capture min\(n\)",
             date_histogram={"field": "ts", "fixed_interval": "6h"},
             metrics={"x": ("min", "n")})
        _bad(r"avg\(value\) needs",
             date_histogram={"field": "ts", "fixed_interval": "6h"},
             metrics={"x": ("avg", "value")})
        _bad("is not grouped by the job",
             date_histogram={"field": "ts", "fixed_interval": "6h"},
             metrics=m, query={"term": {"n": 3}})
        _bad("unsupported rollup metric",
             date_histogram={"field": "ts", "fixed_interval": "6h"},
             metrics={"x": ("median", "n")})
        _bad("names no metrics",
             date_histogram={"field": "ts", "fixed_interval": "6h"},
             metrics={})
        with pt.raises(ValueError, match="no rollup job targets"):
            api.rollup_search(
                spark, "nosuch_rollup_index",
                date_histogram={"field": "ts", "fixed_interval": "6h"},
                metrics=m)
    finally:
        if api.get_rollup_job(spark, jid) is not None:
            api.stop_rollup_job(spark, jid)
            api.delete_rollup_job(spark, jid)
        api.delete_index(spark, src)
        api.delete_index(spark, dest)


def test_rollup_search_calendar_nesting(spark):
    """Calendar-interval jobs: a request unit must NEST over the
    stored unit (day -> month ok; a requested WEEK over day-stored
    buckets is exact — week boundaries are day boundaries (round-10
    advice; the old predicate rejected it); a STORED week never
    nests coarser; fixed request over a calendar job refused), and
    re-truncating stored buckets equals truncating the raw data."""
    import uuid

    import pytest as pt
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark import api
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    tag = uuid.uuid4().hex[:6]
    src, dest, jid = f"rc_src_{tag}", f"rc_dest_{tag}", f"rcj-{tag}"
    ev = spark.createDataFrame(
        [(i, f"2024-{1 + i % 3:02d}-{1 + i % 27:02d} 06:00:00", i % 9)
         for i in range(200)],
        "event_id long, ts string, n long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    bulk_index_table(ev, src)
    api.put_rollup_job(
        spark, jid, index_pattern=src, rollup_index=dest,
        groups={"date_histogram": {"field": "ts",
                                   "calendar_interval": "day"}},
        metrics=[{"field": "n", "metrics": ["sum"]}])
    try:
        api.start_rollup_job(spark, jid)
        got = {r.ts_bucket: r.total for r in api.rollup_search(
            spark, dest,
            date_histogram={"field": "ts", "calendar_interval": "month"},
            metrics={"total": ("sum", "n")}).collect()}
        want = {r.b: r.s for r in ev.groupBy(
            F.date_trunc("month", "ts").alias("b"))
            .agg(F.sum("n").alias("s")).collect()}
        assert got == want
        # requested week over day-stored buckets: exact rewrite
        got_w = {r.ts_bucket: r.total for r in api.rollup_search(
            spark, dest,
            date_histogram={"field": "ts", "calendar_interval": "week"},
            metrics={"total": ("sum", "n")}).collect()}
        want_w = {r.b: r.s for r in ev.groupBy(
            F.date_trunc("week", "ts").alias("b"))
            .agg(F.sum("n").alias("s")).collect()}
        assert got_w == want_w
        # the nesting matrix: stored week satisfies only itself;
        # requested week needs a sub-week stored unit
        assert api._coarser_calendar("week", "week")
        for u in ("minute", "hour", "day"):
            assert api._coarser_calendar(u, "week")
        for u in ("month", "year"):
            assert not api._coarser_calendar(u, "week")
        for u in ("month", "year", "day", "hour"):
            assert not api._coarser_calendar("week", u)
        with pt.raises(ValueError, match="request fixed"):
            api.rollup_search(
                spark, dest,
                date_histogram={"field": "ts", "fixed_interval": "1d"},
                metrics={"total": ("sum", "n")})
    finally:
        if api.get_rollup_job(spark, jid) is not None:
            api.stop_rollup_job(spark, jid)
            api.delete_rollup_job(spark, jid)
        api.delete_index(spark, src)
        api.delete_index(spark, dest)


def test_rollup_job_unique_index_and_bucketed_terms(spark):
    """Round-10 advice fixes: (a) a second job targeting the same
    rollup_index is refused at PUT (start materializes one complete
    pivot per index and rows carry no job id); (b) the histogram
    interval multiple check is tolerance-based (0.3 over a 0.1 job is
    an exact decimal multiple that float division rejects); (c) a
    term/terms value on a BUCKETED field floors to the containing
    bucket instead of silently matching zero buckets."""
    import uuid

    import pytest as pt
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark import api
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    tag = uuid.uuid4().hex[:6]
    src = f"rb_src_{tag}"
    dest, jid = f"rb_dest_{tag}", f"rbj-{tag}"
    dest2, jid2 = f"rb_dest2_{tag}", f"rbj2-{tag}"
    ev = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 5:02d} {i % 24:02d}:11:00",
          float(i % 10), float(i % 10) / 10.0, i % 13)
         for i in range(260)],
        "event_id long, ts string, price double, frac double, n long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    bulk_index_table(ev, src)
    api.put_rollup_job(
        spark, jid, index_pattern=src, rollup_index=dest,
        groups={"date_histogram": {"field": "ts", "fixed_interval": "6h"},
                "histogram": {"fields": ["price"], "interval": 2}},
        metrics=[{"field": "n", "metrics": ["sum", "value_count"]}])
    api.put_rollup_job(
        spark, jid2, index_pattern=src, rollup_index=dest2,
        groups={"date_histogram": {"field": "ts", "fixed_interval": "6h"},
                "histogram": {"fields": ["frac"], "interval": 0.1}},
        metrics=[{"field": "n", "metrics": ["sum"]}])
    try:
        # (a) duplicate rollup_index refused; re-PUT of the same job ok
        with pt.raises(ValueError, match="already targeted"):
            api.put_rollup_job(
                spark, f"other-{tag}", index_pattern=src,
                rollup_index=dest,
                groups={"date_histogram": {"field": "ts",
                                           "fixed_interval": "1h"}},
                metrics=[{"field": "n", "metrics": ["sum"]}])
        api.put_rollup_job(
            spark, jid, index_pattern=src, rollup_index=dest,
            groups={"date_histogram": {"field": "ts",
                                       "fixed_interval": "6h"},
                    "histogram": {"fields": ["price"], "interval": 2}},
            metrics=[{"field": "n", "metrics": ["sum", "value_count"]}])
        api.start_rollup_job(spark, jid)
        api.start_rollup_job(spark, jid2)

        # (b) tolerance-based multiple check: 0.3 over a 0.1 job is an
        # exact decimal multiple that float division rejected
        # (0.3 / 0.1 = 2.9999…); validation now accepts it and rejects
        # a true non-multiple (0.25)
        api.rollup_search(
            spark, dest2,
            date_histogram={"field": "ts", "fixed_interval": "6h"},
            histogram={"fields": ["frac"], "interval": 0.3},
            metrics={"s": ("sum", "n")})
        with pt.raises(ValueError, match="not a multiple"):
            api.rollup_search(
                spark, dest2,
                date_histogram={"field": "ts", "fixed_interval": "6h"},
                histogram={"fields": ["frac"], "interval": 0.25},
                metrics={"s": ("sum", "n")})

        # integer-grid re-bucketing still exact (4 over 2)
        got = {(r.ts_bucket, r.price): r.s
               for r in api.rollup_search(
                   spark, dest,
                   date_histogram={"field": "ts", "fixed_interval": "6h"},
                   histogram={"fields": ["price"], "interval": 4},
                   metrics={"s": ("sum", "n")}).collect()}
        want = {(r.b, r.p): r.s for r in ev.groupBy(
            F.timestamp_seconds(
                F.floor(F.to_unix_timestamp("ts") / 21600) * 21600
            ).alias("b"),
            (F.floor(F.col("price") / 4) * 4.0).alias("p"))
            .agg(F.sum("n").alias("s")).collect()}
        assert got == want

        # (c) mid-bucket term values floor to the containing bucket
        mid_ts = api.rollup_search(
            spark, dest,
            date_histogram={"field": "ts", "fixed_interval": "6h"},
            metrics={"c": ("value_count", "n")},
            query={"term": {"ts": "2024-01-02 03:00:00"}})
        want_c = ev.filter(
            (F.col("ts") >= "2024-01-02 00:00:00")
            & (F.col("ts") < "2024-01-02 06:00:00")).count()
        assert mid_ts.agg(F.sum("c")).first()[0] == want_c
        mid_price = api.rollup_search(
            spark, dest,
            date_histogram={"field": "ts", "fixed_interval": "6h"},
            metrics={"c": ("value_count", "n")},
            query={"terms": {"price": [7.0, 3.0]}})
        want_p = ev.filter(
            (F.floor(F.col("price") / 2) * 2).isin([6.0, 2.0])).count()
        assert mid_price.agg(F.sum("c")).first()[0] == want_p
    finally:
        for j, d in ((jid, dest), (jid2, dest2)):
            if api.get_rollup_job(spark, j) is not None:
                api.stop_rollup_job(spark, j)
                api.delete_rollup_job(spark, j)
            api.delete_index(spark, d)
        api.delete_index(spark, src)


def test_slm_policy_guards_and_listing(spark, docs):
    """X-Pack `_slm/policy` guards: PUT validates patterns/retention,
    execute raises on zero live matches (a silent no-op snapshot is a
    data-loss trap), policies appear in list_tasks, delete removes.
    The full snapshot/retention/restore lifecycle is hash-verified by
    the s50_slm_policy registry entry."""
    import uuid

    import pytest as pt

    from bigdatasearchpro_spark import api

    pid = f"slmu-{uuid.uuid4().hex[:6]}"
    with pt.raises(ValueError, match="at least one index pattern"):
        api.put_slm_policy(spark, pid, repository="/tmp/x", indices=[])
    with pt.raises(ValueError, match="retention_max_count"):
        api.put_slm_policy(spark, pid, repository="/tmp/x",
                           indices=["a*"], retention_max_count=0)
    api.put_slm_policy(spark, pid, repository="/tmp/x",
                       indices=[f"no_such_{pid}*"])
    try:
        assert api.get_slm_policy(spark, pid)["executions"] == 0
        tasks = {r.task_id: r.action
                 for r in api.list_tasks(spark).collect()}
        assert tasks[pid] == "slm"
        with pt.raises(ValueError, match="matched no live index"):
            api.execute_slm_policy(spark, pid)
        with pt.raises(ValueError, match="no slm policy"):
            api.execute_slm_policy(spark, "missing-slm")
    finally:
        assert api.delete_slm_policy(spark, pid)
    assert api.get_slm_policy(spark, pid) is None


def test_watcher_lifecycle(spark, docs):
    import uuid

    import pytest as pt

    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    tag = uuid.uuid4().hex[:6]
    idx, wid = f"watch_{tag}", f"w-{tag}"
    bulk_index_table(docs.select("doc_id", "lang"), idx)
    try:
        with pt.raises(ValueError, match="condition"):
            api.put_watch(spark, wid, input_sql=f"SELECT 1",
                          condition={"gt": 1, "lt": 5})
        with pt.raises(ValueError, match="condition op"):
            api.put_watch(spark, wid, input_sql=f"SELECT 1",
                          condition={"between": 1})
        with pt.raises(ValueError, match="read-only"):
            api.put_watch(spark, wid, input_sql=f"DROP TABLE {idx}",
                          condition={"gt": 0})
        n_en = docs.filter("lang = 'en'").count()
        api.put_watch(
            spark, wid,
            input_sql=f"SELECT count(*) FROM {idx} WHERE lang = 'en'",
            condition={"gte": n_en},
        )
        res = api.execute_watch(spark, wid)
        assert res["condition_met"] is True and res["value"] == n_en
        assert res["action_fired"] == "log"
        # flip the threshold: condition fails, no action
        api.put_watch(
            spark, wid,
            input_sql=f"SELECT count(*) FROM {idx} WHERE lang = 'en'",
            condition={"gt": n_en},
        )
        res2 = api.execute_watch(spark, wid)
        assert res2["condition_met"] is False and res2["action_fired"] is None
        assert api.delete_watch(spark, wid) is True
        with pt.raises(ValueError, match="no watch"):
            api.execute_watch(spark, wid)
    finally:
        api.delete_watch(spark, wid)
        api.delete_index(spark, idx)


def test_ilm_policy_guards(spark):
    import pytest as pt

    with pt.raises(ValueError, match=">= 1"):
        api.put_ilm_policy(spark, "p", rollover_max_docs=0)
    with pt.raises(ValueError, match=">= 1"):
        api.put_ilm_policy(spark, "p", rollover_max_docs=5,
                           keep_generations=0)
    with pt.raises(ValueError, match="no ilm policy"):
        api.apply_ilm(spark, "whatever", "missing-policy")
    api.put_ilm_policy(spark, "p-tmp", rollover_max_docs=5)
    assert api.get_ilm_policy(spark, "p-tmp")["keep_generations"] == 2
    assert api.delete_ilm_policy(spark, "p-tmp") is True
    assert api.delete_ilm_policy(spark, "p-tmp") is False


def test_terms_enum(spark, docs):
    import uuid

    import pytest as pt

    idx = f"te_{uuid.uuid4().hex[:6]}"
    api.bulk_data_to_index(spark, docs, idx, id_col="doc_id")
    try:
        langs = api.terms_enum(spark, idx, "lang")
        assert langs == sorted(langs) and len(langs) <= 10
        assert api.terms_enum(spark, idx, "lang", "e") == [
            v for v in langs if v.startswith("e")]
        assert api.terms_enum(spark, idx, "lang", "zzz") == []
        with pt.raises(ValueError, match="unknown field"):
            api.terms_enum(spark, idx, "nope")
    finally:
        api.delete_index(spark, idx)


def test_async_search_partial_monotone_and_final(spark, docs):
    import uuid

    import pytest as pt

    idx = f"as_{uuid.uuid4().hex[:6]}"
    api.bulk_data_to_index(spark, docs, idx, id_col="doc_id",
                           routing_col="lang", n_shards=4)
    try:
        sub = api.submit_async_search(spark, idx, group_by="lang",
                                      sum_col="n_chars")
        assert sub["is_running"] and sub["completed_shards"] == 0
        # 0 completed shards -> empty partial
        assert api.get_async_search(spark, sub["id"])["response"].count() == 0
        seen: set = set()
        for _ in range(4):
            st = api.tick_async_search(spark, sub["id"])
            got = api.get_async_search(spark, sub["id"])
            rows = {tuple(r) for r in got["response"].collect()}
            # lang routing: partials only ever GROW by whole exact rows
            assert seen <= rows
            seen = rows
            assert got["is_partial"] == st["is_running"]
        # over-ticking caps at total_shards
        st = api.tick_async_search(spark, sub["id"], shards=5)
        assert st["completed_shards"] == 4 and not st["is_running"]
        expect = {
            (r["lang"], r["cnt"], r["s"])
            for r in docs.groupBy("lang").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("n_chars").cast("bigint")).alias("s")).collect()
        }
        assert seen == expect
        assert api.delete_async_search(spark, sub["id"])
        assert not api.delete_async_search(spark, sub["id"])
    finally:
        api.delete_index(spark, idx)


def test_async_search_unrouted_virtual_shards_and_guards(spark, docs):
    import uuid

    import pytest as pt

    idx = f"asv_{uuid.uuid4().hex[:6]}"
    api.bulk_data_to_index(spark, docs, idx, id_col="doc_id")
    try:
        with pt.raises(ValueError, match="unknown group_by"):
            api.submit_async_search(spark, idx, group_by="nope")
        with pt.raises(ValueError, match="unknown sum field"):
            api.submit_async_search(spark, idx, group_by="lang",
                                    sum_col="nope")
        sub = api.submit_async_search(spark, idx, group_by="lang",
                                      n_shards=3, where="lang <> 'de'")
        assert sub["total_shards"] == 3
        api.tick_async_search(spark, sub["id"], shards=3)
        fin = api.get_async_search(spark, sub["id"])
        assert not fin["is_partial"]
        got = {(r["lang"], r["doc_count"]) for r in fin["response"].collect()}
        expect = {(r["lang"], r["n"]) for r in
                  docs.filter("lang <> 'de'").groupBy("lang")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert got == expect
        with pt.raises(ValueError, match="no async search"):
            api.get_async_search(spark, "missing")
        with pt.raises(ValueError, match="no async search"):
            api.tick_async_search(spark, "missing")
    finally:
        api.delete_index(spark, idx)


def test_async_search_routed_shard_count_must_match(spark, docs):
    import uuid

    import pytest as pt

    idx = f"asr_{uuid.uuid4().hex[:6]}"
    api.bulk_data_to_index(spark, docs, idx, id_col="doc_id",
                           routing_col="lang", n_shards=4)
    try:
        with pt.raises(ValueError, match="must match"):
            api.submit_async_search(spark, idx, group_by="lang", n_shards=8)
    finally:
        api.delete_index(spark, idx)


def test_cluster_introspection_trio(spark, docs):
    """cat_shards reports real routed shard populations that sum to
    the doc count; unrouted docs sit in shard 0; cluster_health rolls
    shards up; _tasks tracks async-search lifecycle."""
    import uuid

    from bigdatasearchpro_spark import api

    tag = uuid.uuid4().hex[:8]
    routed, plain = f"shards_r_{tag}", f"shards_p_{tag}"
    api.bulk_data_to_index(spark, docs.limit(100), routed,
                           id_col="doc_id", routing_col="lang", n_shards=4)
    api.bulk_data_to_index(spark, docs.limit(20), plain, id_col="doc_id")
    try:
        sh = api.cat_shards(spark, routed).collect()
        assert len(sh) == 4 and sum(r["docs"] for r in sh) == 100
        assert all(r["state"] == "STARTED" and r["prirep"] == "p"
                   for r in sh)
        # routed populations match a direct __shard group-by
        direct = {int(r["__shard"]): r["n"] for r in
                  spark.table(routed.lower()).groupBy("__shard")
                  .count().withColumnRenamed("count", "n").collect()}
        got = {r["shard"]: r["docs"] for r in sh if r["docs"] > 0}
        assert got == direct
        shp = {r["shard"]: r["docs"]
               for r in api.cat_shards(spark, plain).collect()}
        assert shp[0] == 20 and len(shp) == 5
        assert sum(shp.values()) == 20
        health = api.cluster_health(spark)
        assert health["status"] == "green"
        assert health["active_shards"] >= 9
        assert health["unassigned_shards"] == 0
        sub = api.submit_async_search(spark, routed, group_by="lang")
        try:
            t = {r["task_id"]: r["is_running"]
                 for r in api.list_tasks(spark).collect()}
            assert t.get(sub["id"]) is True
        finally:
            api.delete_async_search(spark, sub["id"])
        assert sub["id"] not in {
            r["task_id"] for r in api.list_tasks(spark).collect()}
    finally:
        api.delete_index(spark, routed)
        api.delete_index(spark, plain)


def test_staged_rewrite_preserves_routed_layout(spark, docs):
    """delete_by_query / bulk_mixed on a ROUTED index must keep the
    routing contract: physical __shard partition directories survive
    the staged rewrite, no NULL shards appear, and a doc created by a
    mixed bulk is reachable through the routed (pruned) scan."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from bigdatasearchpro_spark import api

    idx = f"routed_rw_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(spark, docs.select("doc_id", "lang", "source"),
                           idx, id_col="doc_id",
                           routing_col="lang", n_shards=4)

    def shard_dirs():
        loc = spark.sql(f"DESCRIBE TABLE EXTENDED {idx.lower()}").filter(
            "col_name='Location'").first()["data_type"]
        d = loc.replace("file:", "")
        return sorted(x for x in os.listdir(d) if x.startswith("__shard="))

    try:
        assert len(shard_dirs()) > 0
        api.delete_by_query(spark, idx, "lang:de", text_col="lang")
        assert len(shard_dirs()) > 0, "rewrite dropped partition layout"
        t = spark.table(idx.lower())
        assert t.filter(F.col("__shard").isNull()).count() == 0
        assert api.routing_meta(spark, idx) == {"col": "lang", "shards": 4}
        # mixed bulk: created doc gets a REAL shard and the routed scan
        # (partition-pruned path) finds it
        acts = spark.createDataFrame(
            [(1, "create", "999001", "en", "bulk")],
            "seq long, op string, doc_id string, lang string, source string")
        items = api.bulk_mixed(spark, idx, acts, id_col="doc_id")
        assert [r["result"] for r in items.collect()] == ["created"]
        t2 = spark.table(idx.lower())
        assert t2.filter(F.col("__shard").isNull()).count() == 0
        assert len(shard_dirs()) > 0
        routed = api.apply_routing(spark, idx, spark.table(idx.lower()),
                                   routing="en")
        assert routed.filter(F.col("doc_id") == "999001").count() == 1
        # and the routed scan still PRUNES (the scale property the
        # rewrite exists to preserve): PartitionFilters on __shard
        from bigdatasearchpro_spark.plans.inspect import partition_filters
        pf = [f for f in partition_filters(routed) if "__shard" in f]
        assert pf, "partition pruning lost after staged rewrite"
        # shard values still match the routing hash for every row
        recomputed = t2.withColumn(
            "__expect", F.pmod(F.xxhash64(F.col("lang")), F.lit(4)))
        assert recomputed.filter(
            F.col("__shard") != F.col("__expect")).count() == 0
    finally:
        api.delete_index(spark, idx)


def test_staged_rewrite_nonrouted_with_shard_column(spark, docs):
    """A NON-routed index whose document payload happens to carry a
    '__shard' column (stale restored data, or a user column with that
    name) must rewrite cleanly: the MSCK recovery is gated on the
    write actually being partitioned, not on column presence — the
    old column-presence gate ran MSCK REPAIR on a non-partitioned
    table and threw AFTER the swap (ADVICE r8)."""
    import uuid

    from pyspark.sql import functions as F

    from bigdatasearchpro_spark import api

    idx = f"shardcol_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(
        spark,
        docs.select("doc_id", "lang").withColumn(
            "__shard", (F.col("doc_id").cast("long") % 3).cast("string")),
        idx, id_col="doc_id")  # NO routing_col: flat layout
    try:
        assert api.routing_meta(spark, idx) is None
        before = api.get_index_data_count(spark, idx)
        out = api.delete_by_query(spark, idx, "lang:de", text_col="lang")
        assert out["deleted"] > 0
        assert api.get_index_data_count(spark, idx) == before - out["deleted"]
    finally:
        api.delete_index(spark, idx)


def test_delete_index_updates_aliases(spark, docs):
    """ES DELETE /{index} semantics for aliases: the dropped index
    vanishes from every alias's targets — a multi-target alias keeps
    serving its remaining targets WITH its filter, a single-target
    alias disappears with the index."""
    import uuid

    from bigdatasearchpro_spark import api

    sfx = uuid.uuid4().hex[:8]
    a, b = f"ali_a_{sfx}", f"ali_b_{sfx}"
    solo, both = f"ali_solo_{sfx}", f"ali_both_{sfx}"
    api.bulk_data_to_index(spark, docs.select("doc_id", "lang"), a,
                           id_col="doc_id")
    api.bulk_data_to_index(spark, docs.select("doc_id", "lang"), b,
                           id_col="doc_id")
    try:
        api.add_alias(spark, a, solo)
        api.add_alias(spark, [a, b], both, filter_sql="lang = 'en'")
        n_en = docs.filter("lang = 'en'").count()
        assert api.get_index_data_count(spark, both) == 2 * n_en
        api.delete_index(spark, a)
        # solo alias died with its only target
        assert not spark.catalog.tableExists(solo)
        # multi alias survives on b alone, filter intact
        assert api.get_index_data_count(spark, both) == n_en
        edges = set(api.get_alias(spark))
        assert (both, b) in edges and (both, a) not in edges
        assert all(al != solo for al, _ in edges)
    finally:
        api.delete_index(spark, b)
        for v in (solo, both):
            spark.sql(f"DROP VIEW IF EXISTS {v}")


def test_routed_index_copies_dont_leak_shard_column(spark, docs):
    """__shard is a DERIVED partition column, never document payload:
    reindex from a routed source must not copy it into the dest, and
    snapshot/restore must carry the ROUTING SPEC (rebuilt layout +
    property on restore) rather than stale shard ids as data."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from bigdatasearchpro_spark import api

    sfx = uuid.uuid4().hex[:8]
    src, dest, rest = f"rt_src_{sfx}", f"rt_dest_{sfx}", f"rt_rest_{sfx}"
    api.bulk_data_to_index(spark, docs.select("doc_id", "lang", "source"),
                           src, id_col="doc_id",
                           routing_col="lang", n_shards=4)
    repo = f"/tmp/bdsp_snap_{sfx}"
    try:
        # reindex: dest is a plain index, no __shard in its schema
        api.reindex(spark, src, dest, id_col="doc_id")
        assert "__shard" not in spark.table(dest).columns
        assert api.routing_meta(spark, dest) is None

        # snapshot + restore: routing spec travels, layout rebuilt
        api.snapshot_index(spark, src, repo)
        api.restore_index(spark, repo, src, rename_to=rest)
        assert api.routing_meta(spark, rest) == {"col": "lang", "shards": 4}
        t = spark.table(rest)
        assert "__shard" in t.columns
        bad = t.withColumn(
            "__expect", F.pmod(F.xxhash64(F.col("lang")), F.lit(4)))
        assert bad.filter(
            F.col("__shard") != F.col("__expect")).count() == 0
        # content identical to the source
        assert (t.select("doc_id").sort("doc_id").collect()
                == spark.table(src).select("doc_id").sort("doc_id").collect())
        # and the restored routed scan partition-prunes
        from bigdatasearchpro_spark.plans.inspect import partition_filters
        routed = api.apply_routing(spark, rest, t, routing="en")
        assert [f for f in partition_filters(routed) if "__shard" in f]
    finally:
        import shutil
        for ix in (src, dest, rest):
            api.delete_index(spark, ix)
        shutil.rmtree(repo, ignore_errors=True)


def test_snapshot_restore_carries_index_settings(spark, docs):
    """ES snapshots carry INDEX SETTINGS, not just rows: analyzer
    mappings (and the shards setting) must survive snapshot -> delete
    -> restore — without the settings manifest the restored index
    silently searched with standard analysis (r9 lifecycle-sweep
    find).  Checked at the property level (get_mapping) AND
    behaviorally (a stem-sensitive query matches the same docs on the
    restored index as on the source)."""
    import shutil
    import uuid

    from bigdatasearchpro_spark import api

    sfx = uuid.uuid4().hex[:8]
    src, rest = f"set_src_{sfx}", f"set_rest_{sfx}"
    repo = f"/tmp/bdsp_snap_{sfx}"
    api.bulk_data_to_index(spark, docs.select("doc_id", "text", "lang"),
                           src, id_col="doc_id")
    try:
        api.put_mapping(spark, src, {"text": "english"})
        want = api.get_field_mapping(spark, src)
        assert want == {"text": "english"}
        before = sorted(r["doc_id"] for r in api.query_data(
            spark, "text:joins", src, k=50).collect())
        api.snapshot_index(spark, src, repo)
        # restore under a NEW name: settings must follow the data
        api.restore_index(spark, repo, src, rename_to=rest)
        assert api.get_field_mapping(spark, rest) == want
        after = sorted(r["doc_id"] for r in api.query_data(
            spark, "text:joins", rest, k=50).collect())
        assert after == before
        # restore over the ORIGINAL name after a delete (the DR path)
        api.delete_index(spark, src)
        api.restore_index(spark, repo, src)
        assert api.get_field_mapping(spark, src) == want
    finally:
        for ix in (src, rest):
            api.delete_index(spark, ix)
        shutil.rmtree(repo, ignore_errors=True)


def test_rebulk_preserves_mappings_and_settings(spark, docs):
    """Bulk-indexing DOCUMENTS into an existing index must not erase
    its mappings/settings (ES never touches them on document writes):
    put_mapping analyzers and the shards setting survive a re-bulk;
    bdsp.routing is NOT preserved — it describes the physical layout
    each write determines."""
    import uuid

    from bigdatasearchpro_spark import api

    idx = f"remap_{uuid.uuid4().hex[:8]}"
    d = docs.select("doc_id", "lang", "text")
    api.bulk_data_to_index(spark, d, idx, id_col="doc_id")
    try:
        api.put_mapping(spark, idx, {"text": "english"})
        spark.sql(f"ALTER TABLE {idx} SET TBLPROPERTIES ('shards'='3')")
        api.bulk_data_to_index(spark, d, idx, id_col="doc_id")
        props = {r["key"]: r["value"] for r in
                 spark.sql(f"SHOW TBLPROPERTIES {idx}").collect()}
        assert props.get("bdsp.analyzer.text") == "english"
        assert props.get("shards") == "3"
        # a routed re-bulk sets its own routing; a flat re-bulk clears it
        api.bulk_data_to_index(spark, d, idx, id_col="doc_id",
                               routing_col="lang", n_shards=4)
        assert api.routing_meta(spark, idx) == {"col": "lang", "shards": 4}
        assert spark.sql(
            f"SHOW TBLPROPERTIES {idx} ('bdsp.analyzer.text')"
        ).first()["value"] == "english"
        api.bulk_data_to_index(spark, d, idx, id_col="doc_id")
        assert api.routing_meta(spark, idx) is None
    finally:
        api.delete_index(spark, idx)


def test_snapshot_resolves_alias_to_concrete_indices(spark, docs):
    """ES `_snapshot` resolves alias targets to their CONCRETE indices
    (full content, own names) — snapshotting the filtered alias VIEW
    would freeze only the subset and restore a truncated index.  Also:
    PIT snapshots of routed indices must not leak the derived __shard
    column as document payload."""
    import shutil
    import uuid

    from bigdatasearchpro_spark import api

    sfx = uuid.uuid4().hex[:8]
    a, b, ali = f"snapa_{sfx}", f"snapb_{sfx}", f"snap_ali_{sfx}"
    repo = f"/tmp/bdsp_snap_{sfx}"
    api.bulk_data_to_index(spark, docs.select("doc_id", "lang"), a,
                           id_col="doc_id")
    api.bulk_data_to_index(spark, docs.select("doc_id", "lang"), b,
                           id_col="doc_id")
    try:
        api.add_alias(spark, [a, b], ali, filter_sql="lang = 'en'")
        out = api.snapshot_index(spark, ali, repo)
        assert sorted(r["index"] for r in out["resolved"]) == [a, b]
        total = docs.count()
        assert all(r["rows"] == total for r in out["resolved"])
        import pytest as pt

        with pt.raises(ValueError, match="not an index or alias"):
            api.snapshot_index(spark, f"nope_{sfx}", repo)
        # PIT of a routed index: frozen view carries no __shard payload
        rt = f"snaprt_{sfx}"
        api.bulk_data_to_index(spark, docs.select("doc_id", "lang"), rt,
                               id_col="doc_id", routing_col="lang",
                               n_shards=4)
        pid = api.open_pit(spark, rt, base_dir=repo)
        try:
            assert "__shard" not in api.pit_dataframe(spark, pid).columns
        finally:
            api.close_pit(spark, pid)
            api.delete_index(spark, rt)
    finally:
        for ix in (a, b):
            api.delete_index(spark, ix)
        spark.sql(f"DROP VIEW IF EXISTS {ali}")
        shutil.rmtree(repo, ignore_errors=True)


def test_by_query_routing_rewrites_one_shard(spark, docs):
    """ES `?routing=` on _delete_by_query/_update_by_query: the write
    scopes to the one shard the value hashes to AND physically
    rewrites ONLY that shard's partition directory — every other
    shard's parquet files are bit-identical afterwards (the 1/n_shards
    rewrite that makes routed by-query writes viable at 100 TB)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from bigdatasearchpro_spark import api

    idx = f"rt_bq_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(spark, docs.select("doc_id", "lang", "source"),
                           idx, id_col="doc_id",
                           routing_col="lang", n_shards=4)

    def files_by_shard():
        loc = spark.sql(f"DESCRIBE TABLE EXTENDED {idx}").filter(
            "col_name='Location'").first()["data_type"].replace("file:", "")
        out = {}
        for d in os.listdir(loc):
            if d.startswith("__shard="):
                sd = os.path.join(loc, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(sd, f)),
                     os.path.getsize(os.path.join(sd, f)))
                    for f in os.listdir(sd) if not f.startswith(("_", ".")))
        return out

    try:
        t0 = spark.table(idx)
        shard = api._routing_shard(spark, idx, "de")
        n_de = t0.filter(F.col("lang") == "de").count()
        in_shard_other = t0.filter(
            (F.col("__shard") == shard) & (F.col("lang") != "de")).count()
        before_files = files_by_shard()
        out = api.delete_by_query(spark, idx, "lang:de", text_col="lang",
                                  routing="de")
        assert out["deleted"] == n_de
        t1 = spark.table(idx)
        assert t1.filter(F.col("lang") == "de").count() == 0
        # non-matching docs co-resident in the shard survive
        assert t1.filter(F.col("__shard") == shard).count() == in_shard_other
        # every OTHER shard's files are untouched (same names/mtimes)
        after_files = files_by_shard()
        for d, fl in before_files.items():
            if d != f"__shard={shard}":
                assert after_files[d] == fl, f"{d} was rewritten"
        # routed update: only the target shard's rows change
        out2 = api.update_by_query(spark, idx, {"source": "'patched'"},
                                   "source:web", text_col="source",
                                   routing="en")
        en_shard = api._routing_shard(spark, idx, "en")
        t2 = spark.table(idx)
        assert out2["updated"] == t2.filter(
            (F.col("__shard") == en_shard)
            & (F.col("source") == "patched")).count()
        assert t2.filter((F.col("__shard") != en_shard)
                         & (F.col("source") == "patched")).count() == 0
        # guards: routing-column rewrite through the routed path, and
        # routing on an unrouted index
        import pytest as pt

        with pt.raises(ValueError, match="routing column"):
            api.update_by_query(spark, idx, {"lang": "'xx'"},
                                routing="en")
        flat = f"flat_{uuid.uuid4().hex[:8]}"
        api.bulk_data_to_index(spark, docs.select("doc_id", "lang"), flat,
                               id_col="doc_id")
        try:
            with pt.raises(ValueError, match="no custom routing"):
                api.delete_by_query(spark, flat, "lang:de",
                                    text_col="lang", routing="de")
        finally:
            api.delete_index(spark, flat)
    finally:
        api.delete_index(spark, idx)


def test_routing_hash_uses_native_column_type(spark):
    """r9 review find: xxhash64 is type-sensitive — the write path
    hashes the NATIVE routing column (e.g. bigint), so a routed
    search/write passing the value as a string must cast before
    hashing or it scopes to the WRONG shard (a destructive routed
    delete silently no-oping)."""
    import uuid

    from pyspark.sql import functions as F

    from bigdatasearchpro_spark import api
    from bigdatasearchpro_spark.sinks.bulk import bulk_index_table

    idx = f"rt_long_{uuid.uuid4().hex[:8]}"
    rows = [(i, i % 10, f"v{i}") for i in range(200)]
    # bulk_index_table directly: cust_id stays BIGINT (no stringify)
    bulk_index_table(
        spark.createDataFrame(rows, "doc_id long, cust_id long, v string"),
        idx, routing_col="cust_id", n_shards=4)
    try:
        t = spark.table(idx)
        # the shard _routing_shard computes must BE the shard the
        # write placed cust_id=7 docs in
        shard = api._routing_shard(spark, idx, "7")
        placed = {r["__shard"] for r in
                  t.filter(F.col("cust_id") == 7).select("__shard")
                  .distinct().collect()}
        assert placed == {shard}
        # routed search via the string value finds the docs
        got = api.apply_routing(spark, idx, t, routing="7").filter(
            F.col("cust_id") == 7).count()
        assert got == 20
        # routed delete actually deletes (the no-op failure mode)
        out = api.delete_by_query(spark, idx, "v:v7 OR v:v17",
                                  text_col="v", routing="7")
        assert out["deleted"] == 2
        # unparseable routing value for the column type is rejected
        import pytest as pt

        with pt.raises(ValueError, match="does not cast"):
            api._routing_shard(spark, idx, "not-a-number")
    finally:
        api.delete_index(spark, idx)


def _run_frame(spark):
    """30 in-memory docs ``(doc_id, lang, text, views)``: odd ids say
    "runs", even ids "run"; every third id also says "slow"."""
    rows = [
        (str(i), ("en", "de", "fr")[i % 3],
         f"dogs {'runs' if i % 2 else 'run'} {'slow' if i % 3 == 0 else 'fast'}",
         str(i * 10))
        for i in range(30)
    ]
    return spark.createDataFrame(
        rows, "doc_id string, lang string, text string, views string")


def test_force_merge_keeps_routed_layout(spark):
    """force_merge publishes through the one staged-rewrite protocol:
    a routed index keeps its ``__shard`` partitions, and a routed
    by-query write afterwards still finds its partition."""
    import uuid

    idx = f"fm_routed_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(spark, _run_frame(spark), idx, id_col="doc_id",
                           routing_col="lang", n_shards=4)
    try:
        parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {idx}").collect()}
        res = api.force_merge(spark, idx, max_num_segments=1)
        assert res == {"index": idx, "rows": 30, "segments": 1}
        assert {r[0] for r in
                spark.sql(f"SHOW PARTITIONS {idx}").collect()} == parts
        assert api.routing_meta(spark, idx) == {"col": "lang", "shards": 4}
        out = api.delete_by_query(spark, idx, "lang:en", text_col="lang",
                                  routing="en")
        assert out == {"deleted": 10, "remaining": 20}
        assert not [t.name for t in spark.catalog.listTables()
                    if t.name.startswith(f"{idx}__")]
    finally:
        api.delete_index(spark, idx)


def test_cat_endpoints_agree_on_routed_shard_count(spark):
    """cat_indices, cat_shards and cluster_health resolve an index's
    shard count the same way: a routed index reports its routing
    layout's count."""
    import uuid

    idx = f"cat_routed_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(spark, _run_frame(spark), idx, id_col="doc_id",
                           routing_col="lang", n_shards=4)
    try:
        cat = {r["index_name"]: r["shards"]
               for r in api.cat_indices(spark).collect()}
        assert cat[idx] == 4
        assert len(api.cat_shards(spark, idx).collect()) == 4
        assert api.cluster_health(spark)["active_shards"] == sum(cat.values())
    finally:
        api.delete_index(spark, idx)


def test_by_query_deletes_what_count_counts(spark):
    """_delete_by_query?q= selects its rows like _search?q= and
    _count?q=: the mapped analyzer applies (english stems "runs" to
    "run"), and a fuzzy clause expands against the index vocabulary."""
    import uuid

    idx = f"dbq_mapped_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(spark, _run_frame(spark), idx, id_col="doc_id")
    try:
        api.put_mapping(spark, idx, {"text": "english"})
        n_fuzzy = api.get_index_data_count(spark, idx, "slaw~1")
        assert n_fuzzy == 10
        assert api.delete_by_query(spark, idx, "slaw~1") == {
            "deleted": 10, "remaining": 20}
        n_runs = api.get_index_data_count(spark, idx, "text:runs")
        assert n_runs == 20
        assert api.delete_by_query(spark, idx, "text:runs") == {
            "deleted": 20, "remaining": 0}
    finally:
        api.delete_index(spark, idx)


def test_scroll_and_validate_compile_like_search(spark, sf_dir):
    """_search?scroll= and _validate/query resolve ``q=`` the way
    _search and _count do: the mapped analyzer applies (english stems
    "runs" to "run"), and a remote-cluster index resolves through its
    alias."""
    import uuid

    idx = f"scroll_mapped_{uuid.uuid4().hex[:8]}"
    api.bulk_data_to_index(spark, _run_frame(spark), idx, id_col="doc_id")
    api.register_remote_cluster(spark, "rc", sf_dir)
    try:
        api.put_mapping(spark, idx, {"text": "english"})
        n_runs = api.get_index_data_count(spark, idx, "text:runs")
        assert n_runs == 30
        page, next_id = api.scroll(spark, idx, "text:runs", size=100)
        assert len(page.collect()) == n_runs and next_id is None
        assert api.validate_query(spark, "data", "rc:documents")["valid"]
        page, _ = api.scroll(spark, "rc:documents", "data", size=5)
        assert len(page.collect()) == 5
    finally:
        api.delete_index(spark, idx)
