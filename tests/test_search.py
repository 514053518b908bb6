"""Search ring (SURVEY.md L3 + T1): boolean match, TF-IDF/BM25 scoring
properties, top-k determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatasearchpro_spark.operators import search
from bigdatasearchpro_spark.sources.files import load_table

QUERY = "spark join window"


def test_match_all_subset_of_any(docs):
    any_ids = {r["doc_id"] for r in search.keyword_match(docs, QUERY, mode="any").collect()}
    all_ids = {r["doc_id"] for r in search.keyword_match(docs, QUERY, mode="all").collect()}
    assert all_ids <= any_ids
    assert len(any_ids) > 0


def test_match_empty_query_returns_nothing(docs):
    assert search.keyword_match(docs, "", mode="any").count() == 0


def test_topk_scores_positive_sorted_deterministic(docs):
    for scoring in ("tfidf", "bm25"):
        top = search.search_topk(docs, QUERY, 10, scoring=scoring).collect()
        assert len(top) == 10
        scores = [r["score"] for r in top]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)
        again = search.search_topk(docs, QUERY, 10, scoring=scoring).collect()
        assert [r["doc_id"] for r in top] == [r["doc_id"] for r in again]


def test_topk_hits_match_boolean_semantics(docs):
    any_ids = {r["doc_id"] for r in search.keyword_match(docs, QUERY, mode="any").collect()}
    top = search.search_topk(docs, QUERY, 10, scoring="bm25").collect()
    assert {r["doc_id"] for r in top} <= any_ids


def test_idf_rare_term_scores_above_common(spark):
    # 1 doc with "uniqterm", all docs with "common": a doc matching the
    # rare term must outrank a doc matching only the common term.
    rows = [(0, "uniqterm common")] + [(i, "common filler") for i in range(1, 50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    top = search.search_topk(docs, "uniqterm common", 5, scoring="bm25").collect()
    assert top[0]["doc_id"] == 0


def test_inverted_index_consistent_with_direct(docs):
    postings, doclen = search.build_inverted_index(docs)
    terms = search.analyze_query(QUERY)
    direct = (
        search.tokenize(docs)
        .select("doc_id", F.explode("tokens").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    via_index = postings.filter(F.col("term").isin(terms)).select("doc_id", "term", "tf")
    assert direct.exceptAll(via_index).count() == 0
    assert via_index.exceptAll(direct).count() == 0


def test_indexed_search_matches_direct(spark, docs):
    """The materialized-index path must return bit-identical scores to
    query-time tokenization — the index is an access path, not a
    semantics change."""
    from bigdatasearchpro_spark.operators import search

    q = "spark join window"
    postings, doclen = search.build_inverted_index(docs)
    n_docs, avgdl = search.corpus_stats(doclen)
    direct = search.search_topk(docs, q, 10, scoring="bm25").collect()
    indexed = search.search_topk_indexed(
        postings, doclen, q, 10, n_docs=n_docs, avgdl=avgdl
    ).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in indexed]


def test_indexed_keyword_match_matches_direct(spark, docs):
    from bigdatasearchpro_spark.operators import search

    q = "spark join window"
    postings, _ = search.build_inverted_index(docs)
    for mode in ("any", "all"):
        direct = {
            r.doc_id
            for r in search.keyword_match(docs, q, mode=mode).select("doc_id").collect()
        }
        indexed = {
            r.doc_id for r in search.keyword_match_indexed(postings, q, mode=mode).collect()
        }
        assert direct == indexed, mode


def test_phrase_match_requires_consecutive_order(spark):
    from bigdatasearchpro_spark.operators import search

    df = spark.createDataFrame(
        [
            (1, "big data search engine"),
            (2, "search big data tools"),     # phrase order broken
            (3, "big DATA, search!"),         # punctuation/case analyzed away
            (4, "big and data search"),       # not consecutive
            (5, "prefix big data search suffix"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in search.phrase_match(df, "Big Data Search").collect()}
    assert got == {1, 3, 5}


def test_multifield_boosted_semantics(spark):
    from bigdatasearchpro_spark.operators import search

    df = spark.createDataFrame(
        [
            (1, "alpha beta", "alpha", "other"),
            (2, "gamma delta", "beta", "alpha"),
            (3, "alpha alpha alpha", "gamma", "beta"),
            (4, "nothing here", "delta", "delta"),
        ],
        "doc_id long, body string, title string, tag string",
    )
    # boosting title should rank a title hit above a body-only hit
    hot = search.search_topk_multifield(
        df, "alpha", ["title^10", "body", "tag"], 4
    ).collect()
    assert hot[0]["doc_id"] == 1  # only title match for 'alpha'
    # best_fields = max of per-field weighted scores; most_fields = sum.
    # doc 1 matches 'alpha' in BOTH body and title, so its most_fields
    # score strictly exceeds its best_fields score; single-field docs
    # are identical across modes.
    best = {
        r["doc_id"]: r["score"]
        for r in search.search_topk_multifield(
            df, "alpha", ["title", "body", "tag"], 4, combine="best_fields"
        ).collect()
    }
    most = {
        r["doc_id"]: r["score"]
        for r in search.search_topk_multifield(
            df, "alpha", ["title", "body", "tag"], 4, combine="most_fields"
        ).collect()
    }
    assert set(best) == set(most) == {1, 2, 3}
    assert most[1] > best[1]
    assert most[2] == best[2] and most[3] == best[3]
    # unboosted single-field multifield == plain search_topk on the field
    single = {
        (r["doc_id"], r["score"])
        for r in search.search_topk(df, "alpha", 4, text_col="body").collect()
    }
    mf = {
        (r["doc_id"], r["score"])
        for r in search.search_topk_multifield(df, "alpha", ["body"], 4).collect()
    }
    assert single == mf
    import pytest as _pytest

    for bad in ("^3", "title^", "title^zero", "title^-1"):
        with _pytest.raises(ValueError):
            search.parse_boosted_fields([bad])


def test_query_data_per_field_boosts(spark, docs):
    from bigdatasearchpro_spark import api
    from bigdatasearchpro_spark.operators import search

    idx = "boost_test_idx"
    api.bulk_data_to_index(spark, docs, idx, id_col="doc_id")
    try:
        hits = api.query_data(
            spark, "spark en", idx, k=5,
            text_col=["text", "lang^5"], highlight=True,
        ).collect()
        assert 0 < len(hits) <= 5
        scores = [h["score"] for h in hits]
        assert scores == sorted(scores, reverse=True)
        assert all(h["highlight"] is not None for h in hits)
        # the boosted ranking must equal the direct multifield scorer
        # over the same filtered match set
        table = spark.table(idx)
        from bigdatasearchpro_spark.operators.querystring import query_string_filter

        matched = query_string_filter(
            table, "spark en", default_field=["text", "lang"],
            fields=["text", "lang"],
        )
        direct = search.search_topk_multifield(
            matched, "spark en", ["text", "lang^5"], 5,
            keep_zero_hits=True,
        ).collect()
        assert [(h["doc_id"], h["score"]) for h in hits] == [
            (d["doc_id"], d["score"]) for d in direct
        ]
    finally:
        api.delete_index(spark, idx)


def test_scored_searches_agree_on_one_field(spark, docs):
    """Every scored search is one scorer: on one query and one field,
    search_topk, single-field multifield, function_score with factor
    1.0, collapse winners and the summed _explain contributions give
    the same 4-dp score for a document."""
    from bigdatasearchpro_spark import api

    idx = "scorer_agree_idx"
    api.bulk_data_to_index(
        spark, docs.select("doc_id", "text", "source"), idx, id_col="doc_id"
    )
    try:
        table = spark.table(idx)
        top = {
            r["doc_id"]: r["score"]
            for r in search.search_topk(table, QUERY, 10).collect()
        }
        assert len(top) == 10
        for other in (
            search.search_topk_multifield(table, QUERY, ["text"], 10),
            search.function_score_topk(table, QUERY, F.lit(1.0), 10),
        ):
            assert {r["doc_id"]: r["score"] for r in other.collect()} == top
        every = {
            r["doc_id"]: r["score"]
            for r in search.search_topk(table, QUERY, 10**6).collect()
        }
        winners = search.collapse_topk(table, QUERY, "source", 10).collect()
        assert winners and all(every[r["doc_id"]] == r["score"] for r in winners)
        for doc_id in list(top)[:3]:
            exp = api.explain_doc(spark, QUERY, idx, doc_id)
            total = sum(d["value"] for d in exp["details"])
            assert round(total, 4) == top[doc_id]
    finally:
        api.delete_index(spark, idx)


# ---------------------------------------------------------------------------
# Configurable analyzers (operators/analyzers.py)
# ---------------------------------------------------------------------------


def test_analyzer_default_bit_identical(spark, sf_dir):
    """The standard analyzer (the default) must produce EXACTLY the
    pre-analyzer tokenization: lowercase + split on non-alphanumeric."""
    import re

    docs = load_table(spark, sf_dir, "documents").limit(50)
    got = [
        (r["doc_id"], r["tokens"])
        for r in search.tokenize(docs).orderBy("doc_id").collect()
    ]
    raw = {
        r["doc_id"]: r["text"]
        for r in docs.select("doc_id", "text").collect()
    }
    for doc_id, tokens in got:
        want = [t for t in re.split("[^a-z0-9]+", raw[doc_id].lower()) if t]
        assert tokens == want
    # explicit analyzer="standard" is the same code path
    explicit = [
        (r["doc_id"], r["tokens"])
        for r in search.tokenize(docs, analyzer="standard")
        .orderBy("doc_id")
        .collect()
    ]
    assert got == explicit


def test_stemmer_spark_python_symmetry(spark):
    """stem_expr (Spark CASE) and stem_token (driver Python) are
    generated from the same rule table — pin that they agree, including
    the excluded endings and length guards."""
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark.operators import analyzers

    words = [
        "studies", "classes", "boxes", "churches", "wishes", "prizes",
        "cats", "miss", "bus", "this", "running", "jumped", "sorted",
        "filtering", "tables", "queries", "is", "a", "go", "sssses",
        "ed", "ing", "s", "axes", "ses", "us", "bias", "focus",
    ]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {
        r["w"]: r["stem"]
        for r in df.select(
            "w", analyzers.stem_expr(F.col("w")).alias("stem")
        ).collect()
    }
    for w in words:
        assert got[w] == analyzers.stem_token(w), w
    # and the SQL CASE twin agrees too (DuckDB)
    import duckdb

    case = analyzers.stem_case_sql("t")
    for w in words:
        (sql_stem,) = duckdb.sql(
            f"SELECT {case} FROM (SELECT '{w}' AS t)"
        ).fetchone()
        assert sql_stem == analyzers.stem_token(w), w


def test_english_analyzer_matches_only_via_stemming(spark):
    """A corpus containing ONLY inflected forms must match base-form
    queries under analyzer='english' and NOT under the standard
    analyzer — the strict inflection test the registry fixture (whose
    stems also exist as base corpus tokens) cannot express."""
    df = spark.createDataFrame(
        [
            (1, "the tables and queries"),
            (2, "filtering sorted streams"),
            (3, "nothing relevant here"),
        ],
        ["doc_id", "text"],
    )
    hits = lambda q, an: sorted(
        r["doc_id"]
        for r in search.keyword_match(
            df, q, mode="any", analyzer=an
        ).collect()
    )
    assert hits("table query", "english") == [1]
    assert hits("filter sort stream", "english") == [2]
    assert hits("table query filter sort stream", "standard") == []
    # stopwords drop out of the query: 'the' alone matches nothing
    assert hits("the", "english") == []
    # and mode='all' needs only the non-stop stems
    assert sorted(
        r["doc_id"]
        for r in search.keyword_match(
            df, "The Tables, Queries!", mode="all", analyzer="english"
        ).collect()
    ) == [1]


def test_whitespace_analyzer_case_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "Spark Rocks"), (2, "spark rocks"), (3, "SPARK-ROCKS")],
        ["doc_id", "text"],
    )
    get = lambda q: sorted(
        r["doc_id"]
        for r in search.keyword_match(
            df, q, analyzer="whitespace"
        ).collect()
    )
    assert get("Spark") == [1]
    assert get("spark") == [2]
    # whitespace analyzer does NOT split on punctuation
    assert get("SPARK-ROCKS") == [3]
    assert get("SPARK") == []


def test_search_topk_with_english_analyzer(spark):
    """BM25 top-k threads the analyzer: tf counts run over stemmed
    tokens and the query stems symmetrically."""
    df = spark.createDataFrame(
        [
            (1, "tables tables tables"),
            (2, "tables joined"),
            (3, "unrelated words"),
        ],
        ["doc_id", "text"],
    )
    hits = search.search_topk(df, "table", 5, analyzer="english").collect()
    ids = [r["doc_id"] for r in hits]
    assert ids[0] == 1 and set(ids) == {1, 2}


def test_cjk_analyzer_bigrams(spark):
    """ES cjk analyzer shape: ideograph runs emit overlapping bigrams,
    lone ideographs emit themselves, latin words tokenize standard."""
    from bigdatasearchpro_spark.operators import analyzers

    zh = "".join(chr(0x4E00 + i) for i in (3, 7, 9, 12))
    toks = analyzers.analyzer_query(f"Spark {zh} x {chr(0x4E00)}", "cjk")
    assert toks[:2] == ["spark", "x"]
    assert zh[0:2] in toks and zh[1:3] in toks and zh[2:4] in toks
    assert chr(0x4E00) in toks
    # symmetry: Spark-side expression produces the same token set
    df = spark.createDataFrame([(1, f"Spark {zh} x {chr(0x4E00)}")], ["id", "text"])
    got = search.tokenize(df, analyzer="cjk").first()["tokens"]
    assert sorted(got) == sorted(toks)
    # a two-ideograph query matches only docs containing the bigram
    df2 = spark.createDataFrame(
        [(1, zh), (2, zh[::-1]), (3, "latin only")], ["doc_id", "text"]
    )
    hit = search.keyword_match(df2, zh[1:3], analyzer="cjk").collect()
    assert [r["doc_id"] for r in hit] == [1]


def test_percolate_many_duplicate_term_all_mode(spark):
    """A mode='all' stored query whose ANALYZED terms repeat a token
    ('buy it buy') must fire when every DISTINCT term matches — sizing
    __need on the raw array made such queries silently unmatchable
    (round-5 advice), and batch must agree with single-doc percolate."""
    stored = spark.createDataFrame(
        [(1, "buy it buy"), (2, "buy now never")],
        "query_id long, query string",
    )
    registered = search.register_percolator_queries(stored)
    docs = spark.createDataFrame(
        [(10, "you should buy it today"), (11, "buy stocks")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_many(registered, docs).collect()
    }
    assert got == {(10, 1)}
    one = {
        r["query_id"]
        for r in search.percolate(registered, "you should buy it today").collect()
    }
    assert one == {1}


def test_percolate_counts_matches_pair_listing(spark):
    """percolate_counts must equal groupBy(query_id).count over the
    percolate_many pair listing — same semantics, bounded contract
    (no (doc, query) row ever crosses a shuffle).  Covers mixed
    any/all modes, signature dedup (queries 1 and 4 share a term
    set), and zero-match queries (absent, not 0)."""
    stored = spark.createDataFrame(
        [
            (1, "buy it", "all"),
            (2, "buy now never", "all"),
            (3, "stocks never", "any"),
            (4, "it buy", "all"),  # same signature as query 1
            (5, "absentterm", "all"),  # matches nothing
        ],
        "query_id long, query string, mode string",
    )
    registered = search.register_percolator_queries(stored, mode_col="mode")
    docs = spark.createDataFrame(
        [
            (10, "you should buy it today"),
            (11, "buy stocks"),
            (12, "never say never"),
            (13, "buy it buy it"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["query_id"], r["n_matched_docs"])
        for r in search.percolate_counts(registered, docs).collect()
    }
    from collections import Counter

    want = Counter(
        r["query_id"]
        for r in search.percolate_many(registered, docs).collect()
    )
    assert got == {(q, n) for q, n in want.items()}
    assert 5 not in {q for q, _ in got}
    # signature twins report identical counts
    as_map = dict(got)
    assert as_map[1] == as_map[4] == 2  # docs 10 and 13


def test_percolate_topk_matches_ranked_listing(spark):
    """percolate_topk must equal the per-doc top-k of the
    percolate_many listing under (matched_terms desc, query_id asc) —
    covering mixed any/all modes (where matched counts differ), the
    rampant-tie case (all-mode queries tie at their term count), and
    the k cut inside a tie group."""
    stored = spark.createDataFrame(
        [
            (1, "buy it", "all"),
            (2, "buy now never", "all"),
            (3, "stocks never buy", "any"),
            (4, "it buy", "all"),
            (5, "today buy it", "all"),
        ],
        "query_id long, query string, mode string",
    )
    registered = search.register_percolator_queries(stored, mode_col="mode")
    docs = spark.createDataFrame(
        [
            (10, "you should buy it today"),
            (11, "buy stocks never today"),
            (12, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    k = 2
    got = {
        (r["doc_id"], r["query_id"], r["matched_terms"])
        for r in search.percolate_topk(registered, docs, k=k).collect()
    }
    # reference: score every matched pair by matched distinct terms,
    # then take per-doc top-k with the same tie-break
    reg = {r["query_id"]: (set(r["terms"]), r["mode"])
           for r in registered.collect()}
    want = set()
    for d in docs.collect():
        toks = set(d["text"].split())
        scored = []
        for qid, (terms, mode) in reg.items():
            m = len(terms & toks)
            if (mode == "any" and m >= 1) or (mode == "all" and m == len(terms)):
                scored.append((-m, qid))
        for negm, qid in sorted(scored)[:k]:
            want.add((d["doc_id"], qid, -negm))
    assert got == want


def test_percolate_counts_partials_not_pairs(spark):
    """The only exchange below the final agg carries (sig, partial)
    rows: the physical plan must contain the mapInPandas stage and NO
    join/exchange between the doc scan and the partial aggregation."""
    stored = spark.createDataFrame(
        [(i, f"word{i % 3} common") for i in range(30)],
        "query_id long, query string",
    )
    registered = search.register_percolator_queries(stored)
    docs = spark.createDataFrame(
        [(i, f"common word{i % 5} filler") for i in range(100)],
        "doc_id long, text string",
    )
    out = search.percolate_counts(registered, docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # the doc side reaches the partial-count agg without a SortMergeJoin
    # (the only join is the broadcast expansion of signature -> query)
    assert "SortMergeJoin" not in plan


def test_percolate_many_hot_term_salted(spark):
    """Skew guard: one registered term present in EVERY document. The
    hot-token pre-pass must route the join through salted_join (salt a
    join key -> no single hot reducer partition) without changing the
    matched pair set."""
    docs = spark.createDataFrame(
        [(i, f"common word{i}") for i in range(200)], "doc_id long, text string"
    )
    stored = spark.createDataFrame(
        [(1, "common"), (2, "word7 common")], "query_id long, query string"
    )
    registered = search.register_percolator_queries(stored)
    salted = search.percolate_many(registered, docs, hot_term_min_df=50, n_salts=8)
    plain = search.percolate_many(registered, docs, hot_term_min_df=10**9)
    gs = {(r["doc_id"], r["query_id"]) for r in salted.collect()}
    gp = {(r["doc_id"], r["query_id"]) for r in plain.collect()}
    assert gs == gp
    assert len(gs) == 201  # 'common' matches all 200 docs; query 2 only doc 7
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan


def test_highlight_stemming_analyzer_surface_forms(spark):
    """With analyzer='english' the analyzed query terms are stems
    ('tabl'), which never \\b-match surface text — highlighting must
    wrap the surface inflections instead (round-5 advice)."""
    docs = spark.createDataFrame(
        [
            (1, "The table and tables are sorted daily"),
            (2, "No match here"),
            (3, "Reading stories about a story"),
        ],
        "doc_id long, text string",
    )
    page = search.search_paged(
        docs, "tables sorting", size=10, analyzer="english"
    ).collect()
    hl = {r["doc_id"]: r["highlight"] for r in page}
    assert "<em>table</em>" in hl[1] and "<em>tables</em>" in hl[1]
    assert "<em>sorted</em>" in hl[1]
    # ies -> y inverse: stem 'story' highlights both 'story' and 'stories'
    page2 = search.search_paged(docs, "stories", size=10, analyzer="english").collect()
    hl2 = {r["doc_id"]: r["highlight"] for r in page2}
    assert "<em>stories</em>" in hl2[3] and "<em>story</em>" in hl2[3]
    # non-stemming analyzers keep exact-term highlighting
    page3 = search.search_paged(docs, "table", size=10).collect()
    hl3 = {r["doc_id"]: r["highlight"] for r in page3}
    assert "<em>table</em>" in hl3[1] and "<em>tables</em>" not in hl3[1]


def test_french_german_analyzers_symmetry_and_mapping(spark):
    """French/german analyzers: accent/umlaut folding + stop set +
    light stemmer agree between the Spark expression and the driver
    query twin, and the per-field _mapping routes query_data through
    them with zero query-time analyzer arguments."""
    from bigdatasearchpro_spark.operators import analyzers

    fr = "Les Tableaux de requêtes filtrées; chevaux!"
    de = "Die Häusern und großen Tabellen, Abfrage"
    for text, an in ((fr, "french"), (de, "german")):
        driver = analyzers.analyzer_query(text, an)
        df = spark.createDataFrame([(1, text)], ["id", "text"])
        got = search.tokenize(df, analyzer=an).first()["tokens"]
        assert sorted(got) == sorted(driver), (an, got, driver)
    assert analyzers.analyzer_query(fr, "french") == [
        "tableau", "requet", "filtre", "cheval"
    ]
    assert analyzers.analyzer_query(de, "german") == [
        "haus", "gross", "tabell", "abfrag"
    ]
    # ß->ss folding with the -ss stem exclusion: Größe == großen stem
    assert analyzers.analyzer_query("Größe", "german") == ["gross"]
    assert analyzers.analyzer_query("großen", "german") == ["gross"]
    # per-field mapping routes the ES-parity search path
    import uuid

    from bigdatasearchpro_spark import api

    idx = f"fr_idx_{uuid.uuid4().hex[:8]}"
    docs = spark.createDataFrame(
        [(1, "les tableaux de requêtes"), (2, "no french here")],
        ["doc_id", "text"],
    )
    api.bulk_data_to_index(spark, docs, idx, id_col="doc_id")
    try:
        api.put_mapping(spark, idx, {"text": "french"})
        hits = api.query_data(
            spark, "Tableau AND Requête", idx, k=10, text_col="text",
            highlight=False,
        )
        assert [r["doc_id"] for r in hits.collect()] == ["1"]
    finally:
        api.delete_index(spark, idx)


def test_russian_analyzer_symmetry_and_highlight(spark):
    """Russian (first non-Latin family): ё->е folding, cyrillic-aware
    split, stop set, and the light case-ending stemmer agree between
    the Spark expression and the driver twin; stems survive the
    highlight-alternate derivation (all strip-style rules)."""
    from bigdatasearchpro_spark.operators import analyzers

    ru = "Таблицы и запросы, фильтры на сортировки!"
    driver = analyzers.analyzer_query(ru, "russian")
    df = spark.createDataFrame([(1, ru)], ["id", "text"])
    got = search.tokenize(df, analyzer="russian").first()["tokens"]
    assert sorted(got) == sorted(driver)
    assert driver == ["таблиц", "запрос", "фильтр", "сортировк"]
    # ё->е fold: ёлки and елки stem identically
    assert analyzers.analyzer_query("ёлки", "russian") == (
        analyzers.analyzer_query("елки", "russian")
    )
    # different case forms agree on the stem (the analyzer's point)
    assert analyzers.analyzer_query("Таблицами", "russian") == ["таблиц"]
    assert analyzers.analyzer_query("таблицы", "russian") == ["таблиц"]
    # stopwords drop; latin words still tokenize (mixed-script text)
    assert analyzers.analyzer_query("и на spark", "russian") == ["spark"]
    # highlight alternates: prefix pattern per stem, unicode-safe
    alts = analyzers.highlight_alternates(["таблиц"], "russian")
    import re as _re

    assert any(_re.match(a, "таблицами") for a in alts)


def test_highlight_russian_stems_unicode(spark):
    """Cyrillic highlights work through the JVM regex: the (?U) flag
    makes \\b and \\w unicode-aware (ASCII-only by default in Java),
    so a russian stem pattern actually matches surface forms."""
    from bigdatasearchpro_spark.operators import search as s

    df = spark.createDataFrame(
        [(1, "старые таблицы на полке"), (2, "no match here at all")],
        ["doc_id", "text"],
    )
    hits = s.search_paged(
        df, "таблицами", size=5, analyzer="russian", highlight=True
    ).collect()
    assert [r["doc_id"] for r in hits] == [1]
    assert "<em>таблицы</em>" in hits[0]["highlight"]


def test_decay_expr_modes_match_python_math(spark):
    import math

    from bigdatasearchpro_spark.operators.search import decay_expr

    df = spark.createDataFrame(
        [(float(v),) for v in (0.0, 5.0, 10.0, 20.0, 45.0)], "v double"
    )
    origin, scale, offset, decay = 10.0, 10.0, 5.0, 0.5

    def d(v):
        return max(abs(v - origin) - offset, 0.0)

    expect = {
        "linear": lambda v: max((scale / 0.5 - d(v)) / (scale / 0.5), 0.0),
        "exp": lambda v: math.exp(d(v) * math.log(decay) / scale),
        "gauss": lambda v: math.exp(
            -(d(v) ** 2) / (2.0 * (-(scale * scale) / (2.0 * math.log(decay))))
        ),
    }
    for kind, fn in expect.items():
        rows = df.select(
            "v",
            decay_expr(
                F.col("v"), origin=origin, scale=scale,
                offset=offset, decay=decay, kind=kind,
            ).alias("m"),
        ).collect()
        for r in rows:
            assert abs(r["m"] - fn(r["v"])) < 1e-12, (kind, r["v"])
        by_v = {r["v"]: r["m"] for r in rows}
        # contract: multiplier is 1 anywhere within `offset` of origin
        assert by_v[5.0] == 1.0 and by_v[10.0] == 1.0
        # and decays monotonically outside it
        assert by_v[45.0] < by_v[20.0] <= 1.0
    import pytest as pt

    with pt.raises(ValueError):
        decay_expr(F.col("v"), scale=0.0)
    with pt.raises(ValueError):
        decay_expr(F.col("v"), scale=1.0, decay=1.5)
    with pt.raises(ValueError):
        decay_expr(F.col("v"), scale=1.0, kind="step")


def test_intervals_match_expr_vs_bruteforce(spark):
    from bigdatasearchpro_spark.operators.search import (
        intervals_match_expr,
        intervals_query,
    )

    rows = [
        (1, "a x b"),        # a..b gap 1
        (2, "b a"),          # reversed, adjacent
        (3, "a x x x b"),    # gap 3
        (4, "a"),            # missing b
        (5, "x b x x a x"),  # reversed gap 3 (width 4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def got(ordered, gaps):
        return {
            r["doc_id"]
            for r in df.filter(
                intervals_match_expr(
                    "text", ["a", "b"], ordered=ordered, max_gaps=gaps
                )
            ).collect()
        }

    assert got(True, 0) == set()           # no adjacent ordered pair
    assert got(True, 1) == {1}
    assert got(True, 3) == {1, 3}
    assert got(False, 0) == {2}            # unordered adjacency
    assert got(False, 1) == {1, 2}
    assert got(False, 3) == {1, 2, 3, 5}
    # combinators
    out = intervals_query(
        df,
        {"all_of": {"intervals": [
            {"match": {"query": "a", "ordered": True}},
            {"match": {"query": "b", "ordered": True}},
        ]}},
    ).collect()
    assert [r["doc_id"] for r in out] == [1, 2, 3, 5]
    import pytest as pt

    with pt.raises(ValueError):
        intervals_match_expr("text", ["a", "a"], ordered=False)
    with pt.raises(ValueError):
        intervals_query(df, {"span_near": {}})
    with pt.raises(ValueError):
        intervals_query(df, {"any_of": {"intervals": []}})


def test_terms_set_matches_and_field_bound(spark):
    from bigdatasearchpro_spark.operators.search import (
        terms_set_expr,
        terms_set_query,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d", 2),
            (2, "a b", 3),       # 2 matched < its own bound 3
            (3, "a a a", 1),     # dup tokens count once
            (4, "x y", 1),
        ],
        "doc_id long, text string, req long",
    )
    out = terms_set_query(df, ["a", "b", "c"], 2).collect()
    assert [(r["doc_id"], r["n_matched"]) for r in out] == [(1, 3), (2, 2)]
    # minimum_should_match_field: the bound comes from each row
    got = {
        r["doc_id"]
        for r in df.filter(
            terms_set_expr("text", ["a", "b", "c"], F.col("req"))
        ).collect()
    }
    assert got == {1, 3}
    import pytest as pt

    with pt.raises(ValueError):
        terms_set_expr("text", [], 1)


def test_rank_and_distance_feature_scoring(spark):
    import math

    from bigdatasearchpro_spark.operators.search import (
        distance_feature_expr,
        rank_feature_expr,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, 0.0), (3, -5.0), (4, 40.0)], "id long, f double"
    )

    def scores(**kw):
        return {
            r["id"]: r["s"]
            for r in df.select("id", rank_feature_expr("f", **kw).alias("s"))
            .collect()
        }

    sat = scores(kind="saturation", pivot=10.0)
    assert sat[1] == 0.5 and sat[4] == 40.0 / 50.0
    assert sat[2] == 0.0 and sat[3] == 0.0  # non-positive features score 0
    lg = scores(kind="log", scaling_factor=2.0)
    assert abs(lg[1] - math.log(21.0)) < 1e-12
    sig = scores(kind="sigmoid", pivot=10.0, exponent=2.0)
    assert abs(sig[4] - 1600.0 / (1600.0 + 100.0)) < 1e-12
    import pytest as pt

    with pt.raises(ValueError):
        rank_feature_expr("f", kind="step")

    d = spark.createDataFrame([(1, 0), (2, 3600), (3, 7200)], "id long, d long")
    got = {
        r["id"]: r["s"]
        for r in d.select(
            "id", distance_feature_expr(F.col("d"), pivot=3600.0).alias("s")
        ).collect()
    }
    assert got[1] == 1.0 and got[2] == 0.5 and got[3] == 1.0 / 3.0
    with pt.raises(ValueError):
        distance_feature_expr(F.col("d"), pivot=0.0)


def test_combined_fields_shares_corpus_stats(spark):
    """Term-centric semantics: a term split across two fields scores
    as one field; the boost guard raises."""
    from bigdatasearchpro_spark.operators.search import (
        search_topk,
        search_topk_combined_fields,
    )

    df = spark.createDataFrame(
        [(1, "apple pie", "apple"), (2, "banana", "apple"), (3, "pear", "kiwi")],
        "doc_id long, a string, b string",
    )
    combined = search_topk_combined_fields(df, "apple", ["a", "b"], 10)
    concat = df.selectExpr(
        "doc_id", "concat_ws(' ', a, b) AS text"
    )
    direct = search_topk(concat, "apple", 10)
    assert [tuple(r) for r in combined.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    import pytest as pt

    with pt.raises(ValueError):
        search_topk_combined_fields(df, "apple", ["a^2", "b"], 10)


def test_italian_portuguese_analyzer_symmetry(spark):
    """Index-time Column tokens == query-time Python analysis for the
    two new families, including the nasal-suffix PT case where the
    plural and singular must meet at the same stem."""
    from bigdatasearchpro_spark.operators.analyzers import (
        ANALYZERS,
        _italian_analyze,
        _portuguese_analyze,
    )

    cases = {
        "italian": [
            "La Tavola è più interrogazione",
            "Tavole interrogazioni filtri cavalli",
        ],
        "portuguese": [
            "A Tabela de operação; filtro e animal",
            "Tabelas operações filtros animais",
        ],
    }
    for name, texts in cases.items():
        tok_expr, analyze = ANALYZERS[name]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        spark_side = [
            r["t"] for r in df.select(tok_expr(F.col("text")).alias("t")).collect()
        ]
        for text, toks in zip(texts, spark_side):
            assert toks == analyze(text), (name, text)
    # the PT nasal rule: plural and singular agree; bare 'ao' stays
    assert _portuguese_analyze("operações") == _portuguese_analyze("operação")
    assert _portuguese_analyze("animais") == _portuguese_analyze("animal")
    assert _italian_analyze("interrogazioni") == _italian_analyze(
        "interrogazione"
    )


def test_match_bool_prefix_semantics(spark):
    from bigdatasearchpro_spark.operators.search import match_bool_prefix_expr

    df = spark.createDataFrame(
        [(1, "spark join fast"), (2, "spark sort"), (3, "joint effort"),
         (4, "spark jo")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]
        for r in df.filter(match_bool_prefix_expr("text", "spark jo")).collect()
    }
    assert got == {1, 4}  # needs full 'spark' AND a 'jo...' prefix token
    any_of = {
        r["doc_id"]
        for r in df.filter(
            match_bool_prefix_expr("text", "spark jo", operator="or")
        ).collect()
    }
    assert any_of == {1, 2, 3, 4}
    import pytest as pt

    with pt.raises(ValueError):
        match_bool_prefix_expr("text", "spark jo", operator="xor")


def test_date_math_parsing():
    import datetime as dt

    from bigdatasearchpro_spark.operators.datemath import parse_date_math

    now = dt.datetime(1997, 6, 15, 12, 30, 45)
    f = lambda e: parse_date_math(e, now=now)  # noqa: E731
    assert f("now") == now
    assert f("now/d") == dt.datetime(1997, 6, 15)
    assert f("now-1y/d") == dt.datetime(1996, 6, 15)
    assert f("now+2h") == dt.datetime(1997, 6, 15, 14, 30, 45)
    assert f("now-90m") == dt.datetime(1997, 6, 15, 11, 0, 45)
    assert f("now/M") == dt.datetime(1997, 6, 1)
    assert f("now-1w/w") == dt.datetime(1997, 6, 2)  # monday of prior week
    assert parse_date_math("2020-01-31||+1M") == dt.datetime(2020, 2, 29)
    assert parse_date_math("2019-01-31||+1M") == dt.datetime(2019, 2, 28)
    assert parse_date_math("2020-03-05||-2d/d") == dt.datetime(2020, 3, 3)
    assert parse_date_math("2020-03-05") == dt.datetime(2020, 3, 5)
    import pytest as pt

    with pt.raises(ValueError):
        parse_date_math("now-1d")  # no now given
    with pt.raises(ValueError):
        parse_date_math("now/d+1d", now=now)  # rounding must be last
    with pt.raises(ValueError):
        parse_date_math("now-1q", now=now)


def test_completion_context_slices_weights(spark):
    from bigdatasearchpro_spark.operators.suggest import (
        completion_suggester,
        completion_suggester_context,
    )

    rows = [
        (1, "stream stream spark", "en"),
        (2, "stream table", "en"),
        (3, "stream stream stream", "de"),
        (4, "stark star", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    en = {r.suggestion: r.doc_freq for r in
          completion_suggester_context(df, "st", {"lang": "en"}).collect()}
    # weights are WITHIN-slice doc freqs: stream in 2 en docs (not 3)
    assert en == {"stream": 2}
    de = {r.suggestion: r.doc_freq for r in
          completion_suggester_context(df, "st", {"lang": "de"}).collect()}
    assert de == {"stream": 1, "stark": 1, "star": 1}
    # contextless sees the whole corpus
    full = {r.suggestion: r.doc_freq for r in
            completion_suggester(df, "stream").collect()}
    assert full == {"stream": 3}

    import pytest as pt

    with pt.raises(ValueError, match="prefix"):
        completion_suggester_context(df, " ", {"lang": "en"})
    with pt.raises(ValueError, match="without contexts"):
        completion_suggester_context(df, "st", {})


def test_collapse_inner_hits_groups(spark):
    from bigdatasearchpro_spark.operators.search import collapse_topk

    rows = [
        (1, "spark spark spark", "a"),   # a's best
        (2, "spark spark", "a"),         # a's second
        (3, "spark", "a"),               # a's third (beyond inner 2)
        (4, "spark spark", "b"),
        (5, "nothing here", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in
           collapse_topk(df, "spark", "source", 10, inner_hits=2).collect()}
    assert out["a"].doc_id == 1 and out["a"].inner_ids == [1, 2]
    assert out["a"].inner_scores[0] >= out["a"].inner_scores[1]
    assert out["b"].doc_id == 4 and out["b"].inner_ids == [4]
    # default path (inner_hits=0) is unchanged: winner rows only
    plain = collapse_topk(df, "spark", "source", 10)
    assert set(plain.columns) == {"doc_id", "source", "score"}


def test_regexp_match_anchored_whole_token(spark):
    """ES regexp anchors to the whole term: 'sp[a-z]+' must match the
    token 'spark' but never a substring of 'respark' -- and the count
    column counts occurrences."""
    from bigdatasearchpro_spark.operators import search

    rows = [
        (1, "spark spark scan"),      # spark x2 (pattern sp[a-z]+)
        (2, "respark unsparkly"),     # substring only -> no match
        (3, "sp spx"),                # 'sp' fails ([a-z]+ needs a tail), 'spx' matches
        (4, "table value"),           # no match
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["n_regex_tokens"]
        for r in search.regexp_match(docs, "sp[a-z]+").collect()
    }
    assert out == {1: 2, 3: 1}


def test_phonetic_analyzer_symmetry_and_codes(spark):
    """Index-side soundex (Column expr) == query-side soundex (Python)
    on hand fixtures, including the misspelling pairs, single chars,
    digit-bearing tokens, and h/w transparency."""
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark.operators.analyzers import (
        ANALYZERS,
        soundex_token,
    )

    samples = [
        "querry query window windoe",
        "pfister hash w src1 a",
        "smith smyth robert rupert",
    ]
    tok_expr, analyze = ANALYZERS["phonetic"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["c"] for r in
           df.select("doc_id", tok_expr(F.col("text")).alias("c")).collect()}
    for i, s in enumerate(samples):
        assert got[i] == analyze(s), s
    # classic reference pairs collide; distinct names do not
    assert soundex_token("smith") == soundex_token("smyth")
    assert soundex_token("robert") == soundex_token("rupert")
    assert soundex_token("robert") != soundex_token("smith")
    assert soundex_token("querry") == "q600"
    assert soundex_token("windoe") == "w530"


def test_percolate_kernels_null_text_doc(spark):
    """r11 advice: a doc with NULL text analyzes to a null token array;
    percolate_many silently drops it (explode of null), so the bounded
    kernels must skip it too instead of raising TypeError on set(None)."""
    stored = spark.createDataFrame(
        [(1, "buy it"), (2, "stocks")], "query_id long, query string"
    )
    registered = search.register_percolator_queries(stored)
    docs = spark.createDataFrame(
        [(10, "you should buy it"), (11, None), (12, "stocks up")],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_many(registered, docs).collect()
    }
    assert pairs == {(10, 1), (12, 2)}
    counts = {
        (r["query_id"], r["n_matched_docs"])
        for r in search.percolate_counts(registered, docs).collect()
    }
    assert counts == {(1, 1), (2, 1)}
    topk = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_topk(registered, docs, k=3).collect()
    }
    assert topk == pairs


def test_percolate_kernels_duplicate_registration(spark):
    """r11 advice: registering the SAME query_id twice (same terms)
    must behave like percolate_many's groupBy collapse — one count row
    per query in percolate_counts, and one k-slot (not two) per doc in
    percolate_topk."""
    stored = spark.createDataFrame(
        [(1, "buy it"), (1, "buy it"), (2, "buy"), (3, "buy")],
        "query_id long, query string",
    )
    registered = search.register_percolator_queries(stored)
    docs = spark.createDataFrame(
        [(10, "you should buy it")], "doc_id long, text string"
    )
    want_pairs = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_many(registered, docs).collect()
    }
    assert want_pairs == {(10, 1), (10, 2), (10, 3)}
    counts = sorted(
        (r["query_id"], r["n_matched_docs"])
        for r in search.percolate_counts(registered, docs).collect()
    )
    assert counts == [(1, 1), (2, 1), (3, 1)]
    # k=2: the duplicate of query 1 must not consume the second slot
    # (ranking: q1 matches 2 terms, q2/q3 one each, tie-break by qid)
    topk = sorted(
        (r["query_id"], r["matched_terms"])
        for r in search.percolate_topk(registered, docs, k=2).collect()
    )
    assert topk == [(1, 2), (2, 1)]


def test_percolate_chunked_registered_side_bit_identical(spark):
    """r11 verdict ask #4: chunk_size streams the registered side in
    k passes (toLocalIterator, one compile/broadcast/match per chunk)
    — forcing chunk_size=7 over a 23-query registered table must equal
    the unchunked output bit-for-bit for BOTH bounded kernels,
    including a duplicate registration split across chunk boundaries."""
    rows = [(i, f"word{i % 10} common") for i in range(22)]
    rows.append((3, "word3 common"))  # exact duplicate of query 3
    # same query_id under a DIFFERENT term-set: the unchunked output
    # keeps one row per distinct count, and chunking must too
    rows.append((4, "word9"))
    stored = spark.createDataFrame(rows, "query_id long, query string")
    registered = search.register_percolator_queries(stored)
    docs = spark.createDataFrame(
        [(i, f"common word{i % 13} filler") for i in range(50)]
        + [(99, None)],
        "doc_id long, text string",
    )

    unchunked = sorted(
        map(tuple, search.percolate_counts(registered, docs).collect())
    )
    chunked = sorted(
        map(
            tuple,
            search.percolate_counts(registered, docs, chunk_size=7).collect(),
        )
    )
    assert chunked == unchunked and len(unchunked) > 0

    k = 3
    un_topk = sorted(
        map(tuple, search.percolate_topk(registered, docs, k=k).collect())
    )
    ch_topk = sorted(
        map(
            tuple,
            search.percolate_topk(
                registered, docs, k=k, chunk_size=7
            ).collect(),
        )
    )
    assert ch_topk == un_topk and len(un_topk) > 0


def test_percolate_mixed_clauses(spark):
    """DSL percolation (r11 ask #3): term + range + phrase clauses
    AND-compose; the listing and the bounded counts kernel agree; a
    range on a field the doc side lacks never matches."""
    from pyspark.sql import types as T

    reg_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("mode", T.StringType()),
        T.StructField("range_field", T.StringType()),
        T.StructField("range_op", T.StringType()),
        T.StructField("range_value", T.DoubleType()),
        T.StructField("phrase", T.StringType()),
    ])
    registered = spark.createDataFrame(
        [
            # term-only
            (1, ["buy", "it"], "all", None, None, None, None),
            # term + range: price strictly below 100
            (2, ["buy"], "all", "price", "lt", 100.0, None),
            # term + phrase: "it today" must be consecutive
            (3, ["buy"], "all", None, None, None, "it today"),
            # any-mode + gte range
            (4, ["stocks", "bonds"], "any", "price", "gte", 50.0, None),
            # range on a field the docs don't carry: never matches
            (5, ["buy"], "all", "missing", "lt", 1e9, None),
        ],
        reg_schema,
    )
    docs = spark.createDataFrame(
        [
            (10, "you should buy it today", 120.0),
            (11, "buy today it now", 80.0),     # tokens present, phrase broken
            (12, "stocks are up", 49.0),
            (13, "stocks are up", 50.0),
        ],
        "doc_id long, text string, price double",
    )
    got = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_mixed(
            registered, docs, numeric_fields=("price",)
        ).collect()
    }
    want = {
        (10, 1), (11, 1),   # both terms present, no residual
        (11, 2),            # buy + price 80 < 100 (doc 10 fails: 120)
        (10, 3),            # phrase "it today" consecutive only in doc 10
        (13, 4),            # any-mode stocks + price >= 50 (doc 12: 49 fails)
    }
    assert got == want
    counts = {
        (r["query_id"], r["n_matched_docs"])
        for r in search.percolate_mixed_counts(
            registered, docs, numeric_fields=("price",)
        ).collect()
    }
    from collections import Counter

    want_counts = Counter(q for _, q in want)
    assert counts == {(q, n) for q, n in want_counts.items()}


def _mixed_fixture(spark):
    """The mixed-rule clause fixture shared by the r12 DSL tests."""
    from pyspark.sql import types as T

    reg_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("mode", T.StringType()),
        T.StructField("range_field", T.StringType()),
        T.StructField("range_op", T.StringType()),
        T.StructField("range_value", T.DoubleType()),
        T.StructField("phrase", T.StringType()),
    ])
    registered = spark.createDataFrame(
        [
            (1, ["buy", "it"], "all", None, None, None, None),
            (2, ["buy"], "all", "price", "lt", 100.0, None),
            (3, ["buy"], "all", None, None, None, "it today"),
            (4, ["stocks", "bonds"], "any", "price", "gte", 50.0, None),
            (5, ["buy"], "all", "missing", "lt", 1e9, None),
        ],
        reg_schema,
    )
    docs = spark.createDataFrame(
        [
            (10, "you should buy it today", 120.0),
            (11, "buy today it now", 80.0),
            (12, "stocks are up", 49.0),
            (13, "stocks are up", 50.0),
        ],
        "doc_id long, text string, price double",
    )
    return registered, docs


def test_percolate_mixed_topk(spark):
    """The per-doc top-k form of the mixed kernel: residual clauses
    gate a candidate BEFORE it can take a k-slot, scores are matched
    distinct-term counts, ties break by query_id asc."""
    registered, docs = _mixed_fixture(spark)
    # full matched set with counts: doc 10 -> q1(2), q3(1);
    # doc 11 -> q1(2), q2(1); doc 13 -> q4(1)
    got = sorted(
        map(
            tuple,
            search.percolate_mixed_topk(
                registered, docs, k=3, numeric_fields=("price",)
            ).collect(),
        )
    )
    assert got == [
        (10, 1, 2), (10, 3, 1), (11, 1, 2), (11, 2, 1), (13, 4, 1),
    ]
    # k=1: only the best rule per doc survives; q5 (range on a field
    # the docs lack) must never appear even where slots are free
    got1 = sorted(
        map(
            tuple,
            search.percolate_mixed_topk(
                registered, docs, k=1, numeric_fields=("price",)
            ).collect(),
        )
    )
    assert got1 == [(10, 1, 2), (11, 1, 2), (13, 4, 1)]


def test_percolate_mixed_chunked_bit_identical(spark):
    """chunk_size on BOTH mixed kernels must equal the unchunked
    output bit-for-bit — chunk identity keys on the FULL rule, so two
    rules sharing a query_id but differing only in a clause stay
    distinct across chunks."""
    registered, docs = _mixed_fixture(spark)
    # same query_id under a second DISTINCT rule (different threshold):
    # both rules must survive chunk dedup and emit their own counts
    extra = registered.sparkSession.createDataFrame(
        [
            (2, ["buy"], "all", "price", "lt", 1000.0, None),
            (2, ["buy"], "all", "price", "lt", 100.0, None),  # exact dup
        ],
        registered.schema,
    )
    reg = registered.unionByName(extra)

    un_counts = sorted(
        map(
            tuple,
            search.percolate_mixed_counts(
                reg, docs, numeric_fields=("price",)
            ).collect(),
        )
    )
    ch_counts = sorted(
        map(
            tuple,
            search.percolate_mixed_counts(
                reg, docs, numeric_fields=("price",), chunk_size=2
            ).collect(),
        )
    )
    assert ch_counts == un_counts and len(un_counts) > 0
    # the relaxed q2 rule (lt 1000) matches docs 10 AND 11 while the
    # strict one (lt 100) matches only 11 — two count rows for q2
    assert [r for r in un_counts if r[0] == 2] == [(2, 1), (2, 2)]

    un_topk = sorted(
        map(
            tuple,
            search.percolate_mixed_topk(
                reg, docs, k=2, numeric_fields=("price",)
            ).collect(),
        )
    )
    ch_topk = sorted(
        map(
            tuple,
            search.percolate_mixed_topk(
                reg, docs, k=2, numeric_fields=("price",), chunk_size=2
            ).collect(),
        )
    )
    assert ch_topk == un_topk and len(un_topk) > 0

def test_percolate_term_forms_ignore_residual_columns(spark):
    """The pure-term entry points read only the term clause: a
    registered table that also carries residual columns no doc passes
    (a range and a phrase) gives the same percolate_counts,
    percolate_topk and percolate_many answers as the same table with
    those columns dropped."""
    registered, docs = _mixed_fixture(spark)
    residual = registered.withColumns({
        "range_field": F.lit("price"), "range_op": F.lit("lt"),
        "range_value": F.lit(-1.0), "phrase": F.lit("never there"),
    })
    bare = registered.select("query_id", "terms", "mode")
    runs = {}
    for name, reg in (("residual", residual), ("bare", bare)):
        runs[name] = (
            sorted(map(tuple, search.percolate_counts(reg, docs).collect())),
            sorted(map(tuple, search.percolate_counts(
                reg, docs, chunk_size=2).collect())),
            sorted(map(tuple, search.percolate_topk(reg, docs, k=2).collect())),
            sorted(map(tuple, search.percolate_many(reg, docs).collect())),
        )
    assert runs["residual"] == runs["bare"]
    assert all(len(r) > 0 for r in runs["bare"])


def _dsl_fixture(spark):
    """Five-clause rule fixture for the r12 grammar extension
    (must_not / exists / prefix on top of term+range+phrase)."""
    from pyspark.sql import types as T

    reg_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("mode", T.StringType()),
        T.StructField("range_field", T.StringType()),
        T.StructField("range_op", T.StringType()),
        T.StructField("range_value", T.DoubleType()),
        T.StructField("phrase", T.StringType()),
        T.StructField("neg_terms", T.ArrayType(T.StringType())),
        T.StructField("exists_field", T.StringType()),
        T.StructField("tok_prefix", T.StringType()),
    ])
    n4 = (None, None, None, None)
    registered = spark.createDataFrame(
        [
            # must_not: docs containing 'spam' are excluded
            (1, ["buy"], "all", *n4, ["spam"], None, None),
            # exists over the mapped price field (null price fails)
            (2, ["buy"], "all", *n4, None, "price", None),
            # exists over an UNMAPPED field: never matches
            (3, ["buy"], "all", *n4, None, "volume", None),
            # token prefix: some token must START with 'tod'
            (4, ["buy"], "all", *n4, None, None, "tod"),
            # composite: range + must_not + exists + prefix
            (5, ["buy"], "all", "price", "lt", 100.0, None,
             ["spam"], "price", "now"),
            # mid-token substring must NOT count as a prefix
            (6, ["buy"], "all", *n4, None, None, "oday"),
        ],
        reg_schema,
    )
    docs = spark.createDataFrame(
        [
            (10, "buy it today", 120.0),
            (11, "buy spam today now", 80.0),
            (12, "buy now", None),          # null price -> exists fails
            (13, "buy now cheap", 50.0),
        ],
        "doc_id long, text string, price double",
    )
    return registered, docs


def test_percolate_dsl_clauses(spark):
    """must_not / exists / prefix clauses agree across the listing and
    BOTH bounded kernels; a mid-token substring is not a prefix; an
    unmapped exists field never matches; a null numeric field fails
    exists."""
    registered, docs = _dsl_fixture(spark)
    want = {
        (10, 1), (12, 1), (13, 1),          # q1: no 'spam' token
        (10, 2), (11, 2), (13, 2),          # q2: price present
        (10, 4), (11, 4),                   # q4: 'today' starts with 'tod'
        (13, 5),                            # q5: the only doc passing all
    }
    got = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_mixed(
            registered, docs, numeric_fields=("price",)
        ).collect()
    }
    assert got == want

    from collections import Counter

    want_counts = Counter(q for _, q in want)
    counts = {
        (r["query_id"], r["n_matched_docs"])
        for r in search.percolate_mixed_counts(
            registered, docs, numeric_fields=("price",)
        ).collect()
    }
    assert counts == {(q, n) for q, n in want_counts.items()}

    topk = sorted(
        map(
            tuple,
            search.percolate_mixed_topk(
                registered, docs, k=2, numeric_fields=("price",)
            ).collect(),
        )
    )
    # every rule has one positive term, so all matched counts are 1 and
    # ties break query_id-asc: doc 10 -> q1,q2; 11 -> q2,q4; 12 -> q1;
    # 13 -> q1,q2 (q5 loses the tie at k=2)
    assert topk == [
        (10, 1, 1), (10, 2, 1), (11, 2, 1), (11, 4, 1),
        (12, 1, 1), (13, 1, 1), (13, 2, 1),
    ]


def test_percolate_dsl_chunked_and_compat(spark):
    """The chunked registered side keys rule identity on ALL seven
    clause columns (two rules differing only in neg/exists/prefix stay
    distinct), and a term+range+phrase table WITHOUT the new columns
    still runs through every entry point (nulls are assumed)."""
    registered, docs = _dsl_fixture(spark)
    un = sorted(
        map(
            tuple,
            search.percolate_mixed_counts(
                registered, docs, numeric_fields=("price",)
            ).collect(),
        )
    )
    ch = sorted(
        map(
            tuple,
            search.percolate_mixed_counts(
                registered, docs, numeric_fields=("price",), chunk_size=2
            ).collect(),
        )
    )
    assert ch == un and len(un) > 0

    un_topk = sorted(
        map(
            tuple,
            search.percolate_mixed_topk(
                registered, docs, k=2, numeric_fields=("price",)
            ).collect(),
        )
    )
    ch_topk = sorted(
        map(
            tuple,
            search.percolate_mixed_topk(
                registered, docs, k=2, numeric_fields=("price",),
                chunk_size=2,
            ).collect(),
        )
    )
    assert ch_topk == un_topk and len(un_topk) > 0

    # backward compat: the r11 mixed fixture (no new columns) through
    # listing + both kernels
    old_reg, old_docs = _mixed_fixture(spark)
    pairs = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_mixed(
            old_reg, old_docs, numeric_fields=("price",)
        ).collect()
    }
    assert (10, 1) in pairs and (11, 2) in pairs
    kc = search.percolate_mixed_counts(
        old_reg, old_docs, numeric_fields=("price",)
    ).count()
    assert kc > 0


def test_term_threshold_grammar():
    """The minimum_should_match threshold resolution: any/all, integer
    (clamped to >= 1, above-need never matches), percentage (rounded
    DOWN, clamped to >= 1), malformed -> never matches."""
    t = search._term_threshold
    assert t("any", 4) == 1 and t("all", 4) == 4
    assert t("2", 4) == 2 and t("0", 4) == 1 and t("5", 4) == 5
    assert t("50%", 4) == 2 and t("50%", 3) == 1 and t("75%", 4) == 3
    assert t("10%", 4) == 1          # floor(0.4) = 0 clamps to 1
    assert t("garbage", 4) == 5 and t(None, 4) == 5
    assert t("3.5", 4) == 5          # non-integer string: never


def test_percolate_minimum_should_match_all_forms(spark):
    """Integer and percentage modes agree across percolate_many, the
    single-doc percolate filter, both term-set kernels, and the mixed
    kernel family (which resolves the same threshold at compile
    time)."""
    registered = spark.createDataFrame(
        [
            (1, ["alpha", "beta", "gamma", "delta"], "2"),
            (2, ["alpha", "beta", "gamma", "delta"], "50%"),
            (3, ["alpha", "beta", "gamma", "delta"], "75%"),
            (4, ["alpha", "beta", "gamma", "delta"], "all"),
            (5, ["alpha", "beta"], "5"),       # above need: never
            (6, ["alpha", "beta", "gamma"], "10%"),  # clamps to 1
            (7, ["alpha"], "bogus"),           # malformed: never
        ],
        "query_id long, terms array<string>, mode string",
    )
    docs = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta"),  # 4 matches
            (11, "alpha beta gamma"),        # 3
            (12, "alpha beta"),              # 2
            (13, "alpha"),                   # 1
            (14, "nothing here"),            # 0
        ],
        "doc_id long, text string",
    )
    want = {
        (10, 1), (11, 1), (12, 1),           # >= 2
        (10, 2), (11, 2), (12, 2),           # 50% of 4 -> 2
        (10, 3), (11, 3),                    # 75% of 4 -> 3
        (10, 4),                             # all
        (10, 6), (11, 6), (12, 6), (13, 6),  # 10% clamps to 1
    }
    got = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_many(registered, docs).collect()
    }
    assert got == want

    # single-doc filter: doc 11's matches
    single = {
        r["query_id"]
        for r in search.percolate(registered, "alpha beta gamma").collect()
    }
    assert single == {q for d, q in want if d == 11}

    from collections import Counter

    wc = Counter(q for _, q in want)
    counts = {
        (r["query_id"], r["n_matched_docs"])
        for r in search.percolate_counts(registered, docs).collect()
    }
    assert counts == {(q, n) for q, n in wc.items()}

    mixed_counts = {
        (r["query_id"], r["n_matched_docs"])
        for r in search.percolate_mixed_counts(
            registered, docs, numeric_fields=()
        ).collect()
    }
    assert mixed_counts == counts

    # top-1 per doc: highest matched count wins, ties qid-asc
    top1 = sorted(
        map(tuple, search.percolate_topk(registered, docs, k=1).collect())
    )
    assert top1 == [(10, 1, 4), (11, 1, 3), (12, 1, 2), (13, 6, 1)]
    mixed_top1 = sorted(
        map(
            tuple,
            search.percolate_mixed_topk(
                registered, docs, k=1, numeric_fields=()
            ).collect(),
        )
    )
    assert mixed_top1 == top1


def test_percolate_dsl_null_neg_elements(spark):
    """A NULL element inside neg_terms is ignored (not
    null-propagated) in BOTH the listing and the kernels, and an
    all-null list behaves as no clause — the kernel compile must not
    TypeError on sorting None."""
    from pyspark.sql import types as T

    reg_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("mode", T.StringType()),
        T.StructField("neg_terms", T.ArrayType(T.StringType())),
    ])
    registered = spark.createDataFrame(
        [
            (1, ["buy"], "all", [None, "spam"]),  # null elem ignored
            (2, ["buy"], "all", [None]),          # all-null: no clause
        ],
        reg_schema,
    )
    docs = spark.createDataFrame(
        [(10, "buy it"), (11, "buy spam")],
        "doc_id long, text string",
    )
    want = {(10, 1), (10, 2), (11, 2)}
    got = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_mixed(
            registered, docs, numeric_fields=()
        ).collect()
    }
    assert got == want
    counts = {
        (r["query_id"], r["n_matched_docs"])
        for r in search.percolate_mixed_counts(
            registered, docs, numeric_fields=()
        ).collect()
    }
    assert counts == {(1, 1), (2, 2)}


def test_percolate_residual_min_match(spark):
    """residual_min_match composes the present residual clauses as ES
    bool.should with clause-level minimum_should_match: 1 = OR, 0 =
    vacuous, above the present-clause count = never; null keeps the
    AND contract.  Listing and both kernels agree, chunked included."""
    from pyspark.sql import types as T

    reg_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("mode", T.StringType()),
        T.StructField("range_field", T.StringType()),
        T.StructField("range_op", T.StringType()),
        T.StructField("range_value", T.DoubleType()),
        T.StructField("phrase", T.StringType()),
        T.StructField("neg_terms", T.ArrayType(T.StringType())),
        T.StructField("exists_field", T.StringType()),
        T.StructField("tok_prefix", T.StringType()),
        T.StructField("residual_min_match", T.IntegerType()),
    ])
    registered = spark.createDataFrame(
        [
            # OR of (price < 100) and phrase "it today": rmm=1
            (1, ["buy"], "all", "price", "lt", 100.0, "it today",
             None, None, None, 1),
            # same two clauses, AND (null rmm): both must hold
            (2, ["buy"], "all", "price", "lt", 100.0, "it today",
             None, None, None, None),
            # rmm=0: residuals vacuous even though the range fails
            (3, ["buy"], "all", "price", "lt", 0.0, None,
             None, None, None, 0),
            # rmm above the present-clause count (1): never matches
            (4, ["buy"], "all", "price", "lt", 1e9, None,
             None, None, None, 2),
            # 2-of-3: range + must_not('spam') + prefix 'tod'
            (5, ["buy"], "all", "price", "lt", 100.0, None,
             ["spam"], None, "tod", 2),
            # ES edge: msm with ZERO residual clauses is ignored
            (6, ["buy"], "all", None, None, None, None,
             None, None, None, 2),
        ],
        reg_schema,
    )
    docs = spark.createDataFrame(
        [
            (10, "buy it today", 120.0),   # phrase ok, range fails
            (11, "buy it today", 80.0),    # both ok
            (12, "buy now", 80.0),         # range ok, phrase fails
            (13, "buy now", 120.0),        # both fail
            (14, "buy spam today", 80.0),  # q5: range ok, neg fails, prefix ok
            (15, "buy spam now", 120.0),   # q5: all three fail-ish (1 of 3)
        ],
        "doc_id long, text string, price double",
    )
    want = {
        # q1 OR: phrase passes (10), both pass (11), range passes
        # (12, 14 — "buy spam today" at 80), neither (13, 15)
        (10, 1), (11, 1), (12, 1), (14, 1),
        (11, 2),                            # AND: both clauses only
        (10, 3), (11, 3), (12, 3), (13, 3), (14, 3), (15, 3),  # vacuous
        # q5 2-of-3 over (range, must_not spam, prefix 'tod'):
        # 10 = fail+pass+pass, 11 = pass+pass+pass, 12 = pass+pass+fail,
        # 14 = pass+fail+pass -> all >= 2; 13 (1), 15 (0) fail
        (10, 5), (11, 5), (12, 5), (14, 5),
        # q6: every 'buy' doc — the stray msm is ignored (no residuals)
        (10, 6), (11, 6), (12, 6), (13, 6), (14, 6), (15, 6),
    }
    got = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_mixed(
            registered, docs, numeric_fields=("price",)
        ).collect()
    }
    assert got == want

    from collections import Counter

    wc = Counter(q for _, q in want)
    counts = {
        (r["query_id"], r["n_matched_docs"])
        for r in search.percolate_mixed_counts(
            registered, docs, numeric_fields=("price",)
        ).collect()
    }
    assert counts == {(q, n) for q, n in wc.items()}
    chunked = {
        (r["query_id"], r["n_matched_docs"])
        for r in search.percolate_mixed_counts(
            registered, docs, numeric_fields=("price",), chunk_size=2
        ).collect()
    }
    assert chunked == counts

    topk = sorted(
        map(
            tuple,
            search.percolate_mixed_topk(
                registered, docs, k=2, numeric_fields=("price",)
            ).collect(),
        )
    )
    # all matched counts are 1 (single-term rules); k=2 keeps the two
    # smallest matching qids per doc
    want_topk = []
    bydoc = {}
    for d, q in sorted(want):
        bydoc.setdefault(d, []).append(q)
    for d, qs in bydoc.items():
        want_topk.extend((d, q, 1) for q in sorted(qs)[:2])
    assert topk == sorted(want_topk)


def test_percolate_highlight_terms(spark):
    """The highlight surface lists exactly the registered terms found
    in the doc (sorted, space-joined) with the distinct-match count,
    and the pair set equals percolate_many's."""
    registered = spark.createDataFrame(
        [
            (1, ["alpha", "beta", "gamma"], "2"),
            (2, ["delta"], "all"),
        ],
        "query_id long, terms array<string>, mode string",
    )
    docs = spark.createDataFrame(
        [
            (10, "beta saw alpha"),   # q1: alpha+beta (2) -> fires
            (11, "alpha only here"),  # q1: 1 < 2 -> no
            (12, "delta delta"),      # q2 fires, matched once distinct
        ],
        "doc_id long, text string",
    )
    got = sorted(
        map(tuple, search.percolate_highlight(registered, docs).collect())
    )
    assert got == [(10, 1, "alpha beta", 2), (12, 2, "delta", 1)]
    pairs = {
        (r["doc_id"], r["query_id"])
        for r in search.percolate_many(registered, docs).collect()
    }
    assert pairs == {(d, q) for d, q, _, _ in got}
