"""Full-text search ring (SURVEY.md L3 + T1).

The reference exposes keyword search by posting the user's ``q=`` string
straight to Elasticsearch's URI-search endpoint
(``indexView.html:13-19``); its own query methods return null
(``ElasticServiceImpl.java:127-136``). ES 6.x semantics for that path:
standard analysis (split on non-alphanumerics + lowercase), boolean
term match (OR), BM25 scoring, top-10 by ``_score``. This module
re-homes those semantics natively as DataFrame programs.

Scale design (100 TB corpus):
- Boolean shapes (keyword/phrase/prefix/range/wildcard/bool) compile to
  a SINGLE narrow filter over a per-row token array — no explode, no
  shuffle, fully inside whole-stage codegen. The predicate evaluates
  against a tiny literal term set per row.
- Scored search is ONE scorer, single-scan: one pass computes the
  per-document (dl_j, tf_{j,1}..tf_{j,k}) integer projection over one
  or more field groups (array expressions, no explode), which is cached
  (ints only — ~20 bytes/doc, ~200 GB cluster-wide at 10^10 docs) and
  reread for the one corpus-stats aggregate (N, avgdl_j, df_{j,i}) and
  the final top-k; one function builds the BM25/TF-IDF score Column
  from those stats. ``search_topk``, ``search_topk_multifield``,
  ``function_score_topk`` (and ``boosting_topk``), ``collapse_topk``
  and ``explain_score`` are thin callers of it, so they score
  identically and the corpus text is scanned exactly once per query.
  The stats aggregate is the one place a per-index stats cache would
  go.
- A scored query's fixed cost is its Spark jobs: the stats aggregate
  and ONE top-k job. The <= k-row page (with ``search_paged``'s rank,
  computed in that same job) stays in the JVM and comes back as a
  local relation (``_collect``), so consuming it runs no further job
  and starts no Python worker.
- Expensive per-term predicates (fuzzy/regex) aggregate to the DISTINCT
  vocabulary first (|vocab| << token occurrences), match the vocabulary,
  then broadcast-semi-join doc ids back.
- Percolation: the pair listings run ONE exploded term join on the
  JVM (``_term_join``); the bounded counts / per-doc top-k forms, for
  term-set and mixed-DSL rules alike, run one compile
  (``_compile_rules``), one Arrow kernel (``_percolate_kernel``, also
  run per micro-batch by streaming DSL percolation) and one
  collect-or-chunk driver (``_percolate_bounded``).
- For repeated queries, ``build_inverted_index`` materializes
  (term, doc_id, tf) + doc-length tables partitioned by term so a query
  touches only its terms' partitions.

Multi-field: every operator takes ``text_col`` as either one column
name or a sequence of them; multiple columns are searched as ES 6.x's
``_all`` field (analyzer over the space-joined stringified fields,
reference ``BulkProcessImpl.java:112-117`` builds documents whose
fields are all strings).
"""

from __future__ import annotations

import math
import operator
from contextlib import contextmanager
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TextCols = "str | Sequence[str]"


def analyze_query(q: str, analyzer: str = "standard") -> list[str]:
    """Driver-side analysis of the query string — the SAME analyzer the
    index side uses (ES contract; registry in operators/analyzers.py)."""
    from bigdatasearchpro_spark.operators.analyzers import analyzer_query

    return analyzer_query(q, analyzer)


def all_string_cols(df: DataFrame) -> list[str]:
    """The ``_all`` field's member columns: every string column of the
    stringified document (ref BulkProcessImpl.java:112-117)."""
    return [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]


def _text_expr(text_col) -> Column:
    """One column -> itself; several -> the ``_all`` concatenation
    (space-joined, nulls as empty) so one analyzer pass covers them.
    A ready-made Column passes through — the nested-field path
    (querystring dotted paths into struct/JSON columns) arrives here
    as an expression, not a name."""
    if isinstance(text_col, Column):
        return text_col
    if isinstance(text_col, str):
        return F.col(text_col)
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in text_col]
    if not cols:
        raise ValueError("text_col must name at least one column")
    return F.concat_ws(" ", *cols)


def tokens_expr(text_col, analyzer: str = "standard") -> Column:
    """Analyzer token array as a pure expression (usable inside a
    narrow projection/filter — no explode).  ``analyzer`` picks from
    the registry in operators/analyzers.py (standard / whitespace /
    english); the default is bit-identical to the pre-analyzer path."""
    from bigdatasearchpro_spark.operators.analyzers import analyzer_tokens

    return analyzer_tokens(_text_expr(text_col), analyzer)


def tokenize(
    df: DataFrame,
    text_col: TextCols = "text",
    out: str = "tokens",
    analyzer: str = "standard",
) -> DataFrame:
    """Analyzer tokenization as a narrow projection."""
    return df.withColumn(out, tokens_expr(text_col, analyzer))


def keyword_match(
    docs: DataFrame,
    query: str,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    mode: str = "any",
    analyzer: str = "standard",
) -> DataFrame:
    """Boolean keyword match (the SQL-oracle-able subset of L3).

    ``mode='any'`` = ES URI-search default (OR); ``'all'`` = AND.
    Returns the matching rows of ``docs`` unchanged.  ``analyzer``
    applies symmetrically to the query string and the corpus tokens
    (the ES contract — index-time and query-time analysis agree).

    Plan shape: ONE narrow filter — ``arrays_overlap`` / conjoined
    ``array_contains`` against the literal query-term array. No explode,
    no shuffle, no join; predicate runs inside whole-stage codegen and
    the scan's column pruning still applies.
    """
    if mode not in ("any", "all"):
        raise ValueError(f"unknown mode: {mode!r} (use 'any' or 'all')")
    terms = analyze_query(query, analyzer)
    if not terms:
        return docs.limit(0)
    from bigdatasearchpro_spark.sources.files import fan_out

    toks = tokens_expr(text_col, analyzer)
    if mode == "any":
        pred = F.arrays_overlap(toks, F.array(*[F.lit(t) for t in set(terms)]))
    else:
        pred = None
        for t in sorted(set(terms)):
            c = F.array_contains(toks, t)
            pred = c if pred is None else (pred & c)
    return fan_out(docs).filter(pred)


# ---------------------------------------------------------------------------
# The scorer: every scored search below is one pass of these four parts
# ---------------------------------------------------------------------------


def _per_doc(
    docs: DataFrame,
    terms: Sequence[str],
    groups: Sequence,
    *,
    id_col: str,
    analyzer: str = "standard",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """The single-scan scoring projection: ``(id, extra_cols...,
    dl_j, tf_{j,0}..tf_{j,k-1})`` for every field group ``j`` — document
    length and per-query-term frequencies computed with array
    expressions (tokenize once per row and group, count with
    ``F.filter`` + ``size``), never exploding. A group is anything
    :func:`tokens_expr` takes: one column, an ``_all`` column list, or a
    Column. Output is a few ints per document; persisting it is what
    makes scored search one corpus scan regardless of field count."""
    from bigdatasearchpro_spark.sources.files import fan_out

    def _eq(term):  # single-arg lambda: a 2-arg one would get (elem, idx)
        return lambda x: x == F.lit(term)

    keep = [F.col(id_col), *[F.col(c) for c in extra_cols]]
    toked = fan_out(docs).select(
        *keep,
        *[tokens_expr(g, analyzer).alias(f"__toks_{j}") for j, g in enumerate(groups)],
    )
    proj = list(keep)
    for j in range(len(groups)):
        proj.append(F.size(f"__toks_{j}").cast("double").alias(f"dl_{j}"))
        proj.extend(
            F.size(F.filter(f"__toks_{j}", _eq(t))).alias(f"tf_{j}_{i}")
            for i, t in enumerate(terms)
        )
    return toked.select(*proj)


def _corpus_stats(per_doc: DataFrame, n_groups: int, n_terms: int):
    """The corpus constants, one aggregate over the projection: ``n``,
    per group ``avgdl_j``, and per (group, term) ``df_{j,i}`` — the
    number of documents with ``tf > 0``."""
    return per_doc.agg(
        F.count("*").alias("n"),
        *[F.avg(f"dl_{j}").alias(f"avgdl_{j}") for j in range(n_groups)],
        *[
            F.count(F.when(F.col(f"tf_{j}_{i}") > 0, 1)).alias(f"df_{j}_{i}")
            for j in range(n_groups)
            for i in range(n_terms)
        ],
    ).first()


@contextmanager
def _scoring_pass(
    docs: DataFrame,
    terms: Sequence[str],
    groups: Sequence,
    *,
    id_col: str,
    analyzer: str = "standard",
    extra_cols: Sequence[str] = (),
):
    """Persist the :func:`_per_doc` projection and aggregate its
    :func:`_corpus_stats`; yields ``(per_doc, stats)``. The caller
    collects its <= k-row result inside the block (:func:`_collect`);
    the cache is released when the block exits, on error too."""
    per_doc = _per_doc(
        docs, terms, groups, id_col=id_col, analyzer=analyzer,
        extra_cols=extra_cols,
    )
    per_doc.persist()
    try:
        yield per_doc, _corpus_stats(per_doc, len(groups), len(terms))
    finally:
        per_doc.unpersist()


def _collect(df: DataFrame) -> DataFrame:
    """Materialize a small result (a top-k, sort or scroll page) as a
    local relation; inside a :func:`_scoring_pass` block, call it while
    the block's cache is still held.

    The rows stay in the JVM: they are collected to the driver there
    and wrapped as a ``LocalRelation``, so no Python worker starts and
    the returned frame plans as a ``LocalTableScan``. Collecting it, or
    a projection, filter or limit of it, runs no Spark job. A round
    trip through Python (``createDataFrame(df.collect(), schema)``)
    would pickle the rows out and back into a Python RDD, and the
    consumer's collect would run a Python-worker job.
    """
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    spark, jdf = df.sparkSession, df._jdf
    local = spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema())
    return ClassicDataFrame(local, spark)


def _term_parts(stats, j: int, i: int, *, scoring: str, k1: float, b: float):
    """``(idf, num, den)`` of query term ``i`` in field group ``j``: the
    term contributes ``idf * num / den`` (``idf * num`` when ``den`` is
    None), with ``num / den`` the tf-norm. None when the term cannot
    score — no document has it, or the field is empty everywhere.

    ``scoring='tfidf'``: idf = ln(N / df), tf-norm = tf.
    ``scoring='bm25'`` : Robertson/ES-style
        idf     = ln(1 + (N - df + 0.5) / (df + 0.5))
        tf-norm = tf*(k1+1) / (tf + k1*(1 - b + b*len/avglen))"""
    n_docs = float(stats["n"])
    avgdl = float(stats[f"avgdl_{j}"] or 0.0)
    dfi = float(stats[f"df_{j}_{i}"])
    if dfi == 0 or avgdl == 0:
        return None
    tf = F.col(f"tf_{j}_{i}").cast("double")
    if scoring == "tfidf":
        return math.log(n_docs / dfi), tf, None
    idf = math.log(1.0 + (n_docs - dfi + 0.5) / (dfi + 0.5))
    dl_norm = 1.0 - b + b * F.col(f"dl_{j}") / F.lit(avgdl)
    return idf, tf * (k1 + 1.0), tf + F.lit(k1) * dl_norm


def _score(
    stats,
    n_terms: int,
    *,
    scoring: str = "bm25",
    k1: float = 1.2,
    b: float = 0.75,
    boosts: Sequence[float] = (1.0,),
    term_weights: "Sequence[float] | None" = None,
    combine: str = "most_fields",
    tie_breaker: float = 0.0,
) -> "Column | None":
    """The raw (unrounded) score Column over the projection, or None
    when no query term occurs. Corpus constants fold in as literals, so
    this is a narrow codegen'd expression. Each field group is its own
    corpus (own avgdl and df, as ES scores per field); a group's score
    sums ``boost * term_weight * idf * tf_norm`` over the terms it
    contains (0 where tf = 0). Groups combine by ``most_fields`` (sum)
    or ``best_fields`` (max, plus ``tie_breaker`` times the others —
    ES dis_max)."""
    if term_weights is not None and len(term_weights) != n_terms:
        raise ValueError("term_weights must parallel the analyzed terms")
    field_scores = []
    for j, boost in enumerate(boosts):
        contribs = []
        for i in range(n_terms):
            parts = _term_parts(stats, j, i, scoring=scoring, k1=k1, b=b)
            if parts is None:
                continue
            idf, num, den = parts
            w = 1.0 if term_weights is None else float(term_weights[i])
            c = F.lit(boost * w * idf) * num
            c = c if den is None else c / den
            contribs.append(
                F.when(F.col(f"tf_{j}_{i}") > 0, c).otherwise(F.lit(0.0))
            )
        if contribs:
            field_scores.append(sum(contribs[1:], contribs[0]))
    if not field_scores:
        return None
    total = sum(field_scores[1:], field_scores[0])
    if combine == "most_fields":
        return total
    best = F.greatest(*field_scores) if len(field_scores) > 1 else total
    if tie_breaker:
        best = best + F.lit(float(tie_breaker)) * (total - best)
    return best


def _hits(
    per_doc: DataFrame,
    stats,
    n_terms: int,
    *,
    id_col: str,
    round_to: int,
    cols: Sequence[str] = (),
    factor: "Column | None" = None,
    keep_zero_hits: bool = False,
    boosts: Sequence[float] = (1.0,),
    **score_kw,
) -> DataFrame:
    """``(id, cols..., score)`` for every document the query hits,
    unsorted; ``score`` is :func:`_score` (times ``factor``) rounded to
    ``round_to``. ``keep_zero_hits``: the input is already a filtered
    match set (a query-string result), so documents matching only
    non-scoring clauses (wildcard/range) stay at score 0 instead of
    vanishing."""
    out = [F.col(id_col), *[F.col(c) for c in cols]]
    score = _score(stats, n_terms, boosts=boosts, **score_kw)
    if score is None:
        rows = per_doc if keep_zero_hits else per_doc.limit(0)
        return rows.select(*out, F.lit(0.0).alias("score"))
    if factor is not None:
        score = score * factor
    if not keep_zero_hits:
        per_doc = per_doc.filter(reduce(operator.or_, [
            F.col(f"tf_{j}_{i}") > 0
            for j in range(len(boosts))
            for i in range(n_terms)
        ]))
    return per_doc.select(*out, F.round(score, round_to).alias("score"))


def _top(
    scored: DataFrame, k: int, id_col: str, rank_from: "int | None" = None
) -> DataFrame:
    """The top-k page: (score desc, id asc) — a TakeOrdered, never a
    global sort. ``rank_from`` adds the 1-based ``rank`` and keeps the
    hits ranked after it (an ES ``from``): the rank is a ``row_number``
    over the TakeOrdered's output, which is one ordered partition, so
    it needs no exchange or sort and runs in the top-k job itself."""
    order = [F.desc("score"), F.asc(id_col)]
    page = scored.orderBy(*order).limit(k)
    if rank_from is None:
        return page
    from pyspark.sql.window import Window

    rank = F.row_number().over(Window.orderBy(*order))
    return page.withColumn("rank", rank).filter(F.col("rank") > rank_from)


def _ranked_page(
    docs: DataFrame,
    terms: Sequence[str],
    groups: Sequence,
    k: int,
    *,
    id_col: str,
    analyzer: str = "standard",
    extra_cols: Sequence[str] = (),
    after: "tuple[float, object] | None" = None,
    rank_from: "int | None" = None,
    **hits_kw,
) -> DataFrame:
    """One scored top-k, materialized: one :func:`_scoring_pass`, the
    :func:`_hits` past the ``after`` keyset cursor, and the
    :func:`_top` page (ranked when ``rank_from`` is given) collected by
    :func:`_collect` before the cache is released."""
    with _scoring_pass(
        docs, terms, groups, id_col=id_col, analyzer=analyzer,
        extra_cols=extra_cols,
    ) as (per_doc, stats):
        scored = _hits(per_doc, stats, len(terms), id_col=id_col, **hits_kw)
        if after is not None:
            s, i = after
            # keyset on the (score desc, id asc) total order: strictly
            # after the cursor. Map-side filter — the heap stays k-sized
            # at any page depth (the ES search_after rationale).
            scored = scored.filter(
                (F.col("score") < F.lit(float(s)))
                | ((F.col("score") == F.lit(float(s))) & (F.col(id_col) > F.lit(i)))
            )
        return _collect(_top(scored, k, id_col, rank_from))


def search_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    scoring: str = "bm25",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
    term_weights: "Sequence[float] | None" = None,
    keep_zero_hits: bool = False,
    after: "tuple[float, object] | None" = None,
    analyzer: str = "standard",
) -> DataFrame:
    """Scored top-k keyword search — the reference's end-user query path
    (T1: top-10 by ``_score`` desc) run natively.

    ``after=(score, id)`` is ES ``search_after`` keyset pagination: only
    hits strictly after that ranking position — ``score < s OR
    (score = s AND id > i)`` on the (score desc, id asc) total order —
    enter the top-k. Unlike ``from_+size`` offset paging, page depth
    never grows the TakeOrdered heap: page 1000 costs the same k-row
    heap as page 1 because the keyset predicate drops earlier hits
    MAP-SIDE on the scored projection. (Scores are rounded to
    ``round_to`` before comparison on both the stored and query side,
    so the score-equality arm is exact.)

    ``term_weights`` (parallel to the analyzed query terms) multiplies
    each term's score contribution — the query-string ``term^boost``
    surface. Default: all 1.0. ``scoring`` is ``'bm25'`` or ``'tfidf'``
    (formulas at :func:`_term_parts`).

    Deterministic: score rounded to ``round_to`` decimals and ties broken
    by ``id_col`` asc, so the result is oracle-comparable.

    Single-scan: the corpus text is read ONCE into the cached integer
    projection (:func:`_scoring_pass`); the (N, avgdl, df_t) stats
    aggregate and the top-k job both read the cache. The result (k rows)
    is materialized so the cache can be released deterministically.
    """
    terms = analyze_query(query, analyzer)
    if not terms:
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    if scoring not in ("tfidf", "bm25"):
        raise ValueError(f"unknown scoring: {scoring}")
    return _ranked_page(
        docs, terms, [text_col], k, id_col=id_col, analyzer=analyzer,
        after=after, round_to=round_to, keep_zero_hits=keep_zero_hits,
        scoring=scoring, k1=k1, b=b, term_weights=term_weights,
    )


def explain_score(
    docs: DataFrame,
    query: str,
    doc_id,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    scoring: str = "bm25",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
    analyzer: str = "standard",
    keep_nonmatching: bool = False,
) -> DataFrame:
    """ES ``_explain`` (``GET /{index}/_explain/{id}``): the per-term
    score breakdown for ONE document against a query — the only
    commonly-hit ES debug endpoint the ring lacked (r8 verdict ask #3;
    the reference's ``?q=`` surface, indexView.html:13-19, is exactly
    what this debugs).

    Returns one row per ANALYZED QUERY TERM OCCURRENCE that matches
    the document (ES's explanation tree lists non-matching terms only
    as "no matching term" leaves — omitted unless
    ``keep_nonmatching``, which emits them with zero contribution; a
    repeated query term yields one row per occurrence, exactly as
    :func:`search_topk` sums it):

    ``(id, term, tf, df, idf, tf_norm, contribution)``

    with ``contribution = idf * tf_norm`` (the ES 6.x / Lucene BM25
    decomposition, (k1+1) folded into tf_norm), each rounded to
    ``round_to``.  The invariant tying this to the ranking:
    ``sum(contribution)`` equals the document's ``search_topk`` score up
    to per-part rounding (search rounds the SUM once; explain rounds
    each part).

    An empty result means the document does not exist OR matches no
    term (``keep_nonmatching`` distinguishes the two: an existing
    document always yields one row per term).

    Plan shape: the same :func:`_scoring_pass` as :func:`search_topk`
    — one corpus scan, one stats aggregate — and the target document
    is ONE filtered row of the cached projection, on which the
    scorer's own per-term tf-norm expressions (:func:`_term_parts`)
    are evaluated (a per-document debug endpoint is plan-bounded by
    construction; ES likewise explains one doc on one shard)."""
    from pyspark.sql import types as T

    if scoring not in ("tfidf", "bm25"):
        raise ValueError(f"unknown scoring: {scoring}")
    spark = docs.sparkSession
    terms = analyze_query(query, analyzer)
    schema = T.StructType([
        docs.schema[id_col],
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.LongType()),
        T.StructField("df", T.LongType()),
        T.StructField("idf", T.DoubleType()),
        T.StructField("tf_norm", T.DoubleType()),
        T.StructField("contribution", T.DoubleType()),
    ])
    if not terms:
        return spark.createDataFrame([], schema)
    with _scoring_pass(
        docs, terms, [text_col], id_col=id_col, analyzer=analyzer
    ) as (per_doc, stats):
        parts = [
            _term_parts(stats, 0, i, scoring=scoring, k1=k1, b=b)
            for i in range(len(terms))
        ]
        cols = [F.col(id_col)]
        for i, p in enumerate(parts):
            cols.append(F.col(f"tf_0_{i}"))
            if p is not None:
                _, num, den = p
                norm = num if den is None else num / den
                cols.append(norm.alias(f"tf_norm_{i}"))
        row = per_doc.filter(F.col(id_col) == F.lit(doc_id)).select(*cols).first()
    out = []
    if row is not None:
        for i, t in enumerate(terms):
            tf, dfi = int(row[f"tf_0_{i}"]), int(stats[f"df_0_{i}"])
            if tf == 0 or parts[i] is None:
                if keep_nonmatching:
                    out.append((row[id_col], t, tf, dfi, 0.0, 0.0, 0.0))
                continue
            idf, tf_norm = parts[i][0], row[f"tf_norm_{i}"]
            out.append((
                row[id_col], t, tf, dfi,
                round(idf, round_to), round(tf_norm, round_to),
                round(idf * tf_norm, round_to),
            ))
    return spark.createDataFrame(out, schema)


def term_vectors(
    docs: DataFrame,
    doc_id,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    analyzer: str = "standard",
    term_statistics: bool = True,
) -> DataFrame:
    """ES ``_termvectors`` (``GET /{index}/_termvectors/{id}``): the
    analyzed term stream of ONE document — per term its in-doc
    frequency and 0-based positions, plus (with ``term_statistics``,
    like ES) the corpus-wide doc frequency and total term frequency.
    The debug endpoint behind MLT/significant-terms tuning.

    Output: ``(id, term, tf, positions, df, ttf)`` — one row per
    distinct term of the document, positions ascending.

    Plan shape: the target doc is ONE filtered row -> posexplode ->
    tiny hash agg (doc-length-bounded).  Corpus statistics are one
    exploded scan FILTERED MAP-SIDE to the target's terms (broadcast
    semi-join of a doc-length-bounded term set) -> one hash agg on
    term — never a corpus-wide term dictionary."""
    spark = docs.sparkSession
    toks = tokens_expr(text_col, analyzer)
    target = docs.filter(F.col(id_col) == F.lit(doc_id)).select(
        F.col(id_col), toks.alias("__toks")
    )
    per_term = (
        target.select(F.col(id_col), F.posexplode("__toks"))
        .groupBy(id_col, F.col("col").alias("term"))
        .agg(
            F.count("*").cast("bigint").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos").cast("bigint")))
            .alias("positions"),
        )
    )
    if not term_statistics:
        return per_term.select(id_col, "term", "tf", "positions")
    ex = docs.select(F.col(id_col).alias("__d"),
                     F.explode(toks).alias("term")).join(
        F.broadcast(per_term.select("term")), "term", "left_semi"
    )
    # ONE exploded scan, two-level agg (partial map-side combine on
    # both): per-(term, doc) tf, then ttf = sum(tf) / df = doc count
    stats = (
        ex.groupBy("term", "__d")
        .agg(F.count("*").alias("__tf"))
        .groupBy("term")
        .agg(F.sum("__tf").cast("bigint").alias("ttf"),
             F.count("*").cast("bigint").alias("df"))
    )
    return (
        per_term.join(F.broadcast(stats), "term")
        .select(id_col, "term", "tf", "positions", "df", "ttf")
    )


def search_paged(
    docs: DataFrame,
    query: str,
    *,
    size: int = 10,
    from_: int = 0,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    scoring: str = "bm25",
    highlight: bool = True,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    term_weights: "Sequence[float] | None" = None,
    keep_zero_hits: bool = False,
    analyzer: str = "standard",
) -> DataFrame:
    """ES-style result page: hits ``from_ .. from_+size`` of the scored
    ranking, each with its rank and (optionally) a highlighted text
    fragment (query terms wrapped in ``pre_tag``/``post_tag``).

    A ``text_col`` list may carry per-field boosts (``["title^3",
    "text"]``, :func:`parse_boosted_fields`): then the ranking is
    :func:`search_topk_multifield`'s (each field its own BM25 corpus,
    combined best-fields), otherwise :func:`search_topk`'s over the
    ``_all`` concatenation. Either runs with ``k = from_ + size`` (top-k
    never global-sorts), and the ``rank`` is computed inside that top-k
    job (:func:`_top`), so an unhighlighted page costs the search's
    jobs and no more: the page comes back as a local relation
    (:func:`_collect`) whose collect runs no job. A highlighted page
    adds a broadcast join of <= from_+size ids back to the corpus for
    the highlight source text.
    """
    if from_ < 0 or size <= 0:
        raise ValueError("from_ must be >= 0 and size > 0")
    if scoring not in ("tfidf", "bm25"):
        raise ValueError(f"unknown scoring: {scoring}")
    specs = (
        None if isinstance(text_col, (str, Column))
        else parse_boosted_fields(text_col)
    )
    if specs is not None:
        text_col = [n for n, _ in specs]
    if specs and any(w != 1.0 for _, w in specs):
        if scoring != "bm25":
            raise ValueError("per-field boosts score with bm25 only")
        # search_topk_multifield's ranking: each field its own corpus
        groups = [[n] for n in text_col]
        how = dict(boosts=[w for _, w in specs], combine="best_fields")
    else:
        groups, how = [text_col], dict(scoring=scoring)
    terms = analyze_query(query, analyzer)
    if not terms:
        ranked = docs.select(
            F.col(id_col), F.lit(0.0).alias("score"), F.lit(0).alias("rank")
        ).limit(0)
    else:
        ranked = _ranked_page(
            docs, terms, groups, from_ + size, id_col=id_col,
            analyzer=analyzer, rank_from=from_, round_to=4,
            keep_zero_hits=keep_zero_hits, term_weights=term_weights, **how,
        )
    if not highlight:
        return ranked
    src = _text_expr(text_col).alias("__src")
    from bigdatasearchpro_spark.operators.analyzers import highlight_alternates

    # stemming analyzers produce stems ('tabl') that never \b-match the
    # surface text; highlight_alternates widens them to prefix matches
    # (?U) = Java UNICODE_CHARACTER_CLASS: without it \w/\b are
    # ASCII-only and a cyrillic stem pattern can never match
    pattern = "(?iU)\\b(" + "|".join(highlight_alternates(terms, analyzer)) + ")\\b"
    lit_repl = pre_tag + "$1" + post_tag
    hi = (
        docs.select(F.col(id_col), src)
        .join(F.broadcast(ranked.select(id_col)), id_col, "left_semi")
        .select(
            F.col(id_col),
            F.regexp_replace(F.col("__src"), pattern, lit_repl).alias("highlight"),
        )
    )
    return ranked.join(F.broadcast(hi), id_col, "left").select(
        id_col, "score", "rank", "highlight"
    )


def parse_boosted_fields(specs: Sequence[str]) -> list[tuple[str, float]]:
    """ES multi-field boost syntax: ``["title^3", "text"]`` ->
    ``[("title", 3.0), ("text", 1.0)]`` (public ES 6.x ``query_string``
    ``fields`` semantics, the surface the reference delegates at
    ``indexView.html:13-19``)."""
    out: list[tuple[str, float]] = []
    for s in specs:
        name, sep, w = s.partition("^")
        if not name or (sep and not w):
            raise ValueError(f"malformed boosted field spec: {s!r} (use name[^N])")
        try:
            weight = float(w) if sep else 1.0
        except ValueError:
            raise ValueError(f"malformed boost in field spec: {s!r}") from None
        if weight <= 0:
            raise ValueError(f"field boost must be > 0: {s!r}")
        out.append((name, weight))
    return out


def search_topk_multifield(
    docs: DataFrame,
    query: str,
    fields: Sequence[str],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    combine: str = "best_fields",
    tie_breaker: float = 0.0,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
    keep_zero_hits: bool = False,
    term_weights: "Sequence[float] | None" = None,
    analyzer: str = "standard",
) -> DataFrame:
    """Per-field-boosted multi-field BM25 top-k — ES 6.x
    ``query_string`` with ``fields=["title^3", "text"]``.

    Each field is scored as its OWN BM25 corpus (per-field document
    length, avgdl and df — exactly how ES scores per field), the field
    score is multiplied by its ``^boost``, and the per-field scores
    combine per document:

    - ``combine='best_fields'`` (ES default ``type``): the MAX weighted
      field score — dis_max; a non-zero ``tie_breaker`` t adds the ES
      dis_max tie credit ``best + t * (sum_others)`` (evaluated as
      ``best + t * (sum - best)``, the public formula), so documents
      matching in SEVERAL fields outrank single-field ties;
    - ``combine='most_fields'``: the SUM of weighted field scores.

    Single-scan like :func:`search_topk` — the same scorer with one
    field group per field: one pass tokenizes every field into the
    per-doc integer projection (dl_j, tf_{j,i}), which is persisted and
    reread by the stats aggregate and the top-k — the corpus text is
    scanned once regardless of field count. A NULL field scores 0. Ties
    broken by ``id_col`` asc after ``round_to`` rounding
    (oracle-comparable).
    """
    if combine not in ("best_fields", "most_fields"):
        raise ValueError(f"unknown combine: {combine!r}")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    specs = parse_boosted_fields(fields)
    terms = analyze_query(query, analyzer)
    if not terms:
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    # each field as a 1-element list: the _text_expr list path wraps the
    # column in coalesce(, ''), so a NULL field scores 0 instead of
    # poisoning dl/tf with NULLs
    return _ranked_page(
        docs, terms, [[n] for n, _ in specs], k, id_col=id_col,
        analyzer=analyzer, round_to=round_to, keep_zero_hits=keep_zero_hits,
        boosts=[w for _, w in specs], k1=k1, b=b, term_weights=term_weights,
        combine=combine, tie_breaker=tie_breaker,
    )


def build_inverted_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> tuple[DataFrame, DataFrame]:
    """Materializable inverted index: (term, doc_id, tf) postings and a
    (doc_id, dl) doc-length table.

    Index-once/query-many is the reference's whole product shape (bulk
    load then search, ``BulkProcessImpl.java:82-157``); writing the
    postings partitioned/bucketed by ``term`` means a query scans only
    its terms' buckets at 100 TB.
    """
    toks = tokenize(docs, text_col)
    postings = (
        toks.select(F.col(id_col), F.explode("tokens").alias("term"))
        .groupBy("term", id_col)
        .agg(F.count("*").alias("tf"))
    )
    doclen = toks.select(F.col(id_col), F.size("tokens").cast("double").alias("dl"))
    return postings, doclen


def corpus_stats(doclen: DataFrame) -> tuple[int, float]:
    """(N, avgdl) — the two corpus constants BM25 needs; persisted next
    to the index at build time so queries never rescan the corpus."""
    row = doclen.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).first()
    return int(row["n"]), float(row["avgdl"])


def search_topk_indexed(
    postings: DataFrame,
    doclen: DataFrame,
    query: str,
    k: int = 10,
    *,
    n_docs: int,
    avgdl: float,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
) -> DataFrame:
    """BM25 top-k over a *materialized* inverted index — the
    index-once/query-many path (the reference's product shape: bulk
    load, then serve queries, ``BulkProcessImpl.java:82-157``).

    Unlike :func:`search_topk`, no tokenization runs at query time: the
    plan is a filter on ``term`` (pruned to the query terms' buckets
    when the postings table is bucketed by term), a broadcast of the
    per-term document frequencies, and one hash-agg per doc. Scores are
    bit-identical to the direct path (same formula, same rounding).
    """
    terms = analyze_query(query)
    if not terms:
        return postings.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)

    tf = postings.filter(F.col("term").isin(terms))
    df_stats = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    scored = (
        tf.join(F.broadcast(df_stats), "term")
        .join(doclen, id_col)
        .withColumn(
            "__s",
            idf
            * (F.col("tf") * (F.lit(k1) + 1.0))
            / (F.col("tf") + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl))),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("__s"), round_to).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def keyword_match_indexed(
    postings: DataFrame,
    query: str,
    *,
    id_col: str = "doc_id",
    mode: str = "any",
) -> DataFrame:
    """Boolean keyword match answered from the materialized inverted
    index: one filter on ``term`` (bucket-pruned when the postings
    table is bucketed by term) + one distinct-count per doc. Returns
    matching doc ids; semantics identical to :func:`keyword_match`
    (OR for ``mode='any'``, AND for ``'all'``)."""
    if mode not in ("any", "all"):
        raise ValueError(f"unknown mode: {mode!r} (use 'any' or 'all')")
    terms = analyze_query(query)
    if not terms:
        return postings.select(id_col).limit(0)
    hits = (
        postings.filter(F.col("term").isin(list(terms)))
        .groupBy(id_col)
        .agg(F.countDistinct("term").alias("__nterms"))
    )
    if mode == "all":
        hits = hits.filter(F.col("__nterms") == len(set(terms)))
    return hits.select(id_col)


def phrase_expr(text_col, terms: Sequence[str], analyzer: str = "standard") -> Column:
    """Per-row predicate: the analyzer tokens contain ``terms``
    CONSECUTIVELY, in order — via token-boundary containment on the
    space-joined token string (exact: tokens contain no spaces)."""
    joined = F.concat(
        F.lit(" "), F.array_join(tokens_expr(text_col, analyzer), " "), F.lit(" ")
    )
    return joined.contains(" " + " ".join(terms) + " ")


def proximity_expr(
    text_col, terms: Sequence[str], slop: int, analyzer: str = "standard"
) -> Column:
    """Per-row predicate for a sloppy phrase (ES ``"a b"~N``): the
    analyzer tokens contain ``terms`` IN ORDER with at most ``slop``
    extra positions between the first and last match
    (``last - first - (k-1) <= slop``; slop=0 == exact phrase).

    Pure array expressions — per-term position arrays via
    ``transform`` + ``filter`` over the row's token array, then a
    nested ``exists`` chain (one level per term, each bounded by the
    previous match's position). No explode, no join, no shuffle; the
    position arrays are tf-sized so the nesting is cheap. This is the
    ordered-window interpretation of slop (ES also admits reordering
    at transposition cost; a reordered pair needs slop >= 2 there —
    documented deviation, the ordered form is what the filter surface
    guarantees).
    """
    if not terms:
        return F.lit(False)
    if slop < 0:
        raise ValueError("slop must be >= 0")
    if len(terms) == 1:
        return F.array_contains(tokens_expr(text_col, analyzer), terms[0])
    toks = tokens_expr(text_col, analyzer)

    def positions(term: str) -> Column:
        # index of every occurrence of `term` in the token array
        return F.filter(
            F.transform(toks, lambda t, i: F.when(t == F.lit(term), i).otherwise(-1)),
            lambda x: x >= 0,
        )

    k = len(terms)

    def chain(i: int, prev_pos: Column, first_pos: Column) -> Column:
        # exists p in positions(terms[i]): p > prev AND (if last) window fits
        if i == k - 1:
            return F.exists(
                positions(terms[i]),
                lambda p: (p > prev_pos) & (p - first_pos <= F.lit(k - 1 + slop)),
            )
        return F.exists(
            positions(terms[i]),
            lambda p: (p > prev_pos)
            & (p - first_pos <= F.lit(k - 1 + slop))
            & chain(i + 1, p, first_pos),
        )

    return F.exists(positions(terms[0]), lambda p0: chain(1, p0, p0))


def regexp_match(
    docs: DataFrame,
    pattern: str,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """ES ``regexp`` query shape: documents with at least one analyzer
    token whose ENTIRE text matches ``pattern`` (ES anchors regexp
    queries to the whole term — ``sp.*`` matches the token ``spark``,
    never a substring of a longer token).  Returns matching doc ids
    plus ``n_regex_tokens``, the number of token occurrences that
    matched (the deterministic ranking surrogate for ES's
    constant-score regexp).

    This is the SCAN-TIME plan shape — ONE narrow projection over the
    per-row token array (``size(filter(tokens, rlike))``), no explode,
    no shuffle, inside whole-stage codegen; the regex runs once per
    token occurrence.  The complementary :func:`regex_match` is the
    VOCABULARY-FIRST shape (regex once per DISTINCT term, semi-join
    ids back): it wins when occurrences >> vocabulary (natural
    corpora with repeated tokens) or when a term index already
    exists, but returns membership only — this form also yields the
    per-document matched-occurrence count in the same pass.

    Stick to the regex subset common to Java (Spark) and RE2-ish
    engines: literals, classes, alternation, quantifiers — no
    backreferences or lookaround.
    """
    anchored = f"^(?:{pattern})$"
    n = F.size(
        F.filter(tokens_expr(text_col), lambda t: t.rlike(anchored))
    ).alias("n_regex_tokens")
    from bigdatasearchpro_spark.sources.files import fan_out

    return (
        fan_out(docs)
        .select(id_col, n)
        .filter(F.col("n_regex_tokens") > 0)
    )


def fuzzy_vocab_terms(
    docs: DataFrame,
    term: str,
    *,
    max_edits: int = 2,
    text_col: TextCols = "text",
    max_expansions: int = 1024,
) -> list[str]:
    """The distinct corpus tokens within ``max_edits`` Levenshtein
    distance of ``term`` — the vocabulary-expansion step of a fuzzy
    query, reusable by any caller that needs the matched variants as
    literals (e.g. the query-string compiler folds them into one
    ``arrays_overlap`` so the fuzzy clause stays a narrow predicate).

    The distinct-vocabulary aggregate is the same map-side-partial
    shape as :func:`fuzzy_match`; only the matched variants (bounded
    by ``max_expansions``, nearest-first like ES's expansion cap) are
    collected."""
    t = term.lower()
    d = F.levenshtein(F.col("term"), F.lit(t), max_edits)
    from bigdatasearchpro_spark.sources.files import fan_out

    vocab = (
        tokenize(fan_out(docs), text_col)
        .select(F.explode("tokens").alias("term"))
        .distinct()
        .withColumn("__d", d)
        .filter((F.col("__d") >= 0) & (F.col("__d") <= max_edits))
        .orderBy(F.asc("__d"), F.asc("term"))
        .limit(max_expansions)
    )
    return [r["term"] for r in vocab.collect()]


def phrase_match(
    docs: DataFrame,
    phrase: str,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """ES ``match_phrase`` semantics: documents containing the phrase's
    analyzer tokens CONSECUTIVELY, in order. Returns matching doc ids.

    Plan shape: ONE narrow filter — tokenize, space-join, and check
    token-boundary containment per row. No explode, no position joins,
    no shuffle (the former k-1 self-join formulation is strictly worse:
    same tokenize cost plus k-1 exchanges). The indexed form at scale is
    a positional-postings lookup; the narrow form is the scan path.
    """
    terms = analyze_query(phrase)
    if not terms:
        return docs.select(id_col).limit(0)
    from bigdatasearchpro_spark.sources.files import fan_out

    return fan_out(docs).filter(phrase_expr(text_col, terms)).select(id_col)


def prefix_match(
    docs: DataFrame,
    prefix: str,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """ES ``prefix``/trailing-wildcard query shape: documents with any
    analyzer token starting with ``prefix`` (lowercased). One narrow
    ``exists`` filter — no explode, no shuffle.

    Index note: hash-bucketed postings can't prune a prefix — the
    indexed form wants the postings SORTED by term (write_bucketed's
    sortBy) so the scan range-skips to the prefix run.
    """
    p = prefix.lower()
    if not p:
        return docs.select(id_col).limit(0)
    from bigdatasearchpro_spark.sources.files import fan_out

    return fan_out(docs).filter(
        F.exists(tokens_expr(text_col), lambda t: t.startswith(p))
    ).select(id_col)


def range_query(
    docs: DataFrame,
    lo: str | None,
    hi: str | None,
    *,
    include_lo: bool = True,
    include_hi: bool = True,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """ES query-string range (``field:[a TO b]`` / ``{a TO b}``) over
    analyzer terms: documents with any token lexicographically inside
    the bounds — ES's semantics for ranges over analyzed/stringified
    fields (the reference stringifies every column, so its range
    queries are term-lexicographic; README.md:819's time-window slicing
    relies on zero-padded timestamps sorting lexicographically).

    ``None`` bounds are open (ES ``*``). One narrow ``exists`` filter.
    """
    from bigdatasearchpro_spark.sources.files import fan_out

    return fan_out(docs).filter(
        range_expr(tokens_expr(text_col), lo, hi, include_lo, include_hi)
    ).select(id_col)


def range_expr(
    tokens: Column,
    lo: str | None,
    hi: str | None,
    include_lo: bool = True,
    include_hi: bool = True,
) -> Column:
    """Any of ``tokens`` lexicographically inside the (lowercased)
    bounds; ``None`` is open. Shared by :func:`range_query` and the
    query-string ``Range`` clause."""
    lo = lo.lower() if lo is not None else None
    hi = hi.lower() if hi is not None else None

    def pred(t):
        conds = []
        if lo is not None:
            conds.append(t >= lo if include_lo else t > lo)
        if hi is not None:
            conds.append(t <= hi if include_hi else t < hi)
        return reduce(operator.and_, conds) if conds else F.lit(True)

    return F.exists(tokens, pred)


def wildcard_to_like(pattern: str) -> str:
    """ES wildcard syntax -> SQL LIKE: ``*`` -> ``%``, ``?`` -> ``_``,
    with LIKE metacharacters in the literal parts escaped."""
    out = []
    for ch in pattern.lower():
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def wildcard_match(
    docs: DataFrame,
    pattern: str,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """ES ``wildcard`` query shape (mid-token wildcards: ``foo*bar``,
    ``f?o``): documents with any analyzer token matching. One narrow
    ``exists`` + LIKE filter (codegen'd; no regex engine).

    Scale note: a leading wildcard can't use a term-sorted index — ES
    documents the same caveat; the scan path here is linear either way.
    """
    like = wildcard_to_like(pattern)
    from bigdatasearchpro_spark.sources.files import fan_out

    return fan_out(docs).filter(
        F.exists(tokens_expr(text_col), lambda t: t.like(like))
    ).select(id_col)


def _match_terms_via_vocab(
    docs: DataFrame,
    vocab_pred,
    *,
    id_col: str,
    text_col: TextCols,
) -> DataFrame:
    """Vocabulary-first matching for EXPENSIVE per-term predicates:
    aggregate the exploded tokens to the distinct vocabulary (map-side
    partial distinct -> the shuffle carries ~|vocab| rows), evaluate the
    predicate once per distinct term, then broadcast-semi-join the
    (tiny) matched term set back against the token stream. ~10-100x
    fewer predicate evaluations than per-occurrence filtering."""
    from bigdatasearchpro_spark.sources.files import fan_out

    toks = tokenize(fan_out(docs), text_col).select(
        F.col(id_col), F.explode("tokens").alias("term")
    )
    vocab = toks.select("term").distinct()
    matched = vocab.filter(vocab_pred(F.col("term")))
    return (
        toks.join(F.broadcast(matched), "term", "left_semi")
        .select(id_col)
        .distinct()
    )


def fuzzy_match(
    docs: DataFrame,
    term: str,
    *,
    max_edits: int = 1,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """ES ``fuzzy`` query shape: documents containing a token within
    ``max_edits`` Levenshtein distance of ``term``.

    Vocabulary-first: Levenshtein runs once per DISTINCT term — with the
    bounded threshold form (Spark >= 3.5: ``levenshtein(l, r, k)``
    returns -1 and exits early past k) — then the matched terms
    broadcast-semi-join back to doc ids."""
    t = term.lower()

    def pred(c):
        d = F.levenshtein(c, F.lit(t), max_edits)
        return (d >= 0) & (d <= max_edits)

    return _match_terms_via_vocab(docs, pred, id_col=id_col, text_col=text_col)


def regex_match(
    docs: DataFrame,
    pattern: str,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """ES ``regexp`` query shape: documents containing a token matching
    the (full-token-anchored) pattern. Vocabulary-first: the regex
    engine runs once per distinct term, not per occurrence — the
    winning shape when occurrences >> vocabulary or a term index
    exists.  :func:`regexp_match` is the scan-time twin (narrow
    per-row predicate, no shuffle, occurrence counts)."""
    anchored = f"^(?:{pattern})$"
    return _match_terms_via_vocab(
        docs, lambda c: c.rlike(anchored), id_col=id_col, text_col=text_col
    )


def bool_query(
    docs: DataFrame,
    *,
    must: Sequence[str] = (),
    should: Sequence[str] = (),
    must_not: Sequence[str] = (),
    minimum_should_match: int = 0,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """ES ``bool`` query (filter context): must AND-matches, must_not
    excludes, should requires >= ``minimum_should_match`` distinct hits.

    ONE narrow filter per document: each clause compiles to
    ``array_contains`` predicates on the per-row token array (the
    former explode + per-doc aggregate + join-back carried a shuffle of
    every matching (doc, term) pair; this carries nothing). Re-homes the
    [ES]-delegated surface (indexView.html:13-19) natively.
    """
    must_t = sorted({t for q in must for t in analyze_query(q)})
    should_t = sorted({t for q in should for t in analyze_query(q)})
    not_t = sorted({t for q in must_not for t in analyze_query(q)})
    if not (must_t or should_t or not_t):
        return docs
    from bigdatasearchpro_spark.sources.files import fan_out

    docs = fan_out(docs)
    toks = tokens_expr(text_col)
    pred = F.lit(True)
    for t in must_t:
        pred = pred & F.array_contains(toks, t)
    for t in not_t:
        pred = pred & ~F.array_contains(toks, t)
    if should_t and minimum_should_match > 0:
        n_should = None
        for t in should_t:
            c = F.when(F.array_contains(toks, t), 1).otherwise(0)
            n_should = c if n_should is None else (n_should + c)
        pred = pred & (n_should >= minimum_should_match)
    return docs.filter(pred)


def more_like_this(
    docs: DataFrame,
    like_id,
    *,
    k: int = 10,
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    round_to: int = 4,
) -> DataFrame:
    """ES ``more_like_this`` query (``like: {_id}`` form): find the
    documents most similar to a seed document by (1) selecting the
    seed's most INTERESTING terms — term frequency ``>= min_term_freq``
    in the seed, document frequency ``>= min_doc_freq`` in the index,
    ranked by classic tf-idf ``tf * ln(N / df)`` (the ES default term
    selection), capped at ``max_query_terms`` — then (2) running those
    terms as a disjunctive BM25 query, seed excluded from the hits.

    Scale: the seed's term stats are ONE-document-sized; the df lookup
    aggregates the corpus restricted to the seed's candidate terms
    (a narrow literal-IN aggregate, map-side partial) and collects at
    most ``len(seed_terms)`` rows; the search is :func:`search_topk`
    (one corpus scan, k-row heap). Nothing corpus-sized reaches the
    driver.

    Output: ``(id, score)``, top-``k`` by score desc (id asc
    tie-break)."""
    import math

    seed = docs.filter(F.col(id_col) == F.lit(like_id))
    seed_tf = (
        seed.select(F.explode(tokens_expr(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
        .filter(F.col("tf") >= min_term_freq)
    )
    cand = {r["term"]: r["tf"] for r in seed_tf.collect()}
    if not cand:
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    from bigdatasearchpro_spark.sources.files import fan_out

    dfs = (
        fan_out(docs)
        .select(F.explode(F.array_distinct(tokens_expr(text_col))).alias("term"))
        .filter(F.col("term").isin(*cand))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n = docs.count()
    scored = []
    for r in dfs.collect():
        if r["df"] < min_doc_freq:
            continue
        tfidf = round(cand[r["term"]] * math.log(n / r["df"]), 6)
        scored.append((-tfidf, r["term"]))
    terms = [t for _, t in sorted(scored)[:max_query_terms]]
    if not terms:
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    hits = search_topk(
        docs, " ".join(terms), k + 1,
        id_col=id_col, text_col=text_col, scoring="bm25", round_to=round_to,
    )
    return (
        hits.filter(F.col(id_col) != F.lit(like_id))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def rescore_topk(
    docs: DataFrame,
    query: str,
    rescore_phrase: str,
    *,
    window_size: int = 50,
    k: int = 10,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    round_to: int = 4,
) -> DataFrame:
    """ES ``rescore``: re-rank the top ``window_size`` hits of the
    primary BM25 query with a secondary query — here a constant-score
    ``match_phrase`` (the classic precision-rescore: cheap disjunctive
    recall pass, exact-phrase bonus on the small window only)::

        total = query_weight * bm25 + rescore_weight * [phrase matches]

    Scale: the expensive phrase evaluation runs on ``window_size`` rows
    only — the window (id, score) is broadcast back onto the corpus as
    a semi-join, so the corpus is scanned but only window rows evaluate
    the phrase; the re-sort is a TakeOrdered of the window.

    Output: ``(id, score)`` top-``k`` by rescored total desc (id asc)."""
    from pyspark.sql.functions import broadcast

    window = search_topk(
        docs, query, window_size,
        id_col=id_col, text_col=text_col, scoring="bm25", round_to=round_to,
    ).withColumnRenamed("score", "__base")
    phrase_terms = analyze_query(rescore_phrase)
    bonus = (
        F.when(phrase_expr(text_col, phrase_terms), F.lit(1.0)).otherwise(F.lit(0.0))
        if phrase_terms
        else F.lit(0.0)
    )
    rescored = (
        docs.join(broadcast(window), id_col)
        .select(
            F.col(id_col),
            F.round(
                F.lit(query_weight) * F.col("__base") + F.lit(rescore_weight) * bonus,
                round_to,
            ).alias("score"),
        )
    )
    return rescored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def phrase_prefix_expr(text_col, terms: Sequence[str]) -> Column:
    """Per-row predicate for ES ``match_phrase_prefix`` (the
    search-as-you-type query): the full terms must appear CONSECUTIVELY
    in order, with the LAST term matching as a PREFIX of the token at
    the next position. One narrow expression: the exact-phrase head is
    token-boundary containment on the space-joined tokens; the prefix
    tail checks, for each position where the head ends, that the
    following token starts with the prefix. No explode, no shuffle."""
    if not terms:
        return F.lit(False)
    toks = tokens_expr(text_col)
    last = terms[-1]
    if len(terms) == 1:
        return F.exists(toks, lambda t: t.startswith(last))
    head = terms[:-1]

    def positions(term):
        # transform-over-the-array (not sequence(0, size-1): Spark's
        # sequence DESCENDS for start > stop, so an empty doc would
        # yield [0, -1] and index past the array)
        return F.filter(
            F.transform(toks, lambda t, i: F.when(t == F.lit(term), i).otherwise(-1)),
            lambda x: x >= 0,
        )

    # positions where the consecutive head run starts (try_element_at:
    # runs near the end of the token array index past it — ANSI-safe
    # NULL there, which eqNullSafe-fails the term check)
    head_arr = F.array(*[F.lit(t) for t in head])
    starts = F.filter(
        positions(head[0]),
        lambda p: F.aggregate(
            F.sequence(F.lit(1), F.lit(len(head) - 1)),
            F.lit(True),
            lambda acc, j: acc
            & F.try_element_at(toks, p + j + 1).eqNullSafe(
                F.element_at(head_arr, j + 1)
            ),
        ) if len(head) > 1 else F.lit(True),
    )
    return F.exists(
        starts,
        lambda p: F.coalesce(
            F.try_element_at(toks, p + len(head) + 1).startswith(last),
            F.lit(False),
        ),
    )


def phrase_prefix_match(
    docs: DataFrame,
    phrase: str,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """ES ``match_phrase_prefix``: documents where the query's tokens
    appear consecutively in order and the final (possibly incomplete)
    token matches as a prefix — the search-as-you-type surface behind
    the reference's live search box. Returns matching doc ids; one
    narrow filter (phrase_prefix_expr)."""
    terms = analyze_query(phrase)
    if not terms:
        return docs.select(id_col).limit(0)
    from bigdatasearchpro_spark.sources.files import fan_out

    return fan_out(docs).filter(phrase_prefix_expr(text_col, terms)).select(id_col)


def function_score_topk(
    docs: DataFrame,
    query: str,
    factor: Column,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
    analyzer: str = "standard",
) -> DataFrame:
    """ES ``function_score`` with a ``field_value_factor``-style
    multiplier: ``score = BM25(query) * factor(doc)``, ranked AFTER the
    multiplication (a high factor can promote a low-BM25 hit into the
    page — the behavior ``rescore`` cannot express). ``factor`` is any
    numeric Column over the document row (ES's field value with
    modifier/weight folded in by the caller).

    Same single-scan shape as :func:`search_topk`: the factor rides the
    cached per-doc integer projection, the raw (unrounded) BM25 sum is
    multiplied by it, and only the PRODUCT rounds to ``round_to`` —
    deterministic and oracle-comparable. Top-k is a TakeOrdered over
    the scored projection."""
    terms = analyze_query(query, analyzer)
    if not terms:
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    pre = docs.withColumn("__factor", factor.cast("double"))
    return _ranked_page(
        pre, terms, [text_col], k, id_col=id_col, analyzer=analyzer,
        extra_cols=["__factor"], round_to=round_to,
        factor=F.col("__factor"), k1=k1, b=b,
    )


def boosting_topk(
    docs: DataFrame,
    positive_query: str,
    negative_query: str,
    k: int = 10,
    *,
    negative_boost: float = 0.5,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    round_to: int = 4,
    analyzer: str = "standard",
) -> DataFrame:
    """ES ``boosting`` query: documents matching ``negative_query``
    stay in the results but their score is DEMOTED by
    ``negative_boost`` (0..1) — unlike ``must_not``, which removes
    them. Composes :func:`function_score_topk` with the demotion
    factor as the per-doc multiplier, so it inherits the single-scan
    plan and rank-after-multiplication semantics."""
    if not 0.0 <= negative_boost <= 1.0:
        raise ValueError("negative_boost must be in [0, 1]")
    neg_terms = analyze_query(negative_query, analyzer)
    if neg_terms:
        toks = tokens_expr(text_col, analyzer)
        neg_pred = F.arrays_overlap(
            toks, F.array(*[F.lit(t) for t in set(neg_terms)])
        )
        factor = F.when(neg_pred, F.lit(float(negative_boost))).otherwise(
            F.lit(1.0)
        )
    else:
        factor = F.lit(1.0)
    return function_score_topk(
        docs, positive_query, factor, k,
        id_col=id_col, text_col=text_col, round_to=round_to,
        analyzer=analyzer,
    )


def terms_lookup_filter(
    docs: DataFrame,
    field: str,
    lookup: DataFrame,
    lookup_col: str,
    *,
    analyzer: str = "standard",
    max_terms: int = 65536,
) -> DataFrame:
    """ES ``terms`` lookup: filter by a term set SOURCED FROM ANOTHER
    INDEX. ES fetches the lookup document and REWRITES to a literal
    terms query — mirrored here: the lookup side's analyzed terms are
    collected (bounded by ``max_terms``, the ES
    ``index.max_terms_count`` guard) and folded into ONE
    ``arrays_overlap`` literal, so the fact side keeps the same
    narrow single-scan filter as every other boolean query — no join,
    no shuffle, no explode."""
    terms = [
        r["__term"]
        for r in lookup.select(
            F.explode(tokens_expr(lookup_col, analyzer)).alias("__term")
        )
        .distinct()
        .limit(max_terms + 1)
        .collect()
    ]
    if len(terms) > max_terms:
        raise ValueError(
            f"terms lookup exceeds max_terms={max_terms} (the ES "
            "index.max_terms_count guard)"
        )
    if not terms:
        return docs.limit(0)
    from bigdatasearchpro_spark.sources.files import fan_out

    toks = tokens_expr(field, analyzer)
    return fan_out(docs).filter(
        F.arrays_overlap(toks, F.array(*[F.lit(t) for t in sorted(terms)]))
    )


def register_percolator_queries(
    queries: DataFrame,
    query_col: str = "query",
    id_col: str = "query_id",
    *,
    mode_col: "str | None" = None,
    analyzer: str = "standard",
) -> DataFrame:
    """ES percolator index shape: stored queries analyzed at REGISTER
    time into term arrays — ``(query_id, terms, mode)``. The supported
    subset is term queries with ``any``/``all``/minimum_should_match
    semantics (:func:`_term_threshold` — the percolator's
    bread-and-butter alerting case); richer grammars percolate through
    the mixed-DSL family or one query at a time through
    query_string_filter."""
    terms = tokens_expr(query_col, analyzer)
    mode = (
        F.coalesce(F.col(mode_col), F.lit("all"))
        if mode_col is not None
        else F.lit("all")
    )
    return queries.select(
        F.col(id_col), terms.alias("terms"), mode.alias("mode")
    ).filter(F.size("terms") > 0)


def _term_threshold(mode, n_terms: int) -> int:
    """Matched-distinct-term threshold for a percolator term clause —
    the ES ``minimum_should_match`` grammar subset shared by every
    percolate form: ``'any'`` -> 1, ``'all'`` -> the distinct term
    count, an integer string (``'2'``) -> that many (clamped to >= 1; a
    value above the term count never matches, the ES more-than-optional
    -clauses contract), a percentage (``'75%'``) -> floor(p/100 * n)
    clamped to >= 1 (ES rounds the computed value DOWN).  Malformed
    modes — including NULL — never match (returned threshold
    ``n_terms + 1``; pre-msm code treated an unknown mode as ``all``,
    so a silent typo in a rule table now fails closed instead of
    demanding every term)."""
    if mode == "any":
        return 1
    if mode == "all":
        return n_terms
    try:
        if isinstance(mode, str) and mode.endswith("%"):
            import math

            return max(1, int(math.floor(n_terms * float(mode[:-1]) / 100.0)))
        return max(1, int(mode))
    except (TypeError, ValueError):
        return n_terms + 1  # malformed: never matches


def _term_threshold_expr(mode: Column, need: Column) -> Column:
    """Column twin of :func:`_term_threshold` (the JVM-side percolate
    paths).  NULL when the mode is malformed — every call site compares
    ``matched >= threshold``, and a null comparison filters the row
    out, matching the python helper's never-matches sentinel."""
    pct = F.substring(mode, F.lit(1), F.length(mode) - F.lit(1)).try_cast(
        "double"
    )
    n_int = mode.try_cast("int")
    return (
        F.when(mode == "any", F.lit(1))
        .when(mode == "all", need)
        .when(
            mode.endswith("%"),
            F.when(
                pct.isNotNull(),
                F.greatest(
                    F.lit(1),
                    F.floor(need * pct / F.lit(100.0)).cast("int"),
                ),
            ),
        )
        .otherwise(
            F.when(n_int.isNotNull(), F.greatest(F.lit(1), n_int))
        )
    )


def percolate(
    registered: DataFrame,
    doc_text: str,
    *,
    id_col: str = "query_id",
    analyzer: str = "standard",
) -> DataFrame:
    """ES ``percolate`` query — the REVERSE search: given one document,
    which STORED queries match it? (The alerting/saved-search surface;
    ES 6.x runs each registered query against an in-memory index of
    the doc.) Here the document's analyzed tokens fold into a literal
    and the match is ONE narrow filter over the registered-queries
    table — distributed over queries, which is the side that scales
    (millions of alert subscriptions, one doc at a time).

    ``mode='all'``: every query term must appear in the doc;
    ``'any'``: at least one; an integer or percentage string is ES
    ``minimum_should_match`` (see :func:`_term_threshold`)."""
    doc_tokens = analyze_query(doc_text, analyzer)
    if not doc_tokens:
        return registered.select(id_col).limit(0)
    lit_toks = F.array(*[F.lit(t) for t in sorted(set(doc_tokens))])
    from bigdatasearchpro_spark.sources.files import fan_out

    dterms = F.array_distinct("terms")
    matched = F.size(F.array_intersect(dterms, lit_toks))
    return (
        fan_out(registered)
        .filter(matched >= _term_threshold_expr(F.col("mode"), F.size(dterms)))
        .select(id_col)
    )


def collapse_topk(
    docs: DataFrame,
    query: str,
    collapse_field: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
    analyzer: str = "standard",
    inner_hits: int = 0,
) -> DataFrame:
    """ES ``collapse``: the result page carries at most ONE hit per
    ``collapse_field`` value — the best-scoring representative (the
    dedupe-by-source/-domain result shape). Ranking: per-field winner
    by (score desc, id asc), then global top-k of winners.

    ``inner_hits > 0`` is ES's ``collapse.inner_hits``: each
    collapsed group also carries its own top-``inner_hits`` page
    (winner included) as rank-ordered ``inner_ids`` / ``inner_scores``
    arrays — the "show me the other hits from this domain" expansion,
    computed in the SAME per-key window (no second search).

    Single-scan like :func:`search_topk`: the collapse field rides the
    per-doc projection; the winner window partitions by the collapse
    key (each key sorts only its own hits — no global sort), and the
    final page is a TakeOrdered over the winners."""
    from pyspark.sql.window import Window

    terms = analyze_query(query, analyzer)
    if not terms:
        return docs.select(
            F.col(id_col), F.col(collapse_field), F.lit(0.0).alias("score")
        ).limit(0)
    with _scoring_pass(
        docs, terms, [text_col], id_col=id_col, analyzer=analyzer,
        extra_cols=[collapse_field],
    ) as (per_doc, stats):
        scored = _hits(
            per_doc, stats, len(terms), id_col=id_col, round_to=round_to,
            cols=[collapse_field], k1=k1, b=b,
        )
        w = Window.partitionBy(collapse_field).orderBy(
            F.desc("score"), F.asc(id_col)
        )
        ranked = scored.withColumn("__r", F.row_number().over(w))
        if inner_hits > 0:
            kept = ranked.filter(F.col("__r") <= inner_hits)
            hit = F.struct(
                F.col("__r"), F.col(id_col).alias("i"),
                F.col("score").alias("s"),
            )
            grouped = kept.groupBy(collapse_field).agg(
                F.min(hit).alias("__w"),
                F.array_sort(F.collect_list(hit)).alias("__h"),
            )
            page = grouped.select(
                F.col("__w.i").alias(id_col),
                collapse_field,
                F.col("__w.s").alias("score"),
                F.transform(F.col("__h"), lambda x: x["i"]).alias("inner_ids"),
                F.transform(F.col("__h"), lambda x: x["s"]).alias("inner_scores"),
            )
        else:
            page = ranked.filter(F.col("__r") == 1).select(
                id_col, collapse_field, "score"
            )
        return _collect(_top(page, k, id_col))


def percolate_many(
    registered: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    query_id_col: str = "query_id",
    analyzer: str = "standard",
    hot_term_min_df: int = 100_000,
    n_salts: int = 16,
) -> DataFrame:
    """Distributed MANY-docs x MANY-queries percolation — the alerting
    join: which stored queries match which incoming documents?
    (:func:`percolate` handles the one-document case as a narrow
    filter; this is the batch/stream form where BOTH sides can be
    large.)

    Plan: explode both sides to (id, token) / (query_id, term) —
    shuffles carry tokens, never documents — equi-join on the term,
    then one hash agg counting DISTINCT matched terms per (doc, query):
    ``mode='all'`` requires the count to reach the query's DISTINCT
    term count (``__need`` is sized on ``array_distinct(terms)`` — the
    join side is deduped too, so a stored query with a repeated token
    must not demand more matches than distinct terms exist), ``'any'``
    needs >= 1, and an integer / percentage mode string is ES
    ``minimum_should_match`` (:func:`_term_threshold`).  Both the
    candidate join and the agg are partial-aggregated map-side; no
    cross join exists anywhere.

    Skew guard: a stopword-like registered term present in (nearly)
    every document would land |docs| join rows on ONE reducer key. A
    cheap count-by-token pre-pass finds tokens with doc-frequency >=
    ``hot_term_min_df`` and the join goes through
    :func:`~bigdatasearchpro_spark.operators.skew.salted_join`, fanning
    each hot token over ``n_salts`` reducers (cold tokens join
    unsalted, pay nothing). Semantics-preserving: salting only splits
    reducer keys, the matched (doc, query) pair set is identical.
    Output: (doc_id, query_id) matches."""
    from bigdatasearchpro_spark.sources.files import fan_out

    return _term_join(
        registered, fan_out(docs), id_col=id_col, text_col=text_col,
        query_id_col=query_id_col, analyzer=analyzer,
        salt=(hot_term_min_df, n_salts),
    ).select(id_col, query_id_col)


def percolate_highlight(
    registered: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    query_id_col: str = "query_id",
    analyzer: str = "standard",
    hot_term_min_df: int = 100_000,
    n_salts: int = 16,
) -> DataFrame:
    """ES percolate HIGHLIGHT surface: for each (doc, matching stored
    query) pair, WHICH registered terms matched — the alert
    explanation a user sees next to a fired rule ("rule 17 fired on
    'error timeout'").  Same plan as :func:`percolate_many` (exploded
    token equi-join, skew-salted, map-side partial agg); the ONLY
    addition is a ``collect_set`` of the matched join tokens inside
    the SAME hash aggregate, emitted as a space-joined sorted string
    (``matched_terms``) plus the distinct-match count
    (``n_matched``) — no second scan, no extra exchange, and the
    output stays one narrow row per alert.  Mode grammar (any / all /
    minimum_should_match) identical to percolate_many."""
    from bigdatasearchpro_spark.sources.files import fan_out

    matched = F.array_join(F.sort_array(F.collect_set("__tok")), " ")
    return _term_join(
        registered, fan_out(docs), id_col=id_col, text_col=text_col,
        query_id_col=query_id_col, analyzer=analyzer,
        salt=(hot_term_min_df, n_salts), aggs=[matched.alias("matched_terms")],
    ).select(
        id_col,
        query_id_col,
        "matched_terms",
        F.col("__matched").alias("n_matched"),
    )


def _term_join(
    registered: DataFrame,
    docs: DataFrame,
    *,
    id_col: str,
    text_col: TextCols,
    query_id_col: str,
    analyzer: str,
    salt: tuple[int, int] | None = None,
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """The one exploded term join behind the percolate listings
    (:func:`percolate_many`, whose docstring describes the plan,
    :func:`percolate_highlight` and
    ``streaming.pipelines.streaming_percolate``): one hash aggregate
    counts the matched DISTINCT terms per (doc, query) as
    ``__matched`` (plus ``aggs``), and pairs below the query's
    threshold drop.  ``salt = (hot_term_min_df, n_salts)`` salts hot
    tokens; without it the query side is broadcast (no reducer key to
    skew, and a stream can take it)."""
    q = registered.select(
        F.col(query_id_col),
        F.col("mode"),
        F.size(F.array_distinct("terms")).alias("__need"),
        F.explode(F.array_distinct("terms")).alias("__tok"),
    )
    d = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(tokens_expr(text_col, analyzer))
        ).alias("__tok"),
    )
    if salt is None:
        joined = d.join(F.broadcast(q), "__tok")
    else:
        from bigdatasearchpro_spark.operators.skew import salted_join, top_keys

        hot = top_keys(d, "__tok", min_count=salt[0])
        joined = salted_join(d, q, "__tok", n_salts=salt[1], hot_keys=hot)
    hits = joined.groupBy(id_col, query_id_col, "mode", "__need").agg(
        F.count("*").alias("__matched"), *aggs
    )
    return hits.filter(
        F.col("__matched")
        >= _term_threshold_expr(F.col("mode"), F.col("__need"))
    )


def _iter_registered_chunks(rules, query_id_col, chunk_size):
    """Yield lists of registered-query Rows, ``chunk_size`` rows each,
    WITHOUT collecting the whole table to the driver: toLocalIterator
    fetches one partition at a time, so peak driver memory is
    max(partition, chunk) rows plus one 16-byte digest per DISTINCT
    (rule, query_id) — the k-pass path for registered sides too large
    to collect (the rows with their term arrays are what blow the
    driver; the digest set is ~100x smaller).

    Duplicate registrations of the same (rule, query_id) are dropped
    HERE, at chunk build, so each lands in exactly one chunk — the
    only place a duplicate can still be recognized: two chunks'
    outputs are value-identical for a same-rule duplicate but ALSO for
    two distinct rules that happen to match the same count, and only
    the former may collapse (the unchunked kernel dedupes the same way
    via its signature sets).

    ``rules`` is a :func:`_rule_table`; the rule identity is (mode,
    terms) plus every residual-clause column, so two registrations
    differing only in a range threshold or phrase stay distinct
    rules."""
    import hashlib

    buf: list = []
    seen: set[bytes] = set()
    for r in rules.toLocalIterator():
        key = repr((
            r[query_id_col], r["mode"], tuple(sorted(set(r["terms"] or ()))),
            *[r[c] for c in _MIXED_CLAUSE_COLS],
        )).encode()
        digest = hashlib.md5(key).digest()
        if digest in seen:
            continue
        seen.add(digest)
        buf.append(r)
        if len(buf) >= chunk_size:
            yield buf
            buf = []
    if buf:
        yield buf


def percolate_counts(
    registered: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    query_id_col: str = "query_id",
    analyzer: str = "standard",
    chunk_size: int | None = None,
) -> DataFrame:
    """BOUNDED percolation: per-stored-query MATCHED-DOC COUNTS —
    ``(query_id, n_matched_docs)`` for every query with >= 1 match —
    computed WITHOUT ever materializing the doc x query pair set
    (:func:`percolate_many` lists the pairs; on alert-dense corpora
    that set is quadratic by construction — the r10 sf10 run hit
    ~3.9 B pairs and overflowed disk in the count's exchanges, see
    SCALING.md "Fixture-density case 1" — so the LISTING contract
    cannot survive 100x; the COUNT contract, aggregated map-side,
    can).

    Plan: the registered side (the small side — alert-rule tables are
    1e4-1e6 rows; ES caps percolator indices the same way) is
    collected once, DEDUPED BY TERM-SET SIGNATURE (``(mode,
    sorted-distinct-terms)`` — stored alert queries repeat heavily, so
    matching runs per distinct signature, never per query), compiled
    to a token -> signature-ids inverted index and broadcast.  Each
    doc partition then streams its analyzed token arrays through ONE
    Arrow ``mapInPandas`` pass that looks up candidates in the index,
    resolves ``any``/``all`` per signature with a numpy unique/count,
    and accumulates a per-PARTITION partial count vector — the only
    thing that crosses the wire is |signatures| x |partitions| partial
    rows, then one tiny hash agg and a broadcast expansion back to
    query ids.  No shuffle ever carries a (doc, query) row, so the
    exchange volume is independent of the match density.

    Exact (not sketched): counts equal ``percolate_many`` pair counts
    per query, and the DuckDB oracle replays the naive pair join.

    ``chunk_size`` (r11 verdict ask #4): at a registered side too
    large to collect (1e8+ stored queries), pass a chunk size — the
    registered table streams through ``toLocalIterator`` in
    chunk-sized slices, each compiled/broadcast/matched independently
    (same plan, k passes over the docs), and the chunk outputs union;
    a query_id registered in several chunks dedupes to its (single,
    chunk-independent) count row.  Bit-identical to the unchunked
    output.  Residual-clause columns on ``registered`` are ignored
    (:func:`percolate_mixed_counts` evaluates them)."""
    return _percolate_bounded(
        registered.select(query_id_col, "terms", "mode"), docs, k=None,
        id_col=id_col, text_col=text_col, query_id_col=query_id_col,
        analyzer=analyzer, numeric_fields=(), chunk_size=chunk_size,
    )


def percolate_topk(
    registered: DataFrame,
    docs: DataFrame,
    *,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    query_id_col: str = "query_id",
    analyzer: str = "standard",
    chunk_size: int | None = None,
) -> DataFrame:
    """BOUNDED percolation, per-doc form: each incoming doc's TOP-K
    matched stored queries — ``(doc_id, query_id, matched_terms)``
    ranked by (matched distinct terms desc, query_id asc) — the other
    percolate contract that survives 100x (counts-per-query is
    :func:`percolate_counts`; the unbounded pair LISTING is
    :func:`percolate_many`).

    Same kernel as percolate_counts: broadcast
    signature-deduped inverted index, one Arrow ``mapInPandas`` pass —
    but emission is capped IN the kernel: matched signatures sort by
    matched-count desc, expand to query ids group-by-group (ties
    within a count group break by query id via one numpy sort of that
    group only), and at most ``k`` rows per doc ever leave the worker.
    No (doc, query) pair crosses a shuffle and the output is
    ``<= k x |docs|`` at every tier regardless of match density.
    ``mode='all'`` queries match at matched == need; ``'any'`` at
    >= 1; integer / percentage modes are ES ``minimum_should_match``
    (:func:`_term_threshold`) — all score by the per-doc matched
    distinct-term count.

    ``chunk_size`` (r11 verdict ask #4): stream the registered side in
    chunk-sized slices via ``toLocalIterator`` when it is too large to
    collect.  Each chunk runs the same capped kernel (so a chunk pass
    emits <= k rows/doc), the union re-ranks per doc under the same
    (matched desc, query_id asc) order, and the global top-k falls out
    exactly: a globally top-k query's within-chunk rank never exceeds
    its global rank.  Bit-identical to the unchunked output.
    Residual-clause columns on ``registered`` are ignored
    (:func:`percolate_mixed_topk` evaluates them)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return _percolate_bounded(
        registered.select(query_id_col, "terms", "mode"), docs, k=k,
        id_col=id_col, text_col=text_col, query_id_col=query_id_col,
        analyzer=analyzer, numeric_fields=(), chunk_size=chunk_size,
    )


def _mixed_residual_ok(numeric_map_col, doc_str_col) -> Column:
    """Residual-clause predicate for DSL percolation, evaluated on a
    row carrying the registered clauses (``range_field``/``range_op``/
    ``range_value``/``phrase``/``neg_terms``/``exists_field``/
    ``tok_prefix``) plus the doc's numeric-field map and space-guarded
    analyzed-token string.  A null clause passes; a named field absent
    from the doc map fails (ES missing-field semantics).  ``neg_terms``
    is the ES ``bool.must_not`` term list (the doc must contain NONE);
    ``exists_field`` is the ES ``exists`` query over the numeric-field
    map; ``tok_prefix`` is the ES ``prefix`` query (some analyzed token
    starts with it — the space-guard makes the substring test exactly
    token-initial); ``residual_min_match`` (r12) composes the present
    residual clauses as ES ``bool.should`` with a clause-level
    ``minimum_should_match`` instead of pure AND — null keeps the AND
    contract."""
    val = F.try_element_at(numeric_map_col, F.col("range_field"))
    rv = F.col("range_value")
    cmp = (
        F.when(F.col("range_op") == "lt", val < rv)
        .when(F.col("range_op") == "lte", val <= rv)
        .when(F.col("range_op") == "gt", val > rv)
        .when(F.col("range_op") == "gte", val >= rv)
        .otherwise(F.lit(False))
    )
    range_pass = F.coalesce(cmp, F.lit(False))
    phrase_pass = F.contains(
        doc_str_col, F.concat(F.lit(" "), F.col("phrase"), F.lit(" "))
    )
    # null ELEMENTS inside the list are ignored (not null-propagated:
    # an exists over a null concat would null the whole predicate and
    # silently drop the row) — same as the kernel's compile-time strip
    neg_pass = ~F.exists(
        F.filter(F.col("neg_terms"), lambda t: t.isNotNull()),
        lambda t: F.contains(doc_str_col, F.concat(F.lit(" "), t, F.lit(" "))),
    )
    exists_pass = F.try_element_at(
        numeric_map_col, F.col("exists_field")
    ).isNotNull()
    prefix_pass = F.contains(
        doc_str_col, F.concat(F.lit(" "), F.col("tok_prefix"))
    )
    # (present, passes) per clause: ES bool semantics — with
    # residual_min_match NULL every present clause must pass (pure
    # AND, the pre-r12 contract, npass == npresent); with it set, at
    # least that many present clauses must pass (bool.should +
    # minimum_should_match at the CLAUSE level: 0 or negative =
    # vacuous, above the present-clause count = never matches)
    # neg presence counts NON-NULL elements (an all-null or empty list
    # is no clause — matching the kernel compile's strip-normalization,
    # which merges such signatures with the clause-absent form)
    neg_present = F.coalesce(
        F.size(F.filter(F.col("neg_terms"), lambda t: t.isNotNull())) > 0,
        F.lit(False),
    )
    clauses = (
        (F.col("range_field").isNotNull(), range_pass),
        (F.col("phrase").isNotNull(), phrase_pass),
        (neg_present, neg_pass),
        (F.col("exists_field").isNotNull(), exists_pass),
        (F.col("tok_prefix").isNotNull(), prefix_pass),
    )
    npresent = sum(
        (present.cast("int") for present, _ in clauses), F.lit(0)
    )
    npass = sum(
        (
            (present & F.coalesce(ok, F.lit(False))).cast("int")
            for present, ok in clauses
        ),
        F.lit(0),
    )
    # ES edge: minimum_should_match is IGNORED when there are zero
    # should clauses (a must-only rule with a stray msm still matches)
    required = F.when(npresent == 0, F.lit(0)).otherwise(
        F.coalesce(F.col("residual_min_match"), npresent)
    )
    return npass >= required


def percolate_mixed(
    registered: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    query_id_col: str = "query_id",
    analyzer: str = "standard",
    numeric_fields: tuple[str, ...] = ("n_chars",),
    hot_term_min_df: int = 100_000,
    n_salts: int = 16,
) -> DataFrame:
    """DSL percolation LISTING — registered queries beyond bare
    term-sets (r11 verdict ask #3): each stored query is a term clause
    (``terms`` + ``mode``, the candidate driver) AND-composed with an
    optional numeric ``range`` clause (``range_field``/``range_op`` in
    lt|lte|gt|gte/``range_value`` — the "price < 100" alert shape) and
    an optional ``match_phrase`` clause (``phrase``: space-joined
    analyzed tokens that must appear CONSECUTIVELY in the doc).  ES
    6.x percolator fields store arbitrary query DSL; numeric-threshold
    and phrase alert rules are the most common real forms beyond
    terms (reference delegation surface: indexView.html:13-19).

    Plan: the term clause runs through :func:`percolate_many`
    unchanged (token equi-join, skew-salted, no cross join); the
    survivors — already a small fraction of doc x query — join back
    once to the registered clauses (by query id) and once to the doc
    residual columns (by doc id), and the residual predicate runs as
    one JVM-side filter: numeric fields ride a literal-keyed map
    (``try_element_at``, missing field = no match), the phrase check
    is a space-guarded substring over the analyzed token string —
    exactly the ES match_phrase contract for a standard analyzer with
    no positions index.  Queries with NO residual clauses pass
    through untouched.  Output: (doc_id, query_id).

    Contract: ``query_id`` identifies ONE rule (exact duplicate
    registrations collapse; ES percolator query docs are unique by
    _id the same way).

    r12 grammar extension: optional ``neg_terms`` (ES ``bool.must_not``
    term list — the doc must contain NONE), ``exists_field`` (ES
    ``exists`` over the numeric-field map), and ``tok_prefix`` (ES
    ``prefix`` — some analyzed token starts with it) clauses, all
    AND-composed with the rest; absent columns are treated as null
    clauses, so term+range+phrase tables run unchanged."""
    registered = _rule_table(registered, query_id_col).dropDuplicates()
    term_pairs = percolate_many(
        registered.select(query_id_col, "terms", "mode"),
        docs,
        id_col=id_col,
        text_col=text_col,
        query_id_col=query_id_col,
        analyzer=analyzer,
        hot_term_min_df=hot_term_min_df,
        n_salts=n_salts,
    )
    clauses = registered.select(query_id_col, *_MIXED_CLAUSE_COLS)
    map_args = []
    for f in numeric_fields:
        map_args.extend([F.lit(f), F.col(f).cast("double")])
    # r13 (verdict ask #7): the residual doc-string tokenize used to
    # run over the WHOLE corpus — a second full tokenize pass next to
    # percolate_many's — even though the residual predicate only ever
    # evaluates on docs that survived the term join.  Materialize the
    # (doc, query) match set (linear in matches, the small side by
    # construction) and semi-join-prune the doc side BEFORE tokenizing:
    # the second tokenize now touches matched docs only.  The
    # checkpoint also keeps percolate_many at exactly one execution
    # (the semi-join adds a second plan consumer).
    term_pairs = term_pairs.localCheckpoint(eager=True)
    matched_docs = docs.join(
        term_pairs.select(id_col).distinct(), id_col, "left_semi"
    )
    doc_side = matched_docs.select(
        F.col(id_col),
        F.create_map(*map_args).alias("__fields"),
        F.concat(
            F.lit(" "),
            F.array_join(tokens_expr(text_col, analyzer), " "),
            F.lit(" "),
        ).alias("__dstr"),
    )
    return (
        term_pairs.join(clauses, query_id_col)
        .join(doc_side, id_col)
        .filter(_mixed_residual_ok(F.col("__fields"), F.col("__dstr")))
        .select(id_col, query_id_col)
    )


_MIXED_CLAUSE_TYPES = {
    "range_field": "string", "range_op": "string",
    "range_value": "double", "phrase": "string",
    "neg_terms": "array<string>", "exists_field": "string",
    "tok_prefix": "string", "residual_min_match": "int",
}
_MIXED_CLAUSE_COLS = tuple(_MIXED_CLAUSE_TYPES)
_RANGE_OPS = {"lt": 0, "lte": 1, "gt": 2, "gte": 3}


def _rule_table(registered: DataFrame, query_id_col: str) -> DataFrame:
    """The registered side as percolation rules: ``(query_id, terms,
    mode)`` plus every residual-clause column, a missing one as a
    typed null — so term-only, term+range+phrase and full-DSL tables
    all run through every entry point (a pure-term rule is one whose
    residual clauses are all null)."""
    return registered.select(
        query_id_col, "terms", "mode",
        *[
            F.col(c) if c in registered.columns
            else F.lit(None).cast(t).alias(c)
            for c, t in _MIXED_CLAUSE_TYPES.items()
        ],
    )


def _compile_rules(reg_rows, numeric_fields, query_id_col):
    """The one percolation compile: rule rows (term clause plus the
    range / phrase / must_not / exists / prefix residuals; a pure-term
    rule is one whose residual columns are all NULL) become the
    broadcastable tables of :func:`_percolate_kernel`: a per-signature
    matched-term threshold (any / all / minimum_should_match resolved
    by :func:`_term_threshold`), a residual tuple (range field index
    into ``numeric_fields`` / op code / threshold, space-guarded
    phrase, must_not term tuples, exists field index,
    leading-space-guarded token prefix), the term->signatures inverted
    index, and per-signature DEDUPED qid arrays (np.unique — a
    twice-registered query_id counts once, matching percolate_many's
    groupBy collapse).  Signatures key on the FULL rule, so two
    registrations differing only in a threshold or phrase stay
    distinct.  Sentinel ``-2`` in the range/exists field index marks a
    clause that can never match (malformed op / null value / field
    outside ``numeric_fields``) — the kernel-side twin of the
    listing's null ``try_element_at``.  The residual tuple is None
    when no rule has a residual clause, so pure-term rules pay no
    residual check.  Returns None when no row has a non-empty term
    set."""
    import numpy as np

    sig_ids: dict[tuple, int] = {}
    sig_qids: dict[int, set] = {}
    for r in reg_rows:
        terms = tuple(sorted(set(r["terms"])))
        if not terms:
            continue
        # strip null ELEMENTS (sorted() would TypeError on None; the
        # listing ignores them too), and an all-null list is no clause
        neg = tuple(sorted(
            x for x in set(r["neg_terms"] or ()) if x is not None
        )) or None
        key = (
            r["mode"], terms,
            r["range_field"], r["range_op"], r["range_value"], r["phrase"],
            neg,
            r["exists_field"], r["tok_prefix"], r["residual_min_match"],
        )
        sid = sig_ids.setdefault(key, len(sig_ids))
        sig_qids.setdefault(sid, set()).add(r[query_id_col])
    if not sig_ids:
        return None

    n_sigs = len(sig_ids)
    # matched-distinct-term threshold per signature: any/all/
    # minimum_should_match resolve HERE, once, at compile time
    thr = np.zeros(n_sigs, dtype=np.int64)
    rf_idx = np.full(n_sigs, -1, dtype=np.int64)  # -1 = no range clause
    op_code = np.zeros(n_sigs, dtype=np.int64)
    rv = np.zeros(n_sigs, dtype=np.float64)
    phrases: list = [None] * n_sigs
    negs: list = [None] * n_sigs
    # -1 = no exists clause; -2 = field outside numeric_fields (the
    # doc map can never contain it → never matches, same as the
    # listing's null try_element_at)
    ex_idx = np.full(n_sigs, -1, dtype=np.int64)
    prefs: list = [None] * n_sigs
    # required residual passes: residual_min_match if set, else the
    # present-clause count (pure AND — the null contract)
    req = np.zeros(n_sigs, dtype=np.int64)
    field_pos = {f: i for i, f in enumerate(numeric_fields)}
    inv_lists: dict[str, list[int]] = {}
    any_residual = False
    for key, sid in sig_ids.items():
        mode, terms, rfield, rop, rval, phr, neg, exf, pfx, rmm = key
        thr[sid] = _term_threshold(mode, len(terms))
        if rfield is not None:
            if rop not in _RANGE_OPS or rval is None:
                rf_idx[sid] = -2
            else:
                rf_idx[sid] = field_pos.get(rfield, -2)
                op_code[sid] = _RANGE_OPS[rop]
                rv[sid] = float(rval)
        if phr is not None:
            phrases[sid] = f" {phr} "
        if neg:
            negs[sid] = neg
        if exf is not None:
            ex_idx[sid] = field_pos.get(exf, -2)
        if pfx is not None:
            prefs[sid] = f" {pfx}"  # token-initial: leading guard only
        npresent = sum(
            x is not None for x in (rfield, phr, neg, exf, pfx)
        )
        any_residual = any_residual or npresent > 0
        # ES edge: msm over zero should clauses is ignored (req 0)
        req[sid] = (
            (int(rmm) if npresent > 0 else 0)
            if rmm is not None
            else npresent
        )
        for t in terms:
            inv_lists.setdefault(t, []).append(sid)
    inv = {t: np.asarray(v, dtype=np.int64) for t, v in inv_lists.items()}
    qid_arrays = {
        s: np.unique(np.asarray(sorted(q))) for s, q in sig_qids.items()
    }
    residuals = (
        (rf_idx, op_code, rv, phrases, negs, ex_idx, prefs, req)
        if any_residual
        else None
    )
    return qid_arrays, thr, residuals, inv


def _residual_passes(res, s, i, nvals, toks, tset, tok_str_box) -> bool:
    """Kernel-side residual evaluation for signature ``s`` against doc
    ``i``: count the PRESENT clauses that pass and compare with the
    compiled requirement (the present-clause count when
    ``residual_min_match`` was null — pure AND — else that value:
    bool.should with clause-level minimum_should_match).  The -2 field
    sentinels are present-but-never-passing.  ``tok_str_box`` is a
    1-slot cache of the space-guarded token string, shared across a
    doc's candidate signatures."""
    import numpy as np

    rf, op, rv, ph, neg, ex, px, req = res
    npass = 0
    fi = rf[s]
    if fi >= 0:
        v = nvals[fi][i]
        o = op[s]
        if not np.isnan(v) and (
            (o == 0 and v < rv[s])
            or (o == 1 and v <= rv[s])
            or (o == 2 and v > rv[s])
            or (o == 3 and v >= rv[s])
        ):
            npass += 1
    ei = ex[s]
    if ei >= 0 and not np.isnan(nvals[ei][i]):
        npass += 1
    if neg[s] is not None and tset.isdisjoint(neg[s]):
        npass += 1
    if ph[s] is not None or px[s] is not None:
        ts = tok_str_box[0]
        if ts is None:
            ts = tok_str_box[0] = " " + " ".join(toks) + " "
        if ph[s] is not None and ph[s] in ts:
            npass += 1
        if px[s] is not None and px[s] in ts:
            npass += 1
    return npass >= req[s]


def percolate_mixed_counts(
    registered: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    query_id_col: str = "query_id",
    analyzer: str = "standard",
    numeric_fields: tuple[str, ...] = ("n_chars",),
    chunk_size: int | None = None,
) -> DataFrame:
    """DSL percolation through the BOUNDED counts kernel — the
    :func:`percolate_counts` contract (per-query matched-doc counts,
    no (doc, query) row across any exchange) generalized to the mixed
    term+range+phrase rules of :func:`percolate_mixed`.  The
    signature dedup now keys on the FULL rule (mode, terms, range
    clause, phrase), candidate generation stays term-driven through
    the broadcast inverted index, and each candidate signature then
    evaluates its residual clauses IN the kernel against the doc's
    numeric fields and space-guarded token string — term -> candidate,
    then per-signature residual predicate.  It is the same compile,
    kernel and driver as percolate_counts, whose rules are these with
    every residual clause null.

    ``chunk_size``: stream the registered side via ``toLocalIterator``
    in chunk-sized slices when it is too large to collect — same k-pass
    contract as :func:`percolate_counts`; each distinct (rule,
    query_id) lands in exactly one chunk, so the union is bit-identical
    to the unchunked output."""
    return _percolate_bounded(
        registered, docs, k=None,
        id_col=id_col, text_col=text_col, query_id_col=query_id_col,
        analyzer=analyzer, numeric_fields=numeric_fields,
        chunk_size=chunk_size,
    )


def percolate_mixed_topk(
    registered: DataFrame,
    docs: DataFrame,
    *,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    query_id_col: str = "query_id",
    analyzer: str = "standard",
    numeric_fields: tuple[str, ...] = ("n_chars",),
    chunk_size: int | None = None,
) -> DataFrame:
    """DSL percolation through the BOUNDED per-doc kernel — the
    :func:`percolate_topk` contract (each incoming doc's top-k matched
    stored queries by matched distinct-term count, capped INSIDE the
    worker, <= k rows/doc across any exchange) generalized to the
    mixed term+range+phrase rules of :func:`percolate_mixed`.  The
    kernel gates each candidate signature through its residual clauses
    (range over the doc's numeric fields, phrase over the
    space-guarded token string) BEFORE the best-count-first slot walk,
    so a rule that fails its residual never consumes a k-slot —
    matching the listing's AND-composition exactly.  It is the same
    kernel as percolate_topk, whose rules are these with every
    residual clause null.

    ``chunk_size``: k-pass streamed registered side, merged by the
    same full-row dedup + (matched desc, query_id asc) re-rank as
    :func:`percolate_topk` — a globally top-k rule's within-chunk rank
    never exceeds its global rank, so the merge is exact."""
    return _percolate_bounded(
        registered, docs, k=k,
        id_col=id_col, text_col=text_col, query_id_col=query_id_col,
        analyzer=analyzer, numeric_fields=numeric_fields,
        chunk_size=chunk_size,
    )


def _percolate_kernel(
    docs: DataFrame,
    rules: DataFrame,
    reg_rows,
    *,
    k: int | None,
    id_col: str,
    text_col: TextCols,
    query_id_col: str,
    analyzer: str,
    numeric_fields: tuple,
) -> DataFrame:
    """The one percolation kernel: compile ``reg_rows`` (rows of the
    :func:`_rule_table` ``rules``) with :func:`_compile_rules`,
    broadcast the tables, and run ONE stateless Arrow ``mapInPandas``
    pass over ``docs``.  Per doc, its distinct tokens look up candidate
    signatures in the inverted index, a numpy unique/count gives each
    candidate's matched distinct-term count, candidates under their
    threshold drop, and the rest pass the residual gate (skipped when
    no rule has a residual clause).  ``k`` None emits the per-query
    partial counts of :func:`percolate_counts`, else the per-doc
    top-k walk of :func:`percolate_topk`.  The pass keeps no state, so
    a stream runs it per micro-batch.  With no usable rule the result
    is an empty frame of the output shape, batch or stream."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    qid_type = rules.schema[query_id_col].dataType
    empty = docs.select(
        *([] if k is None else [F.col(id_col)]),
        F.lit(None).cast(qid_type).alias(query_id_col),
        F.lit(None).cast("long").alias(
            "n_matched_docs" if k is None else "matched_terms"
        ),
    ).where(F.lit(False))
    compiled = _compile_rules(reg_rows, numeric_fields, query_id_col)
    if compiled is None:
        return empty
    qid_arrays, thr, residuals, inv = compiled
    n_sigs = len(thr)
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(
        (inv, thr, residuals, None if k is None else qid_arrays)
    )
    ncols = [f"__n{i}" for i in range(len(numeric_fields))]
    tokenized = docs.select(
        *([] if k is None else [F.col(id_col)]),
        tokens_expr(text_col, analyzer).alias("__toks"),
        *[
            F.col(f).cast("double").alias(c)
            for f, c in zip(numeric_fields, ncols)
        ],
    )

    def matches(pdf):
        """(row, matched signatures, their matched distinct-term
        counts) for each doc of ``pdf`` that some rule matches."""
        b_inv, b_thr, b_res, _ = bc.value
        nvals = [pdf[c].to_numpy(dtype=np.float64) for c in ncols]
        for i, toks in enumerate(pdf["__toks"]):
            # null text analyzes to a null token array; the doc matches
            # nothing (the listing drops it in the explode)
            if toks is None:
                continue
            tset = set(toks)
            arrs = [b_inv[t] for t in tset if t in b_inv]
            if not arrs:
                continue
            cand = np.concatenate(arrs)
            uniq, cnt = np.unique(cand, return_counts=True)
            # doc tokens and signature terms are both distinct, so cnt
            # == matched distinct terms, never > need
            ok = cnt >= b_thr[uniq]
            sigs, scores = uniq[ok], cnt[ok]
            if b_res is not None and len(sigs):
                box = [None]  # lazy token string shared across sigs
                keep = np.fromiter(
                    (
                        _residual_passes(
                            b_res, int(s), i, nvals, toks, tset, box
                        )
                        for s in sigs
                    ),
                    dtype=bool,
                    count=len(sigs),
                )
                sigs, scores = sigs[keep], scores[keep]
            if len(sigs):
                yield i, sigs, scores

    if k is None:
        def count_partition(batches):
            partial = np.zeros(n_sigs, dtype=np.int64)
            for pdf in batches:
                for _, sigs, _ in matches(pdf):
                    partial[sigs] += 1
            nz = np.flatnonzero(partial)
            yield pd.DataFrame({"__sig": nz, "__n": partial[nz]})

        partials = tokenized.mapInPandas(
            count_partition, schema="__sig long, __n long"
        )
        totals = partials.groupBy("__sig").agg(
            F.sum("__n").alias("n_matched_docs")
        )
        expand = spark.createDataFrame(
            sorted(
                (s, q) for s, arr in qid_arrays.items() for q in arr.tolist()
            ),
            T.StructType([
                T.StructField("__sig", T.LongType()),
                T.StructField(query_id_col, qid_type),
            ]),
        )
        return totals.join(F.broadcast(expand), "__sig").select(
            query_id_col, "n_matched_docs"
        )

    def topk_partition(batches):
        b_qids = bc.value[3]
        for pdf in batches:
            ids = pdf[id_col].tolist()
            out_doc, out_qid, out_cnt = [], [], []
            for i, sigs, scores in matches(pdf):
                taken = 0
                # walk matched-count groups best-first; only the group
                # that crosses the k boundary pays a sort
                for c in np.sort(np.unique(scores))[::-1]:
                    group = np.concatenate(
                        [b_qids[int(s)] for s in sigs[scores == c]]
                    )
                    group = np.unique(group)[: k - taken]
                    out_doc.extend([ids[i]] * len(group))
                    out_qid.extend(group.tolist())
                    out_cnt.extend([int(c)] * len(group))
                    taken += len(group)
                    if taken >= k:
                        break
            yield pd.DataFrame({
                id_col: out_doc, query_id_col: out_qid,
                "matched_terms": out_cnt,
            })

    return tokenized.mapInPandas(
        topk_partition,
        schema=T.StructType([
            T.StructField(f.name, f.dataType) for f in empty.schema
        ]),
    )


def _percolate_bounded(
    registered: DataFrame,
    docs: DataFrame,
    *,
    k: int | None,
    id_col: str,
    text_col: TextCols,
    query_id_col: str,
    analyzer: str,
    numeric_fields: tuple,
    chunk_size: int | None,
) -> DataFrame:
    """The one bounded percolation driver behind
    :func:`percolate_counts` / :func:`percolate_topk` (pure-term rules)
    and :func:`percolate_mixed_counts` / :func:`percolate_mixed_topk`:
    collect the rules, or stream them in ``chunk_size`` chunks
    (:func:`_iter_registered_chunks`, whose chunk identity needs no
    value-level dedup of the counts), run :func:`_percolate_kernel`
    per chunk, union, and re-rank a chunked top-k per doc."""
    from bigdatasearchpro_spark.sources.files import fan_out

    rules = _rule_table(registered, query_id_col)
    if chunk_size is None:
        chunks = [rules.collect()]
    elif chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
    else:
        chunks = _iter_registered_chunks(rules, query_id_col, chunk_size)
    docs = fan_out(docs)

    def kernel(rows):
        return _percolate_kernel(
            docs, rules, rows, k=k, id_col=id_col, text_col=text_col,
            query_id_col=query_id_col, analyzer=analyzer,
            numeric_fields=numeric_fields,
        )

    result = reduce(
        DataFrame.unionByName, [kernel(rows) for rows in chunks] or [kernel([])]
    )
    if k is None or chunk_size is None:
        return result
    from pyspark.sql.window import Window

    # full-row dedup BEFORE ranking: a qid registered under two
    # DISTINCT rules in different chunks can hit one doc at the SAME
    # count, and the unchunked kernel gives it one k-slot
    w = Window.partitionBy(id_col).orderBy(
        F.desc("matched_terms"), F.asc(query_id_col)
    )
    return (
        result.dropDuplicates()
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def decay_expr(
    value: Column,
    *,
    origin: float = 0.0,
    scale: float,
    offset: float = 0.0,
    decay: float = 0.5,
    kind: str = "linear",
) -> Column:
    """ES ``function_score`` DECAY functions (``linear`` / ``exp`` /
    ``gauss``) over a numeric column — the distance/recency scoring
    family: the multiplier is 1 within ``offset`` of ``origin`` and
    falls to ``decay`` at ``origin ± (offset + scale)``, exactly the
    public ES contract.

    ``linear`` uses only exactly-rounded IEEE ops (abs/sub/div/max) —
    an oracle engine replays it bit-for-bit; ``exp``/``gauss`` go
    through libm ``exp`` (last-ulp engine-dependent — production-fine,
    and the BM25 ``ln`` precedent has matched across engines every
    round, but linear is the hash-checked form)."""
    import math as _math

    if scale <= 0:
        raise ValueError(f"scale must be positive, got {scale}")
    if not (0.0 < decay < 1.0):
        raise ValueError(f"decay must be in (0, 1), got {decay}")
    d = F.greatest(
        F.abs(value.cast("double") - F.lit(float(origin))) - F.lit(float(offset)),
        F.lit(0.0),
    )
    if kind == "linear":
        s = scale / (1.0 - decay)
        return F.greatest(
            (F.lit(s) - d) / F.lit(s), F.lit(0.0)
        )
    if kind == "exp":
        lam = _math.log(decay) / scale
        return F.exp(d * F.lit(lam))
    if kind == "gauss":
        sigma2 = -(scale * scale) / (2.0 * _math.log(decay))
        return F.exp(-(d * d) / F.lit(2.0 * sigma2))
    raise ValueError(f"kind must be linear/exp/gauss, got {kind!r}")


def intervals_match_expr(
    text_col,
    terms: Sequence[str],
    *,
    ordered: bool = True,
    max_gaps: int = 0,
    analyzer: str = "standard",
) -> Column:
    """ES ``intervals`` query, the ``match`` source: the analyzer
    tokens contain ``terms`` within an interval of at most
    ``k - 1 + max_gaps`` positions — ``ordered`` requires the terms in
    sequence (identical to sloppy-phrase :func:`proximity_expr`);
    unordered lets each term sit anywhere inside the window.

    Same no-shuffle shape as the proximity predicate: per-term
    position arrays + a nested ``exists`` chain carrying the running
    (min, max) window, pruned at every step.  The unordered form
    requires DISTINCT terms (with duplicates two chain steps could
    claim the same position — ES tracks per-occurrence intervals;
    honest subset, enforced with a ValueError)."""
    if not terms:
        return F.lit(False)
    if max_gaps < 0:
        raise ValueError("max_gaps must be >= 0")
    if ordered:
        return proximity_expr(text_col, terms, max_gaps, analyzer)
    if len(set(terms)) != len(terms):
        raise ValueError("unordered intervals require distinct terms")
    if len(terms) == 1:
        return F.array_contains(tokens_expr(text_col, analyzer), terms[0])
    toks = tokens_expr(text_col, analyzer)

    def positions(term: str) -> Column:
        return F.filter(
            F.transform(
                toks, lambda t, i: F.when(t == F.lit(term), i).otherwise(-1)
            ),
            lambda x: x >= 0,
        )

    k = len(terms)
    bound = F.lit(k - 1 + max_gaps)

    def chain(i: int, pmin: Column, pmax: Column) -> Column:
        def step(p: Column) -> Column:
            lo, hi = F.least(pmin, p), F.greatest(pmax, p)
            fits = (hi - lo) <= bound
            if i == k - 1:
                return fits
            return fits & chain(i + 1, lo, hi)

        return F.exists(positions(terms[i]), step)

    return F.exists(positions(terms[0]), lambda p: chain(1, p, p))


def intervals_query(
    docs: DataFrame,
    spec: dict,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    analyzer: str = "standard",
) -> DataFrame:
    """ES ``intervals`` QUERY over a spec subset mirroring the public
    request shape::

        {"match":  {"query": "a b", "ordered": bool, "max_gaps": N}}
        {"any_of": {"intervals": [spec, ...]}}        # OR
        {"all_of": {"intervals": [spec, ...]}}        # AND (no cross-
                                                      # interval gaps —
                                                      # honest subset)

    Compiles the whole spec to ONE narrow boolean predicate (each leaf
    is an :func:`intervals_match_expr`), so the filter is a single
    codegen span over the scan — the same shape as the query_string
    compiler.  Returns matched ``id_col`` rows."""

    def build(node: dict) -> Column:
        if not isinstance(node, dict) or len(node) != 1:
            raise ValueError(f"bad intervals node: {node!r}")
        kind, body = next(iter(node.items()))
        if kind == "match":
            terms = analyze_query(body["query"], analyzer)
            mg = body.get("max_gaps")
            # ES: unset / -1 means unbounded gaps
            mg = _BIG_GAPS if mg is None or int(mg) < 0 else int(mg)
            return intervals_match_expr(
                text_col,
                terms,
                ordered=bool(body.get("ordered", False)),
                max_gaps=mg,
                analyzer=analyzer,
            )
        if kind in ("any_of", "all_of"):
            subs = [build(n) for n in body["intervals"]]
            if not subs:
                raise ValueError(f"{kind} needs at least one interval")
            out = subs[0]
            for s in subs[1:]:
                out = (out | s) if kind == "any_of" else (out & s)
            return out
        raise ValueError(f"unsupported intervals source: {kind!r}")

    return docs.filter(build(spec)).select(id_col).orderBy(id_col)


# ES default when max_gaps is unset: unbounded (-1); a corpus document
# is bounded by its own token count, so "huge" is exact here.
_BIG_GAPS = 1_000_000


def terms_set_expr(
    text_col,
    terms: Sequence[str],
    min_match,
    *,
    analyzer: str = "standard",
) -> Column:
    """ES ``terms_set`` query predicate: the document's analyzed token
    SET contains at least ``min_match`` of ``terms`` — the
    minimum_should_match form of ``terms``.  ``min_match`` is an int
    or a Column (the ES ``minimum_should_match_field`` shape, where
    each document carries its own required count).  One
    array_intersect over the token set — a single narrow predicate in
    the scan's codegen span, no explode, no join."""
    if not terms:
        raise ValueError("terms_set needs at least one term")
    toks = F.array_distinct(tokens_expr(text_col, analyzer))
    lits = F.array(*[F.lit(t) for t in dict.fromkeys(terms)])
    matched = F.size(F.array_intersect(toks, lits))
    bound = min_match if isinstance(min_match, Column) else F.lit(int(min_match))
    return matched >= bound


def terms_set_query(
    docs: DataFrame,
    terms: Sequence[str],
    min_match,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    analyzer: str = "standard",
) -> DataFrame:
    """ES ``terms_set`` QUERY: matched ids plus how many of the terms
    each document's token set contains (the per-doc evidence ES
    exposes through the match score).  Same single-codegen-span shape
    as the other query compilers."""
    toks = F.array_distinct(tokens_expr(text_col, analyzer))
    lits = F.array(*[F.lit(t) for t in dict.fromkeys(terms)])
    matched = F.size(F.array_intersect(toks, lits)).cast("long")
    bound = min_match if isinstance(min_match, Column) else F.lit(int(min_match))
    return (
        docs.select(F.col(id_col), matched.alias("n_matched"))
        .filter(F.col("n_matched") >= bound)
        .orderBy(id_col)
    )


def rank_feature_expr(
    feature_col,
    *,
    kind: str = "saturation",
    pivot: float = 10.0,
    exponent: float = 1.0,
    scaling_factor: float = 1.0,
    boost: float = 1.0,
) -> Column:
    """ES ``rank_feature`` query score over a numeric feature field::

        saturation: boost * f / (f + pivot)
        log:        boost * ln(scaling_factor * f + 1)
        sigmoid:    boost * f^exp / (f^exp + pivot^exp)

    (public ES scoring functions; feature values must be positive —
    negative features score 0, the ES contract for missing/invalid).
    Saturation with an integer-valued feature and pivot is ONE double
    division on exact operands — bit-stable cross-engine; log/sigmoid
    ride libm (ln/pow) and belong behind rounding when hashed."""
    f = F.col(feature_col).cast("double") if isinstance(feature_col, str) else feature_col.cast("double")
    if kind == "saturation":
        s = f / (f + F.lit(float(pivot)))
    elif kind == "log":
        s = F.log(F.lit(float(scaling_factor)) * f + F.lit(1.0))
    elif kind == "sigmoid":
        fe = F.pow(f, F.lit(float(exponent)))
        s = fe / (fe + F.lit(float(pivot) ** float(exponent)))
    else:
        raise ValueError(f"kind must be saturation/log/sigmoid, got {kind!r}")
    return F.when(f > 0, F.lit(float(boost)) * s).otherwise(F.lit(0.0))


def distance_feature_expr(
    dist: Column,
    *,
    pivot: float,
    boost: float = 1.0,
) -> Column:
    """ES ``distance_feature`` query score: ``boost * pivot / (pivot +
    dist)`` — 1x at the origin, halving at ``pivot``, decaying with
    distance (the public formula for date and geo origins alike;
    ``dist`` is the caller's |field - origin| in the pivot's unit,
    e.g. integer seconds or integer meters).  With integer dist and
    pivot the score is one exact-operand double division —
    bit-stable."""
    if pivot <= 0:
        raise ValueError("pivot must be positive")
    d = dist.cast("double")
    return F.lit(float(boost)) * F.lit(float(pivot)) / (F.lit(float(pivot)) + d)


def search_topk_combined_fields(
    docs: DataFrame,
    query: str,
    fields: Sequence[str],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    analyzer: str = "standard",
    **kw,
) -> DataFrame:
    """ES ``combined_fields`` query (8.x): term-CENTRIC multi-field
    scoring — the fields are treated as ONE combined pseudo-field
    (shared document length, shared df, one BM25 corpus), vs
    best/most_fields' field-centric per-corpus scoring.  The
    equal-weight form is exactly BM25 over the concatenation, which is
    how it runs here: one concat projection feeding the single-scan
    :func:`search_topk` pipeline (per-field boosts would weight term
    FREQUENCIES inside the synthetic field — not expressible as
    concat; honest subset, ValueError on ``^`` syntax)."""
    for f in fields:
        if "^" in f:
            raise ValueError(
                "combined_fields here is the equal-weight form; "
                f"per-field boost {f!r} is not supported"
            )
    combined = F.concat_ws(
        " ", *[F.coalesce(F.col(f).cast("string"), F.lit("")) for f in fields]
    )
    return search_topk(
        docs.select(F.col(id_col), combined.alias("__combined")),
        query, k, id_col=id_col, text_col="__combined",
        analyzer=analyzer, **kw,
    )


def match_bool_prefix_expr(
    text_col,
    query: str,
    *,
    analyzer: str = "standard",
    operator: str = "and",
) -> Column:
    """ES ``match_bool_prefix`` query predicate (the search-as-you-type
    workhorse): every analyzed term matches as a full TERM except the
    LAST, which matches as a PREFIX of any token — "spark jo" finds
    documents with `spark` and any `jo...` token.  ``operator``
    'and'/'or' combines the clauses like the ES request body.  One
    codegen-span predicate: array_contains per full term + one exists/
    startswith for the prefix — no explode, no join."""
    if operator not in ("and", "or"):
        raise ValueError(f"operator must be and/or, got {operator!r}")
    terms = analyze_query(query, analyzer)
    if not terms:
        return F.lit(False)
    toks = tokens_expr(text_col, analyzer)
    *full, prefix = terms
    clauses = [F.array_contains(toks, t) for t in full]
    clauses.append(F.exists(toks, lambda t: t.startswith(prefix)))
    out = clauses[0]
    for c in clauses[1:]:
        out = (out & c) if operator == "and" else (out | c)
    return out


def pinned_query(
    docs: DataFrame,
    query: str,
    pinned_ids: Sequence[int],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    scoring: str = "bm25",
    analyzer: str = "standard",
) -> DataFrame:
    """ES ``pinned`` query: the given ids rank FIRST, in the order
    given, ahead of the organic hits of the inner query; organic hits
    that are themselves pinned are not repeated.  Pinned documents are
    returned whether or not they match the organic query (ES fetches
    them by id); ids absent from the index are skipped.

    Result page: (rank, id, pinned, score) — organic hits carry their
    score, pinned hits carry NULL (ES substitutes a synthetic
    above-all score there; NULL keeps the column honest and the hash
    deterministic).

    Plan shape: the organic side is the ordinary single-scan scored
    top-(k + |pins|) (TakeOrdered heap); the pin list is a literal
    broadcast of a handful of ids (one semi-join to confirm existence,
    one anti-join to dedup organics).  The final ordering acts on a
    page-sized frame (<= k + |pins| rows), never the corpus."""
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    pins = spark.createDataFrame(
        [(int(i), p + 1) for p, i in enumerate(pinned_ids)],
        f"{id_col} long, pin_pos int",
    )
    # ES skips pinned ids that don't exist in the index: one
    # column-pruned pass over the index ids with the pin list
    # broadcast (the same by-id fetch ES does, as a broadcast join).
    pins = docs.select(id_col).join(F.broadcast(pins), on=id_col, how="inner")
    organic = search_topk(
        docs, query, k + len(pinned_ids), id_col=id_col,
        scoring=scoring, analyzer=analyzer,
    )
    pinned_part = pins.select(
        id_col, "pin_pos", F.lit(None).cast("double").alias("score")
    )
    organic_part = (
        organic.join(F.broadcast(pins.select(id_col)), on=id_col, how="left_anti")
        .select(id_col, F.lit(None).cast("int").alias("pin_pos"), "score")
    )
    order = (
        F.asc_nulls_last("pin_pos"),
        F.desc_nulls_last("score"),
        F.asc(id_col),
    )
    page = (
        pinned_part.unionByName(organic_part).orderBy(*order).limit(k)
    )
    return page.select(
        F.row_number().over(Window.orderBy(*order)).alias("rank"),
        id_col,
        F.col("pin_pos").isNotNull().alias("pinned"),
        "score",
    )


def expand_synonyms(
    terms: Sequence[str],
    groups: "Sequence[Sequence[str]]",
) -> "list[list[str]]":
    """ES ``synonym_graph`` token filter, query-time ``expand: true``
    form: each analyzed term becomes its full synonym GROUP (a list of
    equivalent terms at the same position); terms in no group stay
    singletons.  Returns one alternative-list per original term."""
    by_term: dict[str, list[str]] = {}
    for g in groups:
        gs = sorted(set(g))
        for t in gs:
            by_term[t] = gs
    return [by_term.get(t, [t]) for t in terms]


def synonym_match(
    docs: DataFrame,
    query: str,
    groups: "Sequence[Sequence[str]]",
    *,
    text_col: TextCols = "text",
    analyzer: str = "standard",
    mode: str = "all",
) -> DataFrame:
    """Boolean keyword match with query-time synonym expansion: each
    query term matches if ANY member of its synonym group appears
    (the ES `synonym_graph` + match-query contract — synonyms occupy
    one position, so `operator: and` requires one hit PER GROUP, not
    per surface term).

    One narrow predicate over the tokenized text — per group an OR of
    `array_contains`, groups combined by ``mode`` ('all'/'any') — in
    the scan's codegen span: no explode, no join, no vocabulary pass.
    (Scoring note: ES blends document frequencies across a synonym
    group when ranking; this boolean form is the SQL-oracled subset,
    like keyword_match is for the plain match query.)"""
    if mode not in ("all", "any"):
        raise ValueError(f"mode must be all/any, got {mode!r}")
    terms = analyze_query(query, analyzer)
    if not terms:
        return docs.limit(0)
    toks = tokens_expr(text_col, analyzer)
    clauses = []
    for alts in expand_synonyms(terms, groups):
        c = F.array_contains(toks, alts[0])
        for a in alts[1:]:
            c = c | F.array_contains(toks, a)
        clauses.append(c)
    pred = clauses[0]
    for c in clauses[1:]:
        pred = (pred & c) if mode == "all" else (pred | c)
    return docs.filter(pred)
