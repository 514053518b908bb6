"""Hybrid retrieval: reciprocal-rank fusion of keyword (BM25) and
vector (cosine) rankings — the modern ES ``retriever: {rrf: ...}``
search shape (public RRF: Cormack/Clarke/Buettcher SIGIR'09;
Elasticsearch 8.x exposes it over exactly this keyword+kNN pair).

The reference's user surface is query-in, ranked-hits-out
(indexView.html:13-19); RRF is how that surface composes with the L4
vector ring when both a text query and a query embedding exist.

Scale shape: each leg is an independent top-``window`` retrieval
(BM25: one scan + TakeOrdered; vector: one Arrow-batched scan +
TakeOrdered) — the fusion then joins two WINDOW-SIZED pages, so the
only corpus-sized work is the two scans themselves.  Rank math is
integer; the RRF score ``1/(rrf_k + rank)`` divides small exact
integers, so the fused ordering is bit-stable across engines and a
SQL oracle replays it exactly.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdatasearchpro_spark.operators.search import search_topk
from bigdatasearchpro_spark.operators.similarity import int8_dot_norm_udf


def vector_rank_page(
    emb: DataFrame,
    query_ints: Sequence[int],
    window: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``window`` vectors by cosine to an integer query vector,
    with their 1-based rank: :func:`vector_score_page` (replayable
    scores, so replayable ranks) plus a row_number that runs over the
    already-collected ``window`` rows, never the corpus.  Output:
    ``(id, vec_rank)``."""
    page = vector_score_page(
        emb, query_ints, window, id_col=id_col, vec_col=vec_col
    )
    w = Window.orderBy(F.desc("cos"), F.asc(id_col))
    # long, not int: SQL engines type row_number as BIGINT
    return page.select(
        F.col(id_col),
        F.row_number().over(w).cast("long").alias("vec_rank"),
    )


def rrf_hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    query: str,
    query_ints: Sequence[int],
    *,
    k: int = 10,
    window: int = 50,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 top-``window`` and the
    cosine top-``window``::

        rrf(d) = sum over legs of 1 / (rrf_k + rank_leg(d))

    (rrf_k=60 is the public default), a document absent from a leg's
    page contributing nothing — the standard windowed RRF semantics.
    Returns the fused top-``k``: ``(doc_id, text_rank, vec_rank,
    rrf_score)``, score desc, id asc; ranks are NULL for the leg that
    did not retrieve the document."""
    if window < k:
        raise ValueError("window must be >= k")
    text_page = search_topk(
        docs, query, window, id_col=id_col, text_col=text_col
    )
    wt = Window.orderBy(F.desc("score"), F.asc(id_col))
    text_ranks = text_page.select(
        F.col(id_col),
        F.row_number().over(wt).cast("long").alias("text_rank"),
    )
    vec_ranks = vector_rank_page(
        emb, query_ints, window, id_col=vec_id_col
    ).withColumnRenamed(vec_id_col, id_col)
    contrib = lambda r: F.when(  # noqa: E731
        F.col(r).isNotNull(), F.lit(1.0) / (F.lit(rrf_k) + F.col(r))
    ).otherwise(F.lit(0.0))
    return (
        text_ranks.join(vec_ranks, id_col, "full_outer")
        .select(
            id_col,
            "text_rank",
            "vec_rank",
            (contrib("text_rank") + contrib("vec_rank")).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def vector_score_page(
    emb: DataFrame,
    query_ints: Sequence[int],
    window: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``window`` vectors by int8-exact cosine WITH the score
    (``(id, cos)``), for rank- and normalizer-based fusion alike.  The
    corpus side is int8-quantized and the dot/norm are BIGINT (the
    semantic-dedup arithmetic, one Arrow-batched numpy pass:
    :func:`similarity.int8_dot_norm_udf`); ``cos = dot / sqrt(n)``
    divides an exact integer by a correctly-rounded sqrt of an exact
    integer — bit-identical in any IEEE engine.  The page selection is
    a TakeOrdered (per-partition heaps)."""
    qi = [int(v) for v in query_ints]
    if not any(qi):
        raise ValueError("query vector must be non-zero")
    dn = int8_dot_norm_udf(qi)
    return (
        emb.select(F.col(id_col), dn(F.col(vec_col)).alias("__dn"))
        # n = 0 (a zero vector) would make the sort key 0/0 = NaN, and
        # engines DISAGREE on NaN sort position — drop it as unrankable
        .filter(F.col("__dn.n") > 0)
        .select(
            F.col(id_col),
            (
                F.col("__dn.dot").cast("double")
                / F.sqrt(F.col("__dn.n").cast("double"))
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(window)
    )


def linear_hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    query: str,
    query_ints: Sequence[int],
    *,
    k: int = 10,
    window: int = 50,
    w_text: float = 0.75,
    w_vec: float = 0.25,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
) -> DataFrame:
    """ES 8.x ``retriever: {linear: ...}`` — weighted sum of per-leg
    MINMAX-normalized scores over each leg's retrieval window::

        score(d) = w_text * norm_t(bm25) + w_vec * norm_v(cos)

    with ``norm(s) = (s - min) / (max - min)`` over the leg's page
    (all-equal page => every hit normalizes to 1), a document absent
    from a leg contributing 0 — the ES ``minmax`` normalizer contract.
    Prefer POWER-OF-TWO weights (0.75/0.25): the multiplies are then
    exact and the whole fusion chain is correctly-rounded IEEE ops on
    page-deterministic inputs, replayable by a SQL oracle.

    Plan: identical to RRF — two single-scan TakeOrdered legs; the
    min/max are one-row aggregates over PAGE-sized inputs broadcast
    into the normalize projection; the fusion joins two page-sized
    score tables."""
    if window < k:
        raise ValueError("window must be >= k")

    def minmax(page: DataFrame, score: str, out: str) -> DataFrame:
        bounds = page.agg(
            F.min(score).alias("__lo"), F.max(score).alias("__hi")
        )
        return page.crossJoin(F.broadcast(bounds)).select(
            id_col,
            F.when(
                F.col("__hi") > F.col("__lo"),
                (F.col(score) - F.col("__lo"))
                / (F.col("__hi") - F.col("__lo")),
            )
            .otherwise(F.lit(1.0))
            .alias(out),
        )

    text_page = search_topk(
        docs, query, window, id_col=id_col, text_col=text_col
    )
    tn = minmax(text_page, "score", "norm_text")
    vec_page = vector_score_page(
        emb, query_ints, window, id_col=vec_id_col
    ).withColumnRenamed(vec_id_col, id_col)
    # Materialize the window-sized vector page (search_topk already
    # returns its page materialized): minmax consumes the page TWICE
    # (bounds aggregate + normalize projection), and lazily that
    # re-ran the whole corpus scan + Arrow quantize/matmul + TakeOrdered
    # for the bounds (plan showed two full vector-leg subtrees).  The
    # page is `window` rows — bounded at any corpus size.  r13: via
    # localCheckpoint instead of r12's collect+createDataFrame — the
    # rows stay on executors instead of a Pyrolite round-trip through
    # the driver (the r12 advice item); the 3-way A/B (collect / ckpt /
    # lazy, interleaved at clean calibration) measured ckpt <= collect
    # (3.50 vs 3.68 s on the linear+rrf pair) with the single-Arrow-pass
    # plan retained.
    vec_page = vec_page.localCheckpoint(eager=True)
    vn = minmax(vec_page, "cos", "norm_vec")
    part = lambda c, w: F.coalesce(F.col(c), F.lit(0.0)) * F.lit(w)  # noqa: E731
    return (
        tn.join(vn, id_col, "full_outer")
        .select(
            id_col,
            "norm_text",
            "norm_vec",
            (part("norm_text", float(w_text))
             + part("norm_vec", float(w_vec))).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
