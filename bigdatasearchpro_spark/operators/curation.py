"""Corpus-curation operators for LLM training data (SURVEY.md §2.10
extensions): duplicated-segment removal, benchmark decontamination,
and sequence packing.

These are the pipeline stages between near-dup dedup (``neardup.py``)
and the dataset split (``registry_text.py l5_dataset_split``) that a
production pretraining-data pipeline runs at full-corpus scale:

- :func:`segment_dedup` — RefinedWeb/CCNet-style *intra-document*
  boilerplate removal: fixed-token segments that recur across many
  documents (headers, footers, license blocks) are cut out of every
  document while the unique remainder survives — unlike document-level
  dedup, which keeps or kills whole docs.
- :func:`decontaminate` — held-out benchmark n-gram overlap flagging
  (the GPT-3/Dolma decontamination step): any training document
  sharing an n-token shingle with the benchmark set is flagged.
- :func:`pack_sequences` — concat-and-chunk sequence packing: the
  shard-ordered token stream (one EOS token between docs) is cut into
  fixed ``max_len`` windows, and each document learns which chunk
  range it landed in — the layout step before tensorization.

Scale notes (100 TB):
- segment frequency and shingle overlap shuffle (id, segment/shingle)
  pairs — bounded by token count, never by the document cross product;
  at scale the string keys become 64-bit hashes (the oracle-portable
  string form is kept here so DuckDB can verify end-to-end).
- duplicated segments are FOUND with one hash agg and applied with one
  broadcast-able join against the (rare) duplicated-segment set — the
  common case (unique segment) never joins.
- packing is one window cumsum PARTITIONED by the shard column — each
  shard packs independently, exactly how a multi-node writer lays out
  tensors; no global ordering is ever materialized.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdatasearchpro_spark.operators.analyzers import analyzer_tokens
from bigdatasearchpro_spark.operators.search import TextCols, tokens_expr

__all__ = [
    "segment_dedup",
    "decontaminate",
    "fuzzy_decontaminate",
    "pack_sequences",
    "quality_deciles",
    "domain_mixture",
    "domain_token_budget",
]


def _segments(tokens, seg_tokens: int):
    """Non-overlapping ``seg_tokens``-token windows of a token array as
    joined strings (last partial window kept) — a pure array expression,
    no explode until the caller needs rows."""
    n_segs = F.ceil(F.size(tokens) / F.lit(float(seg_tokens))).cast("int")
    idx = F.sequence(F.lit(0), n_segs - 1)
    return F.when(F.size(tokens) > 0, F.transform(
        idx,
        lambda i: F.array_join(
            F.slice(tokens, i * seg_tokens + 1, seg_tokens), " "
        ),
    )).otherwise(F.array().cast("array<string>"))


def segment_dedup(
    docs: DataFrame,
    *,
    seg_tokens: int = 20,
    max_doc_frequency: int = 1,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """Remove segments duplicated ACROSS documents (boilerplate) while
    keeping each document's unique remainder — the RefinedWeb /
    CCNet-style line-dedup step, on fixed ``seg_tokens``-token segments
    (the fixture corpus has no natural line boundaries; a real corpus
    would segment on lines/paragraphs with the same plan).

    A segment is removed from EVERY document when the number of
    distinct documents containing it exceeds ``max_doc_frequency``.

    Plan: (1) one explode to (id, pos, segment), (2) one hash agg for
    per-segment distinct-doc counts, kept only where the count exceeds
    the threshold (the duplicated-segment set — small, broadcast-able),
    (3) one join of the exploded segments against that set, (4) one
    group-back re-assembling surviving segments in position order.
    Shuffles carry segment strings (hashes at scale), never full
    documents in the frequency agg.

    Output: ``(id, n_segments, n_removed, clean_text)`` — one row per
    input document: docs reduced to nothing keep an empty clean_text,
    and docs whose text tokenizes to ZERO tokens (so no segments ever
    exist) are recovered by a left join back onto the input ids with
    zero counts — no document silently disappears.
    """
    # tokens aliased before the segment transform: inline, the slice
    # lambda re-evaluates the split per segment (see decontaminate)
    toked = docs.select(
        F.col(id_col), tokens_expr(text_col).alias("__toks")
    ).select(F.col(id_col), _segments(F.col("__toks"), seg_tokens).alias("__segs"))
    seg_rows = toked.select(
        F.col(id_col), F.posexplode("__segs").alias("pos", "seg")
    )
    dup_segs = (
        seg_rows.groupBy("seg")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") > max_doc_frequency)
        .select("seg")
    )
    marked = seg_rows.join(
        dup_segs.withColumn("__dup", F.lit(True)), "seg", "left"
    ).withColumn("__dup", F.coalesce(F.col("__dup"), F.lit(False)))
    grouped = marked.groupBy(id_col).agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("__dup").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("__dup"), F.struct("pos", "seg"))
                    )
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    # token-empty docs never reach the explode; recover them with zero
    # counts (left join on the same key the group-back shuffled by)
    return docs.select(F.col(id_col)).join(grouped, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def _shingles(tokens, n: int):
    """All ``n``-token shingles of a token array as joined strings (an
    array expression; empty when the doc is shorter than ``n``)."""
    cnt = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    return F.when(cnt > 0, F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )).otherwise(F.array().cast("array<string>"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one ``n``-token shingle with the held-out ``benchmark``
    set (the GPT-3 appendix-C / Dolma decontamination rule).

    Plan: benchmark docs explode to their DISTINCT shingle set (one
    side of a join keyed by shingle; at 100 TB the key is a 64-bit
    hash and the benchmark side — millions of shingles, not billions —
    broadcasts); training docs explode to distinct shingles and
    inner-join. One count-distinct-shingles agg per contaminated doc.

    Output: ``(id, matched_ngrams)`` — contaminated training docs only,
    with how many distinct benchmark shingles they contain."""
    # tokens materialized in their OWN projection before the shingle
    # transform: passed inline, the slice lambda re-evaluates the whole
    # split per ELEMENT (higher-order lambdas are interpreted, no
    # subexpression elimination) — measured 4.6 s -> 0.9 s for the doc
    # side alone at sf0.1.  CollapseProject cannot re-inline a non-cheap
    # alias used more than once, so the two-step select is stable.
    bench_shingles = (
        benchmark.select(tokens_expr(text_col).alias("__toks"))
        .select(
            F.explode(F.array_distinct(_shingles(F.col("__toks"), n))).alias("sh")
        )
        .distinct()
    )
    doc_shingles = docs.select(
        F.col(id_col), tokens_expr(text_col).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(_shingles(F.col("__toks"), n))).alias("sh"),
    )
    return (
        doc_shingles.join(bench_shingles, "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("matched_ngrams"))
    )


def pack_sequences(
    docs: DataFrame,
    *,
    max_len: int = 512,
    shard_col: str = "lang",
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    tokenizer: str = "analyzer",
) -> DataFrame:
    """Concat-and-chunk sequence packing: within each shard
    (``shard_col``), documents concatenate in ``id`` order with one
    EOS token between them, and the token stream cuts into fixed
    ``max_len`` windows — the standard pretraining layout (documents
    may straddle a chunk boundary; the attention mask handles it).

    Each document's placement is pure arithmetic on the running token
    count: ONE window cumsum partitioned by the shard — shards pack
    independently and in parallel, exactly how a multi-node tensor
    writer works; nothing global, nothing driver-side.

    Output: ``(id, shard, n_tokens, start_offset, first_chunk,
    last_chunk)`` — one row per document; ``start_offset`` is the
    document's first-token position in its shard's stream, chunks are
    ``floor(offset / max_len)`` of the first and last token."""
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if tokenizer == "analyzer":
        n_tokens = F.size(tokens_expr(text_col)).cast("long")
    elif tokenizer == "bpe":
        # chunk geometry in real tokenizer tokens (functions/bpe.py)
        from bigdatasearchpro_spark.functions.bpe import bpe_token_count

        if not isinstance(text_col, str):
            raise ValueError("tokenizer='bpe' needs a single text column")
        n_tokens = bpe_token_count(text_col)
    else:
        raise ValueError(
            f"unknown tokenizer {tokenizer!r} (have 'analyzer', 'bpe')"
        )
    sized = docs.select(
        F.col(id_col),
        F.col(shard_col).alias("shard"),
        n_tokens.alias("n_tokens"),
    )
    # +1 = the EOS separator appended to every document
    cum = sized.withColumn("__end", F.sum(F.col("n_tokens") + 1).over(w))
    return cum.select(
        id_col,
        "shard",
        "n_tokens",
        (F.col("__end") - F.col("n_tokens") - 1).alias("start_offset"),
        F.floor((F.col("__end") - F.col("n_tokens") - 1) / max_len).alias(
            "first_chunk"
        ),
        # last token of the doc itself (EOS excluded); empty docs sit at
        # their start offset
        F.floor(
            F.greatest(F.col("__end") - 2, F.col("__end") - F.col("n_tokens") - 1)
            / max_len
        ).alias("last_chunk"),
    )


def fuzzy_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 8,
    thr_num: int = 1,
    thr_den: int = 10,
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """FUZZY benchmark decontamination: flag a training document when
    its n-gram JACCARD overlap with any single benchmark document
    reaches ``thr_num/thr_den`` — the overlap-ratio rule (PaLM / Llama
    style) that catches paraphrased/partial contamination a single
    shared shingle (:func:`decontaminate`) would under- or over-flag.

    INTEGER-EXACT decision: with A, B the DISTINCT shingle sets,
    Jaccard >= thr  <=>  thr_den * |A∩B| >= thr_num * (|A|+|B|-|A∩B|)
    — all counts, no division, so a SQL oracle replays the flag set
    bit-for-bit.

    Plan: both sides explode to (id, distinct shingle); one equi-join
    on the shingle (benchmark side is the small one — millions of
    shingles, broadcastable at scale) → one hash agg per (doc, bench)
    pair for the intersection; set sizes are per-side hash aggs.
    Shuffles carry shingles and counts, never documents.

    Output: one row per contaminated (doc, bench) pair —
    ``(id, bench_id, inter, n_doc, n_bench)``."""
    # two-step select: tokens in their own projection (see
    # decontaminate — inline tokens re-run the split per shingle)
    d_sh = docs.select(
        F.col(id_col), tokens_expr(text_col).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(_shingles(F.col("__toks"), n))).alias("sh"),
    )
    b_sh = benchmark.select(
        F.col(bench_id_col).alias("__bid"), tokens_expr(text_col).alias("__toks")
    ).select(
        F.col("__bid"),
        F.explode(F.array_distinct(_shingles(F.col("__toks"), n))).alias("sh"),
    )
    d_size = d_sh.groupBy(id_col).agg(F.count("*").alias("n_doc"))
    b_size = b_sh.groupBy("__bid").agg(F.count("*").alias("n_bench"))
    inter = (
        d_sh.join(b_sh, "sh")
        .groupBy(id_col, "__bid")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(d_size, id_col)
        .join(F.broadcast(b_size), "__bid")
        .filter(
            F.lit(thr_den) * F.col("inter")
            >= F.lit(thr_num)
            * (F.col("n_doc") + F.col("n_bench") - F.col("inter"))
        )
        .select(
            F.col(id_col),
            F.col("__bid").alias("bench_id"),
            "inter", "n_doc", "n_bench",
        )
    )


def quality_deciles(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 10,
    approx: bool = False,
    relative_error: float = 0.001,
    per_col: "str | None" = None,
    exact_global: bool = False,
) -> DataFrame:
    """Quality-quantile bucketing: every document gets its corpus-wide
    quality decile (1 = worst .. ``buckets`` = best) from the
    integer-exact quality logit — the curation step that lets a
    pipeline keep "top 3 deciles" instead of hand-tuning a threshold
    (the fastText-classifier-percentile pattern).

    Two paths with the same contract:

    - exact: ``ntile`` over (scaled integer logit, id) — the tie-break
      makes the assignment deterministic and SQL-replayable. With
      ``per_col`` the window partitions by that column (each group
      sorts in parallel — the 100 TB-safe exact form). WITHOUT
      ``per_col`` the window is a single-partition corpus sort, so the
      global exact form must be requested explicitly with
      ``exact_global=True`` — calling with neither ``per_col`` nor
      ``approx`` nor ``exact_global`` raises, so nobody ships the
      global sort by accident.
    - ``approx=True`` (the 100 TB path): Greenwald-Khanna approximate
      cutpoints (``approxQuantile``, one pass, driver holds only
      ``buckets-1`` numbers) + a MAP-SIDE when-chain bucket lookup —
      no global sort, no window, embarrassingly parallel. Boundary
      rows within ``relative_error`` of a cutpoint may land one
      bucket off (the documented GK guarantee); everything else
      matches the exact path (tested).

    ``per_col`` partitions the ranking (e.g. per language — avoids a
    high-resource language crowding every top decile AND partitions the
    exact path's window, removing the global sort entirely: each group
    sorts in parallel). Output: ``(id, logit_scaled, decile)`` plus the
    group column when ``per_col`` is set."""
    from bigdatasearchpro_spark.operators.textstats import (
        quality_logit_scores,
    )

    if not approx and per_col is None and not exact_global:
        raise ValueError(
            "global exact deciles are a single-partition corpus sort; "
            "pass per_col=... (partitioned exact), approx=True (GK "
            "cutpoints, no sort), or opt in with exact_global=True"
        )
    scored = quality_logit_scores(docs, text_col=text_col, id_col=id_col)
    if per_col is not None:
        scored = scored.join(
            docs.select(F.col(id_col), F.col(per_col)), id_col
        )
    if not approx:
        w = (
            Window.partitionBy(per_col) if per_col is not None else Window
        ).orderBy(F.asc("logit_scaled"), F.asc(id_col))
        cols = [F.col(id_col), F.col("logit_scaled")]
        if per_col is not None:
            cols.append(F.col(per_col))
        return scored.select(
            *cols, F.ntile(buckets).over(w).alias("decile")
        )
    if per_col is not None:
        raise ValueError("approx deciles are global; use per_col with approx=False")
    probs = [i / buckets for i in range(1, buckets)]
    staged = scored.select(
        F.col(id_col), "logit_scaled",
        F.col("logit_scaled").cast("double").alias("__d"),
    )
    cuts = staged.stat.approxQuantile("__d", probs, relative_error)
    decile = F.lit(buckets)
    for i in reversed(range(len(cuts))):
        decile = F.when(F.col("__d") <= F.lit(cuts[i]), F.lit(i + 1)).otherwise(
            decile
        )
    return staged.select(
        F.col(id_col), "logit_scaled", decile.alias("decile")
    )


def domain_mixture(
    docs: DataFrame,
    quotas: "dict[str, int]",
    *,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mixture sampling: draw a DETERMINISTIC per-domain quota
    from the corpus (the data-mixing step that turns raw web-heavy
    corpora into the curated proportions every pretraining recipe
    specifies). Documents rank within their domain by
    ``md5(cast(id as string))`` — a portable, engine-agnostic shuffle
    that is uncorrelated with id assignment — and the first ``quota``
    rows per domain survive. Domains absent from ``quotas`` are
    dropped (quota 0).

    One window per domain partition (hash-partitioned, parallel across
    domains); nothing global, nothing driver-side.

    Output: the sampled rows, ``(id, domain, rank_in_domain)``."""
    if not quotas:
        raise ValueError("domain_mixture needs at least one domain quota")
    w = Window.partitionBy(domain_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    quota_expr = F.create_map(
        *[x for k, v in sorted(quotas.items()) for x in (F.lit(k), F.lit(int(v)))]
    )
    return (
        docs.select(
            F.col(id_col),
            F.col(domain_col).alias("domain"),
            F.row_number().over(w).alias("rank_in_domain"),
        )
        .filter(
            F.col("rank_in_domain")
            <= F.coalesce(quota_expr[F.col("domain")], F.lit(0))
        )
    )


def domain_token_budget(
    docs: DataFrame,
    budgets: "dict[str, int]",
    *,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "analyzer",
    weight_ppm_col: "str | None" = None,
) -> DataFrame:
    """TOKEN-budget domain sampling: like :func:`domain_mixture` but
    quotas are TOKEN counts — how pretraining mixtures are actually
    specified ("30 B tokens of web, 5 B of code"). Documents rank
    within their domain by ``md5(cast(id as string))`` (portable
    deterministic shuffle) and are admitted while the domain's running
    token total has not yet reached its budget — the first document
    that crosses the line is still admitted (budgets are targets, not
    caps; the standard convention, so a budget smaller than the first
    doc still yields one doc).

    ``tokenizer`` picks the count that meters the budget:
    ``"analyzer"`` (default) is the whitespace-free analyzer word
    count, pure JVM expression; ``"bpe"`` is the deterministic
    byte-level BPE subword count (functions/bpe.py, Arrow-batched
    pandas_udf) — the unit real pretraining recipes are written in.

    One window cumsum per domain partition; token counts are computed
    map-side. Output: ``(id, domain, n_tokens, cum_tokens)`` for the
    admitted rows."""
    if not budgets:
        raise ValueError("domain_token_budget needs at least one budget")
    if tokenizer == "analyzer":
        toks = F.size(analyzer_tokens(F.col(text_col)))
    elif tokenizer == "bpe":
        from bigdatasearchpro_spark.functions.bpe import bpe_token_count

        toks = bpe_token_count(text_col)
    else:
        raise ValueError(
            f"unknown tokenizer {tokenizer!r} (have 'analyzer', 'bpe')"
        )
    w = (
        Window.partitionBy("domain")
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget_expr = F.create_map(
        *[x for k, v in sorted(budgets.items()) for x in (F.lit(k), F.lit(int(v)))]
    )
    if weight_ppm_col is not None:
        # SoftDeDup composition: meter the budget in duplicate-
        # DISCOUNTED tokens — floor(n_tokens * weight_ppm / 1e6), pure
        # integer math — so a text crawled n times still spends ~one
        # document's worth of budget across all its copies.
        toks = F.floor(
            toks.cast("long") * F.col(weight_ppm_col) / F.lit(1_000_000)
        ).cast("long")
    staged = docs.select(
        F.col(id_col),
        F.col(domain_col).alias("domain"),
        toks.alias("n_tokens"),
        *([] if weight_ppm_col is None else [F.col(weight_ppm_col)]),
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return staged.filter(
        F.col("cum_tokens") - F.col("n_tokens")
        < F.coalesce(budget_expr[F.col("domain")], F.lit(0))
    )


def temperature_quotas(
    docs: DataFrame,
    *,
    target_total: int,
    alpha: float = 0.5,
    domain_col: str = "source",
    weight_scale: int = 1_000_000,
) -> "dict[str, int]":
    """Temperature-based mixture quotas (the T5/mT5 alpha-sampling
    rule): domain d gets ``target_total * n_d^alpha / sum(n^alpha)``
    documents — alpha < 1 upsamples small domains relative to their
    natural share, the standard fix for web-heavy corpora.

    The per-domain counts come from ONE hash aggregate collected
    driver-side (bounded by domain cardinality, like the centroid
    collects).  Quota arithmetic is engine-exact for the default
    ``alpha=0.5``: ``floor(sqrt(n) * weight_scale)`` uses only
    correctly-rounded IEEE ops (sqrt and multiply), then pure integer
    floor division — so an oracle engine replays the identical quotas.
    Other alphas go through ``pow`` (libm, last-ulp engine-dependent —
    fine for production, not for cross-engine hash checks).

    Compose with :func:`domain_mixture`, which draws the md5-ranked
    deterministic sample under these quotas."""
    if target_total < 0:
        raise ValueError(f"target_total must be >= 0, got {target_total}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    counts = {
        r["d"]: r["n"]
        for r in docs.groupBy(F.col(domain_col).alias("d"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if alpha == 0.5:
        weights = {
            d: int(math.floor(math.sqrt(float(n)) * weight_scale))
            for d, n in counts.items()
        }
    else:
        weights = {
            d: int(math.floor(float(n) ** alpha * weight_scale))
            for d, n in counts.items()
        }
    tw = sum(weights.values())
    if tw == 0:
        return {d: 0 for d in counts}
    return {d: target_total * w // tw for d, w in weights.items()}


# Gopher quality-rule stopword probe (Rae et al. 2021 §A1.1.2: "must
# contain at least 2 of a small English stopword set").
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_wl: int = 3,
    max_mean_wl: int = 10,
    max_symbol_pct: int = 10,
    min_alpha_pct: int = 80,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher repetition-free quality gates (Rae et al. 2021, table
    A1; the same rule family Dolma/RefinedWeb reuse): per document,

    - word count within ``[min_words, max_words]``
    - mean word length within ``[min_mean_wl, max_mean_wl]``
    - symbol words (``#`` / ``...``) at most ``max_symbol_pct``% of words
    - at least ``min_alpha_pct``% of words contain an alphabetic char
    - at least ``min_stop_hits`` DISTINCT stopwords from a small set

    (the spec's line-level bullet/ellipsis rules need line structure
    the corpus schema does not carry — they belong to a line-splitting
    pre-stage, same note as segment_dedup's).

    EVERY gate is integer-exact — ratios are cross-multiplied
    (``100 * n_alpha >= min_alpha_pct * n_words``), mean word length
    compares ``sum_len`` against ``bound * n_words`` — so the boolean
    columns are bit-replayable by any SQL engine, and the whole
    evaluation is ONE narrow projection over the scan: no shuffle, no
    Python, no second tokenization pass (words are staged once, the
    quality_stats lesson).

    Output: ``(id, n_words, r_word_count, r_mean_word_len, r_symbol,
    r_alpha, r_stopwords, keep)`` with ``keep`` the conjunction."""
    staged = df.select(
        F.col(id_col),
        analyzer_tokens(F.col(text_col), "whitespace").alias("__w"),
    )
    w = F.col("__w")
    n_words = F.size(w)
    sum_wl = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    n_symbol = F.size(
        F.filter(w, lambda x: (x == "#") | x.contains("..."))
    )
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_distinct(
            F.filter(F.transform(w, lambda x: F.lower(x)),
                     lambda x: x.isin(*GOPHER_STOPS))
        )
    )
    r_wc = (n_words >= min_words) & (n_words <= max_words)
    r_wl = (sum_wl >= F.lit(min_mean_wl) * n_words) & (
        sum_wl <= F.lit(max_mean_wl) * n_words
    )
    r_sym = F.lit(100) * n_symbol <= F.lit(max_symbol_pct) * n_words
    r_alpha = F.lit(100) * n_alpha >= F.lit(min_alpha_pct) * n_words
    r_stop = stop_hits >= min_stop_hits
    return staged.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        r_wc.alias("r_word_count"),
        r_wl.alias("r_mean_word_len"),
        r_sym.alias("r_symbol"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stopwords"),
        (r_wc & r_wl & r_sym & r_alpha & r_stop).alias("keep"),
    )


def dsir_log_weights(
    docs: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    n_buckets: int = 64,
    round_to: int = 4,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — the public recipe for
    steering a raw crawl toward a target domain): per document,

        log w(d) = sum over tokens t of [ log p_target(feat(t))
                                          - log p_raw(feat(t)) ]

    with hashed-unigram features (``portable_hash % n_buckets``, the
    md5 twin so SQL replays the bucketing) and add-one smoothing over
    ``n_buckets`` cells.  Sampling proportional to ``exp(log_w)`` is
    the paper's resampling stage (stratified_sample / domain mixture
    compose downstream).

    Plan (100 TB): token explode carries ``(id, bucket)`` only; the
    two feature distributions are ``n_buckets``-row aggregates that
    BROADCAST back onto the token stream (the target corpus itself is
    never joined, only its 64-row histogram); one per-doc hash agg.
    The per-bucket log-ratio ``ln(ct+1) - ln(cr+1)`` and the global
    offset ``ln(Tr+B) - ln(Tt+B)`` use libm ln — last-ulp
    engine-variance absorbed by round_to (the BM25-scoring trade,
    documented there).

    Output: ``(id, n_tokens, log_w)``; documents with zero tokens
    carry no evidence and drop (weightless, same as the paper's
    empty-feature case)."""
    from bigdatasearchpro_spark.operators.neardup import portable_hash_long

    def buckets(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(tokens_expr(text_col)).alias("__t"),
        ).select(
            F.col(id_col),
            (portable_hash_long(F.col("__t")) % n_buckets).alias("b"),
        )

    # tok feeds TWO consumers (the raw histogram and the final
    # broadcast-join + per-doc aggregate), so the tokenize -> explode ->
    # hash chain runs twice — DELIBERATELY (r13, reverting the r12
    # persist+checkpoint): the r12 matched-par A/B itself measured the
    # materialized form 54% SLOWER at bench scale (1.83 -> 2.83 s), the
    # r13 re-check under the throughput collector measured parity at
    # best, and at corpus scale persisting the exploded TOKEN STREAM
    # (one row per token — orders of magnitude more rows than the
    # corpus) is a full disk round-trip that costs more than re-running
    # a cheap narrow tokenize scan.  Two passes of a column-pruned scan
    # is the 100 TB shape here.
    tok = buckets(docs)
    raw = tok.groupBy("b").agg(F.count("*").alias("cr"))
    tgt = buckets(target).groupBy("b").agg(F.count("*").alias("ct"))
    dist = raw.join(tgt, "b", "left").select(
        "b", "cr", F.coalesce("ct", F.lit(0)).alias("ct")
    )
    totals = dist.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    per_tok = F.log(F.col("ct") + F.lit(1.0)) - F.log(F.col("cr") + F.lit(1.0))
    offset = F.log(F.col("tr") + F.lit(float(n_buckets))) - F.log(
        F.col("tt") + F.lit(float(n_buckets))
    )
    out = (
        tok.join(F.broadcast(dist), "b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(per_tok).alias("__s"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            # + 0.0 canonicalizes IEEE -0.0 to +0.0: a doc whose
            # rounded weight is negative zero would stringify as
            # '-0.0' on one engine and '0.0' on the other under a
            # hash comparator, even though the values are equal
            (F.round(
                F.col("__s") + F.col("n_tokens").cast("double") * offset,
                round_to,
            ) + F.lit(0.0)).alias("log_w"),
        )
        .orderBy(id_col)
    )
    return out


def substring_dedup(
    docs: DataFrame,
    *,
    window_tokens: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
    hash_windows: bool = False,
) -> DataFrame:
    """Exact-substring deduplication (the ExactSubstr operator of Lee
    et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): remove every token position covered by a
    ``window_tokens``-token sequence that occurs at least
    ``min_count`` times in the WHOLE corpus (across documents and
    within-document repeats alike — occurrences, not distinct docs).
    Unlike :func:`segment_dedup`'s fixed non-overlapping segments,
    the windows here SLIDE (stride 1), so duplicated passages are
    caught at any alignment — the paper's suffix-array semantics at
    token granularity, re-expressed as three corpus-linear passes
    instead of a sequential suffix array:

    1. one explode to the sliding (id, wpos, window) rows
       (~n_tokens rows — the corpus token stream itself);
    2. one hash aggregate for per-window occurrence counts, kept only
       where count >= min_count (the duplicated-window set; at corpus
       scale the shuffle key should be ``xxhash64(window)`` — here the
       window string keeps the oracle replayable);
    3. the duplicated windows join back (shuffle on the same window
       key) and fan out to covered token positions
       (window start .. start+k-1, distinct);
    4. one anti-join of the positioned token stream against the
       covered set, then one group-back reassembling survivors in
       position order.

    Documents shorter than ``window_tokens`` have no windows and are
    kept whole; token-empty documents are recovered with zero counts
    (no document silently disappears).

    ``hash_windows=True`` is the corpus-scale path: the count/join key
    becomes ``xxhash64(window)``, so the two window-keyed shuffles
    carry 8 bytes per row instead of the k-token string (~50+ bytes).
    A 64-bit collision can only OVER-delete (two different windows
    sharing a hash pool their counts) — at 2^-64 per pair this is the
    standard trade the MinHash ring already makes; the default keeps
    exact strings so the DuckDB oracle replays bit-for-bit.

    Output: ``(id, n_tokens, n_removed, clean_text)``.
    """
    k = int(window_tokens)
    if k < 2:
        raise ValueError("window_tokens must be >= 2")
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    toks = tokens_expr(text_col)
    toked = docs.select(F.col(id_col), toks.alias("__toks"))

    win_idx = F.when(
        F.size("__toks") >= k,
        F.sequence(F.lit(0), F.size("__toks") - k),
    ).otherwise(F.array().cast("array<int>"))
    wins = toked.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                win_idx,
                lambda i: F.array_join(F.slice("__toks", i + 1, k), " "),
            )
        ).alias("wpos", "win"),
    )
    if hash_windows:
        wins = wins.select(
            F.col(id_col), "wpos", F.xxhash64("win").alias("win")
        )
    dup_wins = (
        wins.groupBy("win")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= F.lit(min_count))
        .select("win")
    )
    covered = (
        wins.join(dup_wins, "win")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("wpos"), F.col("wpos") + F.lit(k - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    tok_rows = toked.select(
        F.col(id_col), F.posexplode("__toks").alias("tpos", "tok")
    )
    kept = tok_rows.join(covered, [id_col, "tpos"], "left_anti")
    grouped = (
        tok_rows.groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"))
        .join(
            kept.groupBy(id_col).agg(
                F.count("*").alias("__n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("tpos", "tok"))
                        ),
                        lambda s: s["tok"],
                    ),
                    " ",
                ).alias("clean_text"),
            ),
            id_col,
            "left",
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (F.col("n_tokens") - F.coalesce("__n_kept", F.lit(0)))
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
    return docs.select(F.col(id_col)).join(grouped, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def ccnet_buckets(
    docs: DataFrame,
    *,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus's own bigram LM
    (:func:`textstats.bigram_lm_scores` — the self-trained stand-in
    for CCNet's KenLM) and split EACH LANGUAGE into equal-thirds
    ``head`` / ``middle`` / ``tail`` by fluency rank — head = most
    fluent, the slice CCNet feeds to pretraining first.

    The split is by per-language ntile RANK, not by interpolated
    percentile thresholds: rank assignment is integer-deterministic
    under ties (id tie-break), replayable cross-engine, and — the
    scale point — the window is PARTITIONED per language, so no
    corpus-global sort exists anywhere (the r6 deciles lesson).  Docs
    too short to have bigrams (NULL score) sort last and land in the
    tail, like CCNet's treatment of unscorable fragments.

    Output: ``(id, lang, avg_logprob, bucket)``.
    """
    from bigdatasearchpro_spark.operators.textstats import bigram_lm_scores

    scores = bigram_lm_scores(docs, id_col=id_col, text_col=text_col)
    joined = docs.select(F.col(id_col), F.col(lang_col)).join(
        scores.select(F.col(id_col), "avg_logprob"), id_col, "left"
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.desc_nulls_last("avg_logprob"), F.asc(id_col)
    )
    tile = F.ntile(3).over(w)
    return joined.select(
        F.col(id_col),
        F.col(lang_col),
        "avg_logprob",
        F.when(tile == 1, F.lit("head"))
        .when(tile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def leakage_safe_split(
    docs: DataFrame,
    clusters: "DataFrame | None" = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    val_pct: int = 10,
    test_pct: int = 10,
    hash_fn: str = "portable",
) -> DataFrame:
    """Train/val/test split that cannot LEAK across duplicates: the
    split hash is taken over the document's duplicate-CLUSTER id, not
    its own id, so every member of a cluster lands in the SAME split —
    the guard a plain id-hash split silently lacks (a near-identical
    copy of a test document in train is the classic eval
    contamination).

    ``clusters``: an optional ``(id, group_id)`` table (e.g.
    ``neardup.resolve_duplicate_groups`` over MinHash pairs — the
    near-dup-safe form).  Default: EXACT-text clusters — group_id =
    min doc id per content hash (one hash agg + one key join; no
    window).  Docs in no cluster are their own group.

    Plan: cluster assignment is the only shuffle; the split itself
    stays a pure projection (textstats.dataset_split on the group id).

    Output: ``(id, group_id, split)``.
    """
    from bigdatasearchpro_spark.operators.textstats import dataset_split

    if clusters is None:
        gmin = (
            docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
            .groupBy("__h")
            .agg(F.min(id_col).alias("group_id"))
        )
        clusters = (
            docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
            .join(gmin, "__h")
            .select(F.col(id_col), "group_id")
        )
    assigned = docs.select(F.col(id_col)).join(
        clusters.select(F.col(id_col), "group_id"), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce("group_id", F.col(id_col)).alias("group_id"),
    )
    split = dataset_split(
        assigned.select(F.col("group_id").alias(id_col)).distinct(),
        id_col,
        val_pct=val_pct,
        test_pct=test_pct,
        hash_fn=hash_fn,
    ).select(F.col(id_col).alias("group_id"), "split")
    return assigned.join(split, "group_id").select(
        F.col(id_col), "group_id", "split"
    )


def length_bucketed_batches(
    docs: DataFrame,
    *,
    batch_size: int = 32,
    shard_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batch layout for inference/training serving:
    within each shard, documents sort by token length (id tie-break)
    and chunk into ``batch_size`` batches, so every batch holds
    similar-length sequences and the padded cost
    ``n_docs * max_tokens`` stays near ``sum_tokens`` — the padding-
    minimization trick every serving stack uses (dynamic batching /
    bucketed bucketing).

    Plan: one narrow token-count projection, ONE window partitioned by
    the shard (each shard batches independently, the multi-writer
    layout — no global sort), one per-batch hash agg.

    Output: ``(shard, batch_id, n_docs, max_tokens, sum_tokens,
    padded_tokens)`` — padding efficiency is
    ``sum_tokens / padded_tokens``.
    """
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    toks = F.size(analyzer_tokens(F.col(text_col), "whitespace"))
    base = docs.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col),
        toks.alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.asc("n_tokens"), F.asc(id_col)
    )
    batched = base.withColumn(
        "batch_id",
        ((F.row_number().over(w) - F.lit(1)) / F.lit(batch_size))
        .cast("bigint"),
    )
    return (
        batched.groupBy("shard", "batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
            (F.count("*") * F.max("n_tokens")).alias("padded_tokens"),
        )
        .orderBy("shard", "batch_id")
    )


def curriculum_order(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    per_col: str = "lang",
    phases: int = 4,
) -> DataFrame:
    """Curriculum ordering: lay the corpus out easy-first for training —
    documents are bucketed into ``phases`` quality phases (phase 1 =
    highest quality logit) and SHUFFLED within each phase by
    ``md5(id)`` (the portable engine-agnostic shuffle
    :func:`domain_mixture` uses), the standard quality-curriculum
    recipe: the model sees clean text early, the noisy tail late,
    with no quality gradient *inside* a phase.

    Both windows partition by ``per_col`` (per-language streams — each
    group sorts in parallel over the SAME exchange, no global corpus
    sort; the l5_quality_deciles scale lesson).  Output:
    ``(id, per_col, logit_scaled, phase, seq_in_<per_col>)`` where the
    seq column is the within-group training order.
    """
    from bigdatasearchpro_spark.operators.textstats import (
        quality_logit_scores,
    )

    if phases <= 0:
        raise ValueError(f"phases must be positive, got {phases}")
    scored = quality_logit_scores(docs, text_col=text_col, id_col=id_col).join(
        docs.select(F.col(id_col), F.col(per_col)), id_col
    )
    wq = Window.partitionBy(per_col).orderBy(
        F.desc("logit_scaled"), F.asc(id_col)
    )
    staged = scored.select(
        F.col(id_col),
        F.col(per_col),
        F.col("logit_scaled"),
        F.ntile(phases).over(wq).alias("phase"),
    )
    ws = Window.partitionBy(per_col).orderBy(
        F.asc("phase"), F.md5(F.col(id_col).cast("string")), F.asc(id_col)
    )
    return staged.select(
        id_col,
        per_col,
        "logit_scaled",
        "phase",
        F.row_number().over(ws).alias(f"seq_in_{per_col}"),
    )


def shuffle_shards(
    docs: DataFrame,
    n_shards: int = 16,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic shard-shuffle assignment: every document draws its
    training shard from ``md5(id)`` — the global-shuffle step a shard
    writer runs before tensorization, reprocessing-stable (re-running
    over a grown corpus never moves an old document to a new shard,
    unlike ``rand()`` or round-robin on arrival order).

    Returns the per-document ``(id, shard, n_tokens)`` assignment
    (whitespace token count, the payload a balance check needs).  The
    writer form is ``result.repartition(n_shards, "shard")
    .sortWithinPartitions("shard", id_col).write...`` — ONE hash
    exchange lands every shard contiguously on its writer task; md5 is
    uniform, so shard sizes concentrate tightly around corpus/n (no
    planned skew at any scale).
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(int(n_shards)),
    )
    n_tokens = F.size(analyzer_tokens(F.col(text_col), "whitespace"))
    return docs.select(
        F.col(id_col),
        shard.alias("shard"),
        n_tokens.cast("long").alias("n_tokens"),
    )


def intra_doc_dedup(
    docs: DataFrame,
    *,
    seg_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: TextCols = "text",
) -> DataFrame:
    """WITHIN-document repeated-segment removal — the intra-doc twin of
    :func:`segment_dedup`: a document that repeats its own content
    (scraper loops, templated listicles, chorus-like spam) keeps only
    the FIRST occurrence of each ``seg_tokens``-token segment; other
    documents are untouched.  Cross-doc boilerplate needs the
    corpus-level frequency agg; self-repetition needs no corpus state
    at all, which is why this form is strictly narrower.

    Plan: ONE array expression per row (``array_distinct`` preserves
    first-occurrence order) — no explode, no shuffle, no corpus pass;
    embarrassingly parallel at any scale.

    Output: ``(id, n_segments, n_removed, clean_text)``.
    """
    # segs/tokens staged in their own projections: used 3x each below,
    # inline they re-evaluate per use (and the slice lambda per
    # segment) — CollapseProject keeps multi-use non-cheap aliases
    staged = docs.select(
        F.col(id_col), tokens_expr(text_col).alias("__toks")
    ).select(
        F.col(id_col), _segments(F.col("__toks"), seg_tokens).alias("__segs")
    )
    kept = F.array_distinct(F.col("__segs"))
    return staged.select(
        F.col(id_col),
        F.size("__segs").alias("n_segments"),
        (F.size("__segs") - F.size(kept)).alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def tokenizer_fertility(
    docs: DataFrame,
    *,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-evaluation stats per group (usually language):
    **fertility** = BPE tokens per whitespace word and **bytes per
    token** = UTF-8 bytes per BPE token — the two numbers a pretraining
    recipe checks before committing to a tokenizer (high fertility on a
    language means its documents cost disproportionate sequence length;
    the compression ratio drives token-budget accounting).

    One narrow projection (the byte-level BPE count is the existing
    Arrow ``pandas_udf`` over the fixed merges table) + one hash agg on
    the group key; the ratios divide the exact integer sums once, so
    they are bit-stable — but the BPE count itself is not
    SQL-expressible, so the registry entry is rows-only by design with
    a Python-twin pytest.

    Output: ``(group, n_docs, bpe_tokens, ws_words, n_bytes,
    fertility, bytes_per_token)``.
    """
    from bigdatasearchpro_spark.functions.bpe import bpe_token_count

    ws = F.size(analyzer_tokens(F.col(text_col), "whitespace"))
    base = docs.select(
        F.col(group_col),
        bpe_token_count(F.col(text_col)).alias("__bpe"),
        ws.cast("long").alias("__words"),
        F.octet_length(text_col).cast("long").alias("__bytes"),
    )
    agg = base.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("__bpe").alias("bpe_tokens"),
        F.sum("__words").alias("ws_words"),
        F.sum("__bytes").alias("n_bytes"),
    )
    return agg.select(
        group_col,
        "n_docs",
        "bpe_tokens",
        "ws_words",
        "n_bytes",
        (
            F.col("bpe_tokens").cast("double") / F.col("ws_words").cast("double")
        ).alias("fertility"),
        (
            F.col("n_bytes").cast("double") / F.col("bpe_tokens").cast("double")
        ).alias("bytes_per_token"),
    )
