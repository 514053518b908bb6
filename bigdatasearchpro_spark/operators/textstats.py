"""Text analysis / quality operators (SURVEY.md L5).

Everything here is a narrow projection over built-in functions — no
shuffle, no Python — so it composes with any upstream scan and runs at
full codegen speed over a 100 TB corpus. Language-ID and fingerprinting
use only deterministic arithmetic so results are reproducible across
engines and runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The ONE tokenizer (ES-standard-alike, or whitespace) shared by search,
# dedup and text stats — oracle parity and cross-operator token
# consistency depend on every consumer calling it, not a restated split.
from bigdatasearchpro_spark.operators.analyzers import analyzer_tokens

# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
# (a simplification of the GPT-2 pre-tokenizer regex, public knowledge).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on with as at by".split()
)


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are neither alphanumeric nor space."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(text) > 0, F.length(stripped) / F.length(text)).otherwise(0.0)


def stopword_ratio(text: Column) -> Column:
    toks = analyzer_tokens(text)
    stops = F.filter(toks, lambda t: t.isin(*STOPWORDS))
    return F.when(F.size(toks) > 0, F.size(stops) / F.size(toks)).otherwise(0.0)


def quality_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality metrics used for corpus filtering:
    length, token counts, punctuation/stopword ratios, mean word length.

    The two tokenizations (whitespace words, analyzer tokens) are
    materialized ONCE each in their own projection before any metric
    reads them: higher-order-function trees are interpreted and
    projection collapse would otherwise re-run the regex split per
    metric reference — 5-6 splits per row on the corpus hot path.
    """
    from bigdatasearchpro_spark.sources.files import fan_out

    df = fan_out(df)  # regex-heavy narrow op: spread single-file scans
    t = F.col(text_col)
    staged = df.select(
        F.col(id_col),
        t.alias("__t"),
        analyzer_tokens(t, "whitespace").alias("__w"),
        analyzer_tokens(t).alias("__a"),
    )
    w, a = F.col("__w"), F.col("__a")
    mean_wl = F.when(
        F.size(w) > 0,
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)) / F.size(w),
    ).otherwise(0.0)
    stops = F.filter(a, lambda x: x.isin(*STOPWORDS))
    sw_ratio = F.when(F.size(a) > 0, F.size(stops) / F.size(a)).otherwise(0.0)
    return staged.select(
        F.col(id_col),
        F.length("__t").alias("n_chars"),
        F.size(w).alias("n_words"),
        bpe_ish_token_count(F.col("__t")).alias("n_tokens"),
        F.round(punct_ratio(F.col("__t")), 4).alias("punct_ratio"),
        F.round(sw_ratio, 4).alias("stopword_ratio"),
        F.round(mean_wl, 4).alias("mean_word_len"),
    )


# Tiny per-language marker lists (public linguistic facts); the heuristic
# scores each language by marker-token hits and picks the argmax.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "und", "die", "das", "mit"],
    "fr": ["le", "et", "les", "des", "avec"],
    "es": ["el", "y", "los", "las", "con"],
    "zh": ["de5", "shi4", "he2", "zai4", "le5"],  # pinyin-romanized fixture text
}


def lang_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Marker-token language ID: argmax over per-language hit counts,
    deterministic tie-break by language code. Pure expressions."""
    from bigdatasearchpro_spark.sources.files import fan_out

    df = fan_out(df)
    staged = df.select(
        F.col(id_col),
        analyzer_tokens(F.col(text_col)).alias("__a"),
    )
    toks = F.col("__a")
    # negated hits + ascending sort: most hits first, and among equal
    # hit counts the lexicographically-smallest language code wins
    # (struct ordering is field-by-field) — e.g. an all-zero-hit doc
    # labels 'de', not 'zh'.
    scores = [
        F.struct(
            (-F.size(F.filter(toks, lambda t: t.isin(*markers)))).alias("neg_hits"),
            F.lit(code).alias("lang"),
        )
        for code, markers in sorted(_LANG_MARKERS.items())
    ]
    best = F.sort_array(F.array(*scores), asc=True)[0]
    return staged.select(
        F.col(id_col),
        best["lang"].alias("pred_lang"),
        (-best["neg_hits"]).alias("marker_hits"),
    )


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    window: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Document fingerprint: min-hash over rolling character n-grams
    (winnowing-style). ``substring`` shingles hashed and min/max/xor
    reduced — one projection, no Python, stable across runs.

    ``hash_fn='portable'`` uses the md5-based engine-agnostic family
    (operators/neardup.py module header), making the fingerprints
    reproducible outside Spark — the oracle-verified registry variant."""
    from bigdatasearchpro_spark.operators.neardup import portable_hash_long
    from bigdatasearchpro_spark.sources.files import fan_out

    if hash_fn not in ("xxhash64", "portable"):
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    df = fan_out(df)
    t = F.col(text_col)
    n = F.greatest(F.length(t) - F.lit(window - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), n), lambda i: F.substring(t, i, window)
    )
    hasher = portable_hash_long if hash_fn == "portable" else F.xxhash64
    hashes = F.transform(shingles, lambda s: hasher(s))
    return df.select(
        F.col(id_col),
        F.array_min(hashes).alias("fp_min"),
        F.array_max(hashes).alias("fp_max"),
        # XOR fold (overflow-free under ANSI mode, order-insensitive)
        F.aggregate(
            hashes, F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x)
        ).alias("fp_xor"),
    )


# PII patterns: intentionally simple/portable (RE2-compatible — no
# backrefs/lookaround) so the same pattern runs in Spark (Java regex),
# DuckDB (RE2), and any downstream scrubber.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9() -]{7,}[0-9]"


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    *,
    out_col: str | None = None,
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
) -> DataFrame:
    """Mask emails then phone numbers in ``text_col`` (codegen'd
    regexp_replace, global). Order matters: emails first so digit runs
    inside addresses aren't half-eaten by the phone pattern. A corpus
    scrub before training is a narrow map — no shuffle, safe to fuse
    with any downstream filter."""
    out = out_col or text_col
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_RE, email_token),
        PHONE_RE,
        phone_token,
    )
    return df.withColumn(out, cleaned)


def dataset_split(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    val_pct: int = 10,
    test_pct: int = 10,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashing the document
    id: ``pmod(hash(id), 100)`` buckets -> split label. Pure
    projection (no shuffle, no state); the same row lands in the same
    split on every run, cluster size, and partitioning — the property
    random splits lose the moment data is reprocessed.

    ``hash_fn='xxhash64'`` (default, fastest — JVM intrinsic) or
    ``'portable'``: md5 of the stringified id, first 60 bits — the
    engine-portable family every ``*_md5`` twin uses, bit-reproducible
    in DuckDB/any engine (``seed`` is ignored: md5 is unkeyed)."""
    if hash_fn == "xxhash64":
        bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(100))
    elif hash_fn == "portable":
        bucket = F.pmod(
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
            ).cast("long"),
            F.lit(100),
        )
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    label = (
        F.when(bucket < val_pct, F.lit("val"))
        .when(bucket < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", label)


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Word-repetition quality signals (Gopher/C4-style filters):
    ``dup_word_ratio`` = 1 - distinct/total words, ``top_word_ratio`` =
    most frequent word's share. Two-level hash aggregation
    ((doc, word) counts, then per-doc rollup) — both stages get
    map-side partials; shuffle carries (doc, word, n), never text."""
    toks = df.select(
        F.col(id_col),
        F.explode(analyzer_tokens(F.col(text_col))).alias("__w"),
    )
    per_word = toks.groupBy(id_col, "__w").agg(F.count("*").alias("__n"))
    return per_word.groupBy(id_col).agg(
        F.sum("__n").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("__n").alias("max_n"),
        F.round(
            F.lit(1.0) - F.count("*") / F.sum("__n"), 4
        ).alias("dup_word_ratio"),
        F.round(F.max("__n") / F.sum("__n"), 4).alias("top_word_ratio"),
    )


def ngram_repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    ns: "tuple[int, ...]" = (2, 3),
) -> DataFrame:
    """Gopher-style n-gram repetition quality signals (Rae et al. 2021
    repetition filters, token-level analogue): per document and per
    ``n`` — ``dup_{n}gram_frac`` = 1 - distinct/total n-gram
    occurrences, ``top_{n}gram_frac`` = the most frequent n-gram's
    share of occurrences. Wide output, one row per doc with at least
    one n-gram; docs shorter than every ``n`` drop out (no signal
    exists), columns are NULL for the ns a doc is too short for.

    Plan: one shingle explode per n (unioned with an ``n`` tag), a
    two-level hash agg ((doc, n, shingle) counts then per-(doc, n)
    rollup — both stages map-side partial), and a conditional-agg
    pivot back to one row per doc. Shuffles carry (id, n, shingle
    hash-sized strings, count) — never documents.
    """
    from bigdatasearchpro_spark.operators.curation import _shingles
    from bigdatasearchpro_spark.operators.search import tokens_expr

    toked = df.select(F.col(id_col), tokens_expr(text_col).alias("__t"))
    exploded = None
    for n in ns:
        part = toked.select(
            F.col(id_col),
            F.lit(int(n)).alias("__n"),
            F.explode(_shingles(F.col("__t"), int(n))).alias("__s"),
        )
        exploded = part if exploded is None else exploded.unionByName(part)
    counts = exploded.groupBy(id_col, "__n", "__s").agg(F.count("*").alias("__c"))
    per_n = counts.groupBy(id_col, "__n").agg(
        F.sum("__c").alias("__total"),
        F.count("*").alias("__dist"),
        F.max("__c").alias("__max"),
    )
    aggs = []
    for n in ns:
        is_n = F.col("__n") == int(n)
        aggs.append(
            F.max(
                F.when(
                    is_n,
                    F.round(
                        F.lit(1.0) - F.col("__dist") / F.col("__total"), 4
                    ),
                )
            ).alias(f"dup_{n}gram_frac")
        )
        aggs.append(
            F.max(
                F.when(is_n, F.round(F.col("__max") / F.col("__total"), 4))
            ).alias(f"top_{n}gram_frac")
        )
    return per_n.groupBy(id_col).agg(*aggs)


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Sliding-window document chunking (context-window prep for LLM
    training): chunk ``i`` covers characters ``[i*stride+1, i*stride+size]``,
    overlapping its neighbor by ``size - stride`` characters, emitted
    while ``i*stride < length(text)``.

    Narrow per-row explode (sequence -> explode -> substring): no
    shuffle, no state, and each output row carries only its own chunk —
    a 100 TB corpus chunks in one embarrassingly-parallel map stage. The
    per-doc fan-out factor is len/stride, so output partition sizing
    follows input partition sizing times a known constant.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    n_chunks = F.greatest(
        F.ceil(F.length(F.col(text_col)) / F.lit(stride)).cast("int"), F.lit(1)
    )
    return (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_id"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            F.substring(
                F.col(text_col), F.col("chunk_id") * stride + 1, F.lit(size)
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


def stratified_sample(
    df: DataFrame,
    rates_pct: dict[str, int],
    *,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_pct: int = 0,
) -> DataFrame:
    """Deterministic per-stratum downsampling (corpus rebalancing — e.g.
    cap the dominant language while keeping low-resource ones whole).

    Keeps a row iff ``md5(id) mod 100 < rates_pct[stratum]``. Pure
    projection + filter: reproducible under reprocessing, repartitioning
    and cluster resizing (unlike ``df.sampleBy``, whose RNG draw depends
    on partition layout), and engine-portable — md5 has the same value
    in every engine, so the exact row set is auditable downstream.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    keep = F.lit(default_pct)
    for stratum, pct in sorted(rates_pct.items()):
        keep = F.when(F.col(strata_col) == stratum, F.lit(pct)).otherwise(keep)
    return df.filter(bucket < keep)


def vocab_topk(
    df: DataFrame,
    k: int = 50,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary heavy hitters: the ``k`` most frequent analyzer
    tokens with their counts (corpus profiling / stopword discovery).

    Two-level aggregation: explode -> (term, count) hash-agg with
    map-side partials (the shuffle carries one row per distinct term
    per task, never per occurrence) -> TakeOrdered k. Deterministic
    ties by term asc. At 100 TB the distinct-vocabulary shuffle is
    |vocab|-bounded, which is millions, not corpus-sized.
    """
    toks = df.select(
        F.explode(analyzer_tokens(F.col(text_col))).alias("term")
    )
    return (
        toks.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(k)
    )


def cms_sketch(
    df: DataFrame,
    *,
    text_col: str = "text",
    width: int = 2048,
    depth: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Count-min sketch over the corpus token stream as a DataFrame:
    ``depth`` independent hash rows of ``width`` counters, built with
    ONE hash-aggregate (map-side partials make it mergeable across
    partitions by construction — the classic CMS merge is exactly
    Spark's partial-agg combine). The whole sketch is ``depth x width``
    rows of (d, bucket, n) — fixed memory regardless of corpus size,
    the property that makes it the 100 TB path for frequency questions
    the exact |vocab|-sized aggregate (vocab_topk) answers at small
    scale."""
    toks = df.select(
        F.explode(analyzer_tokens(F.col(text_col))).alias("term")
    )
    rows = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(F.xxhash64(F.col("term"), F.lit(seed + d)), F.lit(width))
                        .alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__c")
    ).select("__c.d", "__c.bucket")
    return rows.groupBy("d", "bucket").agg(F.count("*").alias("n"))


def cms_estimate_counts(
    df: DataFrame,
    terms: list[str],
    *,
    text_col: str = "text",
    width: int = 2048,
    depth: int = 5,
    seed: int = 42,
) -> dict:
    """Count-min estimates for ``terms`` from :func:`cms_sketch`:
    est(t) = min over rows d of counter[d][h_d(t)]. Never undercounts;
    overcounts by <= e/width * N with prob >= 1 - e^-depth (standard
    CMS bound). The query cost is a broadcast join of |terms| x depth
    probe rows against the sketch — the corpus is not rescanned.
    Returns {term: estimated_count}."""
    spark = df.sparkSession
    sketch = cms_sketch(df, text_col=text_col, width=width, depth=depth, seed=seed)
    probes = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select(
            "term",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.pmod(
                                F.xxhash64(F.col("term"), F.lit(seed + d)),
                                F.lit(width),
                            ).alias("bucket"),
                        )
                        for d in range(depth)
                    ]
                )
            ).alias("__c"),
        )
        .select("term", "__c.d", "__c.bucket")
    )
    est = (
        sketch.join(F.broadcast(probes), ["d", "bucket"])
        .groupBy("term")
        .agg(F.min("n").alias("est"))
    )
    out = {r["term"]: r["est"] for r in est.collect()}
    # a term hashing only to never-touched buckets has count 0
    return {t: out.get(t, 0) for t in terms}


def bigram_lm_scores(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-LM fluency score (the perplexity-style quality filter,
    self-trained): per-document mean log P(w_i | w_{i-1}) under the
    corpus's own MLE bigram model. Low scorers are word-salad relative
    to the corpus — the classic cheap filter before an expensive model
    pass.

    Two hash-aggregations build the model (bigram + unigram counts,
    map-side partials; the shuffle carries (gram, n), never text), then
    one join back on the bigram key scores every occurrence. MLE needs
    no smoothing here because scoring and training corpora coincide
    (every scored bigram has count >= 1). Docs with < 2 tokens score
    NULL (no bigrams).

    Output: (id, n_bigrams, avg_logprob) — avg_logprob in (-inf, 0].
    """
    toked = df.select(
        F.col(id_col),
        analyzer_tokens(F.col(text_col)).alias("__t"),
    )
    bigrams = toked.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("__t") - F.lit(2)),
                    lambda i: F.struct(
                        F.col("__t")[i].alias("a"), F.col("__t")[i + 1].alias("b")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("__g"),
    ).select(F.col(id_col), "__g.a", "__g.b")

    c2 = bigrams.groupBy("a", "b").agg(F.count("*").alias("__n2"))
    c1 = bigrams.groupBy("a").agg(F.count("*").alias("__n1"))
    scored = (
        bigrams.join(c2, ["a", "b"])
        .join(c1, "a")
        .withColumn("__lp", F.log(F.col("__n2") / F.col("__n1")))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("__lp"), 4).alias("avg_logprob"),
    )


# Linear quality-classifier weights (an interpretable stand-in for the
# fastText/logreg quality filters production pipelines train; public
# heuristic weights, one source of truth for the Spark expression AND
# the oracle SQL generator).
#
# The logit is computed in EXACT INTEGER arithmetic: the 4-decimal
# ratio features scale to ints via the portable floor(x*10000 + 0.5),
# and the weights below are integer weights on that scaled grid, with
# the whole sum additionally scaled x4 so 0.25 stays integral. (A
# straight double weighted-sum rounded to 4dp flaked: Spark's
# BigDecimal HALF_UP and DuckDB's multiply-and-round disagree on
# decimal-tie values, which these low-precision features hit
# constantly.) LOGIT_SCALE converts back: logit = scaled / 40000.
QUALITY_LOGIT_SCALE = 40000
# (feature, integer weight on the x40000 logit scale, is_ratio)
# ratio features arrive as 4-decimal doubles and scale x10000 first;
# count features are already ints. Real weights: n_words 0.02,
# stopword_ratio 3.0, punct_ratio -8.0, mean_word_len 0.25.
QUALITY_LOGIT_IWEIGHTS: tuple[tuple[str, int, bool], ...] = (
    ("n_words", 800, False),        # 0.02 * 40000
    ("stopword_ratio", 12, True),   # 3.0 * 40000 / 10000
    ("punct_ratio", -32, True),     # -8.0 * 40000 / 10000
    ("mean_word_len", 1, True),     # 0.25 * 40000 / 10000
)
QUALITY_LOGIT_IBIAS = -80000  # -2.0 * 40000


def quality_logit_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Linear quality classifier over :func:`quality_stats` features —
    the scoring shape of the learned quality filters (fastText/logreg)
    training pipelines apply before dedup, with fixed interpretable
    weights. Output: ``(id, logit_scaled, keep)`` where
    ``logit_scaled`` is the logit on the exact x40000 integer grid and
    ``keep = logit_scaled > 0`` — bit-reproducible across engines (no
    float rounding anywhere; see the weight-table comment)."""
    stats = quality_stats(df, text_col=text_col, id_col=id_col)
    logit = F.lit(QUALITY_LOGIT_IBIAS).cast("long")
    for feat, w, is_ratio in QUALITY_LOGIT_IWEIGHTS:
        if is_ratio:
            scaled = F.floor(
                F.col(feat).cast("double") * 10000 + F.lit(0.5)
            ).cast("long")
        else:
            scaled = F.col(feat).cast("long")
        logit = logit + F.lit(w) * scaled
    return stats.select(
        F.col(id_col),
        logit.alias("logit_scaled"),
        (logit > 0).alias("keep"),
    )


def quality_logit_sql(stats_cte: str = "qstats") -> str:
    """The SAME integer weighted sum as SQL over a quality-stats CTE."""
    expr = str(QUALITY_LOGIT_IBIAS)
    for feat, w, is_ratio in QUALITY_LOGIT_IWEIGHTS:
        term = (
            f"floor({feat}::DOUBLE * 10000 + 0.5)::BIGINT"
            if is_ratio
            else f"{feat}::BIGINT"
        )
        expr = f"({expr} + {w} * {term})"
    return (
        f"SELECT doc_id, {expr}::BIGINT AS logit_scaled, {expr} > 0 AS keep "
        f"FROM {stats_cte}"
    )


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document SCRIPT detection for multilingual corpus routing
    (which analyzer family, which tokenizer, which LM): exact
    character counts per writing system (latin, cyrillic, CJK
    ideographs, digits) plus the dominant script by count argmax with
    a fixed precedence tie-break (latin > cyrillic > cjk > digit >
    none — deterministic where a float-ratio argmax would not be).
    Pure integer regexp counts in ONE narrow projection — each count
    is ``length(text) - length(regexp_replace(text, class, ''))``
    style arithmetic, no explode, no UDF; any SQL engine replays it."""
    t = F.col(text_col)

    def n(cls: str) -> Column:
        return F.length(F.regexp_replace(t, cls, ""))

    n_latin = (F.length(t) - n("[A-Za-z]")).cast("long")
    n_cyr = (F.length(t) - n("[а-яёА-ЯЁ]")).cast("long")
    n_cjk = (F.length(t) - n("[一-鿿]")).cast("long")
    n_digit = (F.length(t) - n("[0-9]")).cast("long")
    dominant = (
        F.when((n_latin >= n_cyr) & (n_latin >= n_cjk)
               & (n_latin >= n_digit) & (n_latin > 0), "latin")
        .when((n_cyr >= n_cjk) & (n_cyr >= n_digit) & (n_cyr > 0), "cyrillic")
        .when((n_cjk >= n_digit) & (n_cjk > 0), "cjk")
        .when(n_digit > 0, "digit")
        .otherwise("none")
    )
    return df.select(
        F.col(id_col),
        n_latin.alias("n_latin"),
        n_cyr.alias("n_cyrillic"),
        n_cjk.alias("n_cjk"),
        n_digit.alias("n_digit"),
        dominant.alias("dominant_script"),
    )


def quality_logit_attach(
    df: DataFrame, text_col: str = "text", out_col: str = "logit_scaled"
) -> DataFrame:
    """The ingest-time (inference-processor) form of
    :func:`quality_logit_scores`: attach the exact x40000-grid quality
    logit as a NEW column while PRESERVING every input column — no id
    required, no join, no shuffle; the staged tokenizations live in
    temp columns for the duration of the projection (the same
    one-materialization rule quality_stats documents) and are dropped.
    Bit-equality with quality_logit_scores is pinned by pytest
    (tests/test_ingest.py)."""
    from bigdatasearchpro_spark.sources.files import fan_out

    df = fan_out(df)
    t = F.col(text_col)
    staged = df.withColumn("__q_w", analyzer_tokens(t, "whitespace")).withColumn(
        "__q_a", analyzer_tokens(t)
    )
    w, a = F.col("__q_w"), F.col("__q_a")
    mean_wl = F.when(
        F.size(w) > 0,
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)) / F.size(w),
    ).otherwise(0.0)
    stops = F.filter(a, lambda x: x.isin(*STOPWORDS))
    sw_ratio = F.when(F.size(a) > 0, F.size(stops) / F.size(a)).otherwise(0.0)
    feats = {
        "n_words": F.size(w),
        "punct_ratio": F.round(punct_ratio(t), 4),
        "stopword_ratio": F.round(sw_ratio, 4),
        "mean_word_len": F.round(mean_wl, 4),
    }
    logit = F.lit(QUALITY_LOGIT_IBIAS).cast("long")
    for feat, wgt, is_ratio in QUALITY_LOGIT_IWEIGHTS:
        c = feats[feat]
        scaled = (
            F.floor(c.cast("double") * 10000 + F.lit(0.5)).cast("long")
            if is_ratio
            else c.cast("long")
        )
        logit = logit + F.lit(wgt) * scaled
    return staged.withColumn(out_col, logit).drop("__q_w", "__q_a")
