"""Near-duplicate detection (SURVEY.md L2): MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design: the quadratic pair space is never materialized. Both
algorithms map each document to a small signature in one narrow pass
(xxhash64 over shingles — JVM-side, seeded, deterministic), then find
candidate pairs with an *equi join on band/chunk keys* (hash shuffle on
a short key), and only candidates get the exact verification. At 100 TB
the shuffle carries (key, doc_id, signature) triples, not documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatasearchpro_spark.operators.analyzers import analyzer_tokens

# --- portable hash family -------------------------------------------------
# The default signature hash is xxhash64 (fastest JVM path) but it has no
# twin outside Spark. The "portable" family below — a 60-bit integer from
# the md5 hex prefix, permuted with 31-bit modular affine maps — computes
# bit-identically in any engine with md5 + 64-bit integer arithmetic
# (DuckDB included), which is what lets the LSH pipeline be
# oracle-verified end to end. All intermediates stay under 2^62, so
# Spark's ANSI mode can never overflow.

PORTABLE_PRIME = 2147483647  # 2^31 - 1
_BAND_FOLD_K = 1000003

# signature width per simhash token-hash family: xxhash64 fills a full
# long; the portable (md5-prefix) hash is 60 bits — conveniently also
# sign-free, which keeps the SQL twin pure positive BIGINT arithmetic
SIMHASH_BITS = {"xxhash64": 64, "portable": 60}


def portable_hash_long(col: Column) -> Column:
    """60-bit deterministic hash: first 15 hex chars of md5. DuckDB twin:
    ``('0x' || substring(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_perm_consts(n_perms: int) -> list[tuple[int, int]]:
    """(a_i, b_i) of the i-th affine permutation hash
    ``h_i(x) = (a_i * (x % P) + b_i) % P`` — fixed constants shared by
    the Spark expressions and the SQL oracle generator."""
    p = PORTABLE_PRIME
    return [
        ((2654435761 * (i + 1)) % p, (40503 * (i + 1) * (i + 1) + 17) % p)
        for i in range(n_perms)
    ]


def _portable_perm_expr(base: Column, a: int, b: int) -> Column:
    p = PORTABLE_PRIME
    return (F.lit(a) * (base % F.lit(p)) + F.lit(b)) % F.lit(p)


def _portable_band_expr(band: int, mh_cols: list[Column]) -> Column:
    """Band bucket key: modular polynomial fold of the band's minhash
    components, seeded with the band index."""
    acc: Column = F.lit(band).cast("long")
    for c in mh_cols:
        acc = (acc * F.lit(_BAND_FOLD_K) + c) % F.lit(PORTABLE_PRIME)
    return acc


def word_ngrams(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-grams over a *materialized* token-array column.

    Callers must alias the tokenization into its own projection first
    (see :func:`ngram_jaccard_pairs`): passing a raw ``split(...)``
    expression here would re-inline the split at every element access —
    the sequence/transform below reads ``tokens`` ~3n times per row.
    """
    cnt = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), cnt - 1),
            lambda i: F.concat_ws(" ", *[tokens[i + j] for j in range(n)]),
        )
    )


def exploded_shingles(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
) -> DataFrame:
    """(id, shingle) rows — the flat building block for signatures and
    shingle sets.

    Materializes ``lower(text)`` in its own projection before the
    per-position substring: passing the raw expression through would
    re-inline (and re-evaluate) the lowercasing at every element access.
    Everything here is flat codegen'd row logic — no higher-order
    functions in the hot path.
    """
    from bigdatasearchpro_spark.sources.files import fan_out

    docs = fan_out(docs)  # shingling serializes on few-split local scans
    lowered = docs.select(F.col(id_col), F.lower(F.col(text_col)).alias("__lt"))
    positions = lowered.select(
        F.col(id_col),
        F.col("__lt"),
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.length("__lt") - F.lit(shingle_k - 1), F.lit(1))
            )
        ).alias("__i"),
    )
    return positions.select(
        F.col(id_col), F.col("__lt").substr(F.col("__i"), F.lit(shingle_k)).alias("__s")
    )


def minhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perms: int = 32,
    shingle_k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One row per document with ``mh0..mh{n-1}`` min-hash columns.

    Scale form: explode shingles to (id, shingle) rows, hash each
    shingle ONCE (string hash), derive the n_perms permutation hashes
    from that 8-byte base (long+seed hashing is ~free vs re-hashing the
    string), and take per-document mins with a hash aggregate. Map-side
    partial aggregation collapses each task's rows to one n_perms-long
    vector per doc before the shuffle, so shuffle volume is
    n_perms * 8 bytes per document regardless of document length.
    Duplicate shingles don't affect a min, so no distinct is needed.

    ``hash_fn='portable'`` swaps xxhash64 for the md5-based family
    (module header) — ~2x slower per shingle but reproducible in any
    engine, which is what the oracle-verified registry variant uses.
    """
    if hash_fn not in ("xxhash64", "portable"):
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    exploded = exploded_shingles(
        docs, id_col=id_col, text_col=text_col, shingle_k=shingle_k
    )
    if hash_fn == "portable":
        based = exploded.select(
            F.col(id_col), portable_hash_long(F.col("__s")).alias("__h")
        )
        consts = portable_perm_consts(n_perms)
        return based.groupBy(id_col).agg(
            *[
                F.min(_portable_perm_expr(F.col("__h"), a, b)).alias(f"mh{i}")
                for i, (a, b) in enumerate(consts)
            ]
        )
    based = exploded.select(F.col(id_col), F.xxhash64("__s").alias("__h"))
    return based.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"mh{i}")
            for i in range(n_perms)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two DUPLICATE-FREE arrays (sets).

    |A∪B| is derived as |A|+|B|-|A∩B| instead of materializing
    array_union: array_intersect and array_union of the SAME two
    columns in one projection hit a codegen blow-up measured 14x
    slower than either expression alone (28 s vs 2.1 s for 147 k
    240-element pairs at local[32]; union alone 1.1 s, two intersects
    1.1 s, intersect + derived union 0.6 s).  Every caller's inputs
    are set-valued (array_distinct output, collect_set, collect_list
    over distinct grams), where the identity is exact and the division
    operands are the same ints — the score is bit-identical.
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perms: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.6,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.

    rows = bands of size n_perms/bands; candidate pairs share at least
    one band hash; verification computes true shingle-set Jaccard.
    Returns (left_id, right_id, jaccard_sim), left_id < right_id.

    With ``hash_fn='portable'`` every stage (signatures, band keys,
    estimate prefilter, exact verify) is bit-reproducible outside Spark;
    :func:`portable_minhash_oracle_sql` emits the matching DuckDB
    program.
    """
    rows_per_band = n_perms // bands
    # Signatures are materialized: n_perms longs per doc (a ~0.3 KB row
    # at n_perms=32 — at 100 TB of text this is tens of GB, i.e. a
    # cacheable/persistable side table), consumed by both sides of the
    # self-join and by the estimate-verify stage below. Without the
    # persist every consumer re-runs the full shingle scan.
    sig = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, n_perms=n_perms,
        shingle_k=shingle_k, hash_fn=hash_fn,
    ).persist()  # lazily filled by the first consumer job

    # Candidate generation shuffles ONLY (band_hash, doc_id) — neither
    # the shingle arrays nor the signatures enter the self-join (at
    # 100 TB they dominate row width; candidates are a tiny fraction of
    # the corpus).
    def _band_key(b: int) -> Column:
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_fn == "portable":
            return _portable_band_expr(b, cols)
        return F.xxhash64(F.lit(b), *cols)

    banded = sig.select(
        F.col(id_col),
        F.explode(F.array(*[_band_key(b) for b in range(bands)])).alias("bh"),
    )
    left = banded.select(F.col(id_col).alias("left_id"), "bh")
    right = banded.select(F.col(id_col).alias("right_id"), "bh")
    candidates = (
        left.join(right, "bh")
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )

    # Stage 1 verify (cheap): estimate Jaccard from the signatures
    # themselves — fraction of agreeing minhash components. Joining
    # 2 x n_perms longs per pair is orders cheaper than shingle sets;
    # pairs estimated well below the threshold (2-3 sigma of the
    # n_perms-sample estimator) are dropped before exact verification.
    # Signatures travel as one array column: narrow generated code (the
    # n_perms-column form made janino compilation the dominant cost).
    packed = sig.select(
        F.col(id_col), F.array(*[F.col(f"mh{i}") for i in range(n_perms)]).alias("__sig")
    )
    lsig = packed.select(F.col(id_col).alias("left_id"), F.col("__sig").alias("__ls"))
    rsig = packed.select(F.col(id_col).alias("right_id"), F.col("__sig").alias("__rs"))
    est = F.aggregate(
        F.zip_with("__ls", "__rs", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(n_perms))
    margin = 2.5 * (0.25 / n_perms) ** 0.5  # ~2.5 sigma at J=0.5
    # UNHINTED verify joins (r13, reverting the r12 shuffle_hash
    # hints): the forced ShuffledHashJoin added two exchanges per join
    # and a per-partition hash-map build per task, and the r12 driver
    # measured the hinted form 3x SLOWER at local[32] than local[8]
    # (scaling ratio 0.30 — per-task GC/deserialize contention from the
    # extra tasks; the r13 interleaved A/B at both core counts measured
    # hint-removal 2x on this query at 32 cores, neutral at 8).  Left
    # to the planner + AQE: at bench scale the per-doc signature tables
    # broadcast (they are under the threshold; the verify then runs
    # map-side on the pair table with NO exchange), and at corpus scale
    # neither side fits a broadcast so the planner falls back to
    # sort-merge — narrow (ids + signature array) rows, spills
    # gracefully, AQE skew-splitting still applies.  The r12 "verify
    # collapsed to 1 task" measurement that motivated the hints was
    # confounded with the jaccard() codegen blow-up fixed in the same
    # commit; with the cheap derived-union jaccard the unhinted form is
    # strictly faster at every measured core count.
    survivors = (
        candidates.join(lsig, "left_id")
        .join(rsig, "right_id")
        .withColumn("__est", est)
        .filter(F.col("__est") >= jaccard_threshold - margin)
        .select("left_id", "right_id")
    ).persist()

    # Stage 2 verify (exact): shingle-hash sets ONLY for surviving docs
    # (semi-join pruned), Jaccard over 8-byte hashes instead of strings.
    surv_ids = (
        survivors.select(F.col("left_id").alias(id_col))
        .union(survivors.select(F.col("right_id").alias(id_col)))
        .distinct()
    )
    # Semi-join the *documents* before shingling: survivors are a tiny
    # fraction of the corpus, so the explode (the widest intermediate in
    # the whole pipeline) runs only on rows that will be verified.
    surv_docs = docs.join(surv_ids, id_col, "left_semi")
    shingle_hash = (
        portable_hash_long(F.col("__s"))
        if hash_fn == "portable"
        else F.xxhash64("__s")
    )
    hashed = (
        exploded_shingles(
            surv_docs, id_col=id_col, text_col=text_col, shingle_k=shingle_k
        )
        .groupBy(id_col)
        .agg(F.collect_set(shingle_hash).alias("__sh"))
    ).persist()
    lsh = hashed.select(F.col(id_col).alias("left_id"), F.col("__sh").alias("__lsh"))
    rsh = hashed.select(F.col(id_col).alias("right_id"), F.col("__sh").alias("__rsh"))
    result = (
        survivors.join(lsh, "left_id")
        .join(rsh, "right_id")
        .withColumn("jaccard_sim", F.round(jaccard(F.col("__lsh"), F.col("__rsh")), 4))
        .filter(F.col("jaccard_sim") >= jaccard_threshold)
        .select("left_id", "right_id", "jaccard_sim")
    )
    # Materialize the (small) verified-pair output and release the three
    # cached intermediates — otherwise every invocation pins signature +
    # candidate + shingle-set blocks in the block manager for the
    # session's lifetime (tens of GB at corpus scale).
    result = result.localCheckpoint(eager=True)
    for cached in (sig, survivors, hashed):
        cached.unpersist()
    return result


def simhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_re: str | None = None,
    impl: str = "packed",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One row per document with a 64-bit SimHash column ``__sim``.

    Per-token xxhash64; each bit position accumulates +1/-1 by the
    token's bit; sign of the vote sum sets the output bit.

    ``impl='packed'`` (default): the 64 per-bit vote counters are packed
    4-to-a-long as 16-bit lanes — 16 SUM aggregates instead of 64, and
    the per-row update is pure shift/mask arithmetic with no branches.
    Only the count of SET bits is accumulated (bit b of the signature is
    1 iff ``2*ones_b > n_tokens``, algebraically identical to the ±1
    sum being positive), so each lane is bounded by the doc's token
    count: lanes cannot carry into each other while every document has
    < 65536 tokens, which is ASSERTED via the same aggregate (a 100 TB
    corpus with longer documents chunks first — chunk_documents — or
    uses ``impl='wide'``). Bit-equality with the wide form is tested.

    ``impl='wide'``: the original per-bit ±1 SUM formulation (kept as
    the unbounded-length fallback and the equality oracle).

    ``hash_fn='portable'``: per-token hash from the md5 family (module
    header) instead of xxhash64 — a 60-BIT signature (the portable
    hash's width) that DuckDB recomputes bit-identically, which is what
    lets the whole SimHash pipeline be oracle-verified
    (:func:`portable_simhash_oracle_sql`).
    """
    from bigdatasearchpro_spark.sources.files import fan_out

    if impl not in ("packed", "wide"):
        raise ValueError(f"unknown impl: {impl!r}")
    if hash_fn not in ("xxhash64", "portable"):
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    n_bits = SIMHASH_BITS[hash_fn]
    tok_hash = (
        portable_hash_long(F.col("__t"))
        if hash_fn == "portable"
        else F.xxhash64(F.col("__t"))
    )
    text = F.col(text_col)
    toks = (
        analyzer_tokens(text)
        if token_re is None
        else F.filter(F.split(F.lower(text), token_re), lambda t: t != "")
    )
    toked = fan_out(docs).select(
        F.col(id_col), F.explode(toks).alias("__t")
    ).withColumn("__h", tok_hash)

    def sig_bit(bit: int) -> int:
        # bit 63 of a long is the sign bit (xxhash64 signatures only)
        return 1 << bit if bit < 63 else -(1 << 63)

    if impl == "wide":
        votes = toked.groupBy(id_col).agg(
            *[
                F.sum(
                    F.when(F.shiftright(F.col("__h"), bit).bitwiseAND(F.lit(1)) == 1, 1)
                    .otherwise(-1)
                ).alias(f"v{bit}")
                for bit in range(n_bits)
            ]
        )
        out = F.lit(0).cast("long")
        for bit in range(n_bits):
            out = out.bitwiseOR(
                F.when(
                    F.col(f"v{bit}") > 0,
                    F.lit(sig_bit(bit)).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            )
        return votes.select(F.col(id_col), out.alias("__sim"))

    # packed: long g holds bits {4g..4g+3} in four 16-bit lanes
    h = F.col("__h")

    def packed(g: int):
        lanes = None
        for k in range(4):
            b = 4 * g + k
            lane = F.shiftleft(
                F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)).cast("long"),
                16 * k,
            )
            lanes = lane if lanes is None else lanes + lane
        return lanes

    n_groups = (n_bits + 3) // 4
    votes = toked.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[F.sum(packed(g)).alias(f"p{g}") for g in range(n_groups)],
    )
    # guard BEFORE decoding: a >=65536-token doc would have carried
    # between lanes and silently corrupted neighbors' counts
    votes = votes.withColumn(
        "__n",
        F.when(
            F.col("__n") < F.lit(1 << 16), F.col("__n")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("simhash packed lanes overflow: document "),
                    F.col(id_col).cast("string"),
                    F.lit(" has >= 65536 tokens; chunk it or use impl='wide'"),
                )
            ).cast("long")
        ),
    )
    n = F.col("__n")
    out = F.lit(0).cast("long")
    for bit in range(n_bits):
        g, k = bit // 4, bit % 4
        ones = F.shiftrightunsigned(F.col(f"p{g}"), 16 * k).bitwiseAND(
            F.lit(0xFFFF)
        )
        out = out.bitwiseOR(
            F.when(
                ones * 2 > n,
                F.lit(sig_bit(bit)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(F.col(id_col), out.alias("__sim"))


def simhash_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int = 4,
    max_bucket: int | None = 1024,
    hash_fn: str = "xxhash64",
    per_doc_cap: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: candidates share at least one of
    ``n_chunks`` 16-bit chunks (pigeonhole: any pair within
    ``n_chunks-1`` bit flips must collide on some chunk), verified by
    exact Hamming distance via bit_count(xor).

    Recall is guaranteed only for ``max_hamming <= n_chunks - 1`` —
    beyond that a pair can spread its differing bits across every chunk
    and never become a candidate, so the combination is rejected rather
    than silently under-recalling. More chunks buy a larger radius at
    the cost of smaller (more collision-prone) chunks.

    Density guard (``max_bucket``): buckets larger than ``max_bucket``
    are re-banded by a SECONDARY pigeonhole: members of a hot
    (chunk, value) bucket agree on that chunk, so their <=
    ``max_hamming`` differing bits all lie in the remaining 48 bits —
    splitting those into ``max_hamming+1`` sub-chunks guarantees any
    qualifying pair still collides on some (chunk, value, sub, subval)
    band. Recall is EXACTLY preserved; the hot bucket's join fan-out
    drops from |bucket|^2 to the sub-bucket sizes. Costs one extra
    count-aggregate over the (id, chunk, value) rows (ids + longs, not
    text) and a broadcast of the (tiny, <= n_chunks * 2^chunk_bits
    entry) hot-bucket list.

    The guard is a DENSITY fix, not just a skew fix: at small chunk
    widths (radius-7 banding = 8-bit chunks) every bucket crosses
    quadratic break-even long before any single value is "hot", and
    splitting pays once |bucket|^2 - n_sub*(|bucket|/2^sub_bits)^2
    exceeds the n_sub-row fan-out — i.e. for buckets of a few dozen
    rows — so 1024 is conservatively high while engaging the split
    64x earlier than the old 65536.  What the split can and cannot
    buy was measured in the round-10 sf10 sweep (SCALING.md): it cuts
    BANDING WASTE (candidate pairs that verify false), which on the
    skewed fixture meant sum(bucket^2) 122B -> 88B — wall gain is
    bounded by that 1.39x ratio (measured: md5 variant 42.7 -> 27.8 s;
    xxhash64 variant consistent within first-rep inflation); it
    cannot cut TRUE pair output — on a corpus where near-dup
    density itself grows quadratically (the fixture's 60-word
    vocabulary puts tier-copies within radius 7 of each other), the
    verified pair count dominates and grows with the density, which
    no banding scheme can change.  Sub-bucket skew tracks signature-
    bit bias (corpus-wide token statistics push every doc's bits the
    same way), so on small-vocabulary corpora expect the split's
    benefit to be bounded; on natural-vocabulary corpora the bias —
    and the waste the split removes — is the hot-key tail.
    """
    sigs = simhash_signatures(docs, id_col=id_col, text_col=text_col, hash_fn=hash_fn)
    return hamming_signature_pairs(
        sigs,
        id_col=id_col,
        n_bits=SIMHASH_BITS[hash_fn],
        max_hamming=max_hamming,
        n_chunks=n_chunks,
        max_bucket=max_bucket,
        per_doc_cap=per_doc_cap,
    )


def hamming_signature_pairs(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    n_bits: int,
    max_hamming: int = 3,
    n_chunks: int = 4,
    max_bucket: "int | None" = 1024,
    per_doc_cap: "int | None" = None,
) -> DataFrame:
    """The banded hamming-pair join over ANY integer signature column
    ``__sim`` (``(id, __sim)`` rows) — the generic core behind
    :func:`simhash_pairs`, reused by image pHash near-dup
    (multimodal/codecs.py image_phash): pigeonhole band-bucket join,
    map-side bit_count verify, hot-bucket secondary re-banding.  See
    :func:`simhash_pairs` for the recall guarantee and skew-guard
    contract (both apply verbatim here)."""
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"n_chunks-1={n_chunks - 1}; raise n_chunks or lower max_hamming"
        )
    # The signature table feeds FOUR plan consumers (both self-join
    # sides, the hot-bucket count agg, and the hot-mark join):
    # unpersisted, the whole signature trunk — tokenize explode + the
    # 16-lane packed vote aggregate — is instantiated once per
    # consumer (4 parquet-scan copies in the plan at the defaults;
    # exchange reuse does not cover the broadcast hot-list subtree).
    # (id, sim) longs — tiny at any scale; released after the result
    # materializes, minhash_lsh_pairs' pattern.
    sigs = sigs.persist()
    # near-equal chunk boundaries over the signature width (exact
    # 16-bit chunks at the defaults; remainder bits spread across
    # chunks)
    bounds = [round(i * n_bits / n_chunks) for i in range(n_chunks + 1)]
    chunked = sigs.select(
        id_col,
        "__sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("__sim"), bounds[c])
                        .bitwiseAND(F.lit((1 << (bounds[c + 1] - bounds[c])) - 1))
                        .alias("ch"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("__c"),
    ).select(id_col, "__sim", "__c.chunk", "__c.ch")

    if max_bucket is not None:
        chunked = _split_hot_buckets(
            chunked, bounds, max_hamming=max_hamming, max_bucket=max_bucket
        )
        band_keys = ["chunk", "ch", "sub", "subch"]
    else:
        band_keys = ["chunk", "ch"]

    left = chunked.select(
        F.col(id_col).alias("left_id"), F.col("__sim").alias("__ls"), *band_keys
    )
    right = chunked.select(
        F.col(id_col).alias("right_id"), F.col("__sim").alias("__rs"), *band_keys
    )
    # Verify BEFORE deduplicating: bit_count(xor) is a few cycles and
    # runs map-side right at the join output, so the dropDuplicates
    # exchange carries only TRUE pairs (a pair can surface from up to
    # n_chunks bands) — not the full candidate fan-out, which is 10-100x
    # larger under small chunk widths or skewed buckets.
    pairs = (
        left.join(right, band_keys)
        .filter(F.col("left_id") < F.col("right_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("__ls").bitwiseXOR(F.col("__rs"))),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if per_doc_cap is not None and per_doc_cap < 1:
        raise ValueError(f"per_doc_cap must be >= 1, got {per_doc_cap}")
    if per_doc_cap is not None:
        # EMISSION CAP (r10 verdict ask #5): on corpora whose TRUE
        # near-dup density grows super-linearly (the sf10 fixture's
        # verified radius-7 pairs grew 86x/decade), the uncapped pair
        # LISTING is output-quadratic and no banding scheme can change
        # that — so the bounded contract keeps each canonical-left
        # doc's ``per_doc_cap`` NEAREST pairs by (hamming asc,
        # right_id asc).  Pruned in TWO stages so the cap bounds the
        # exchanges, not just the result: (1) band-locally BEFORE the
        # dedup shuffle — exact, because a pair in a doc's global
        # top-k outranks only globally-closer neighbors in ANY band
        # both collide in, so its band-local rank <= its global rank
        # (same total order); the window reuses the join's hash
        # partitioning on the band keys (subset => no new exchange,
        # in-partition sort only), capping the dedup exchange at
        # <= cap x n_bands rows/doc; (2) globally after dedup for the
        # final <= cap rows/doc.
        from pyspark.sql.window import Window

        wb = Window.partitionBy(*band_keys, "left_id").orderBy(
            "hamming", "right_id"
        )
        pairs = (
            pairs.withColumn("__rk", F.row_number().over(wb))
            .filter(F.col("__rk") <= per_doc_cap)
            .drop("__rk")
        )
    pairs = pairs.dropDuplicates(["left_id", "right_id"]).select(
        "left_id", "right_id", "hamming"
    )
    if per_doc_cap is not None:
        from pyspark.sql.window import Window

        wg = Window.partitionBy("left_id").orderBy("hamming", "right_id")
        pairs = (
            pairs.withColumn("__rk", F.row_number().over(wg))
            .filter(F.col("__rk") <= per_doc_cap)
            .select("left_id", "right_id", "hamming")
        )
    # materialize so the signature cache can be released
    # deterministically (else every invocation pins blocks for the
    # session's lifetime)
    pairs = pairs.localCheckpoint(eager=True)
    sigs.unpersist()
    return pairs


def _split_hot_buckets(
    chunked: DataFrame,
    bounds: list[int],
    *,
    max_hamming: int,
    max_bucket: int,
) -> DataFrame:
    """Secondary banding for over-full simhash buckets (see
    :func:`simhash_pairs`). Cold rows keep one band with
    ``sub = subch = -1``; rows of a hot (chunk, ch) bucket fan out to
    ``max_hamming + 1`` sub-bands keyed by equal-width slices of the
    signature's OTHER bits (the bucket's own chunk bits are excised —
    all members share them, they carry no information)."""
    hot = (
        chunked.groupBy("chunk", "ch")
        .agg(F.count("*").alias("__sz"))
        .filter(F.col("__sz") > max_bucket)
        .select("chunk", "ch", F.lit(True).alias("__hot"))
    )
    marked = chunked.join(F.broadcast(hot), ["chunk", "ch"], "left").withColumn(
        "__hot", F.coalesce(F.col("__hot"), F.lit(False))
    )

    n_sub = max_hamming + 1
    sim = F.col("__sim")

    def rem_bits(c: int):
        # signature with chunk c's bit range excised and the halves
        # concatenated: low bits stay, high bits shift down
        lo_w = bounds[c]
        low = sim.bitwiseAND(F.lit((1 << lo_w) - 1)) if lo_w > 0 else F.lit(0).cast("long")
        high = F.shiftleft(F.shiftrightunsigned(sim, bounds[c + 1]), lo_w)
        return low.bitwiseOR(high)

    def sub_bands(c: int):
        # bounds[-1] == the signature width (64 xxhash64 / 60 portable)
        width = bounds[-1] - (bounds[c + 1] - bounds[c])
        sw = width // n_sub  # equal-width slices; remainder joins the last
        rem = rem_bits(c)
        bands = []
        for s in range(n_sub):
            take = width - sw * (n_sub - 1) if s == n_sub - 1 else sw
            bands.append(
                F.struct(
                    F.lit(s).alias("sub"),
                    F.shiftrightunsigned(rem, sw * s)
                    .bitwiseAND(F.lit((1 << take) - 1))
                    .alias("subch"),
                )
            )
        return F.array(*bands)

    n_chunks = len(bounds) - 1
    sub_expr = F.when(
        ~F.col("__hot"),
        F.array(F.struct(F.lit(-1).alias("sub"), F.lit(-1).cast("long").alias("subch"))),
    )
    for c in range(n_chunks):
        sub_expr = sub_expr.when(F.col("chunk") == c, sub_bands(c))
    return (
        marked.select(
            *[col for col in chunked.columns], F.explode(sub_expr).alias("__s")
        )
        .select(*[col for col in chunked.columns], "__s.sub", "__s.subch")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    prefilter: str = "prefix",
    per_doc_cap: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard join.

    ``prefilter='prefix'`` (default): AllPairs/PPJoin-style PREFIX
    FILTERING (Chaudhuri et al. 2006; Vernica et al. SIGMOD'10 for the
    distributed form) — each doc's distinct grams are ordered by
    (global doc-frequency asc, gram) and only the first
    ``|g| - ceil(t*|g|) + 1`` grams are emitted to the candidate join,
    so candidates are pairs sharing a RARE gram instead of every pair
    in a block.  EXACT recall: for any pair with Jaccard >= t the
    smallest (rarest) common gram c1 is in BOTH prefixes — if c1 sat
    among the last ``ceil(t*|g|) - 1`` grams of either side, the
    remaining >= ceil(t*|g|) - 1 common grams (all ordered after c1)
    could not fit in the slots left above it.  Candidates then verify
    with the full exact Jaccard, identical output to the exhaustive
    form (property-tested, and the registry oracle replays the naive
    join).  Replaces the block-nested-loop candidate step, which is
    |block|^2 — measured 1.9 s -> 182 s across sf0.1 -> sf1 (r11), a
    ~100x/decade wall that cannot reach sf10.  Every stage here
    shuffles O(total grams) rows; the doc-frequency ordering keeps
    prefix buckets rare by construction.

    ``prefilter='none'``: the exhaustive quadratic verification
    (bounded fixtures / final rescoring of candidate lists).

    ``block_col`` restricts pairs to equal blocking keys in both
    modes (a hard constraint, e.g. same source/domain).

    ``per_doc_cap`` (r11 verdict ask #2, the simhash cap's ngram
    sibling): keep only each canonical-left doc's ``per_doc_cap``
    BEST pairs by (jaccard_sim desc, right_id asc) — the bounded
    LISTING contract for corpora whose true near-dup pair count grows
    super-linearly (the sf10 fixture's verified 3-gram pairs are
    ~27 M).  The cap is ONE narrow row_number window over the verified
    scores (ids + score only), bounding the OUTPUT and everything
    downstream at cap rows/doc; the verify itself stays
    candidate-bound, because exact top-k must score every candidate —
    within a dup family every sibling passes the threshold and the
    scores differ only in the low decimals, so no sound narrow bound
    can prune them unscored (unlike simhash, whose O(1) bit_count
    verify made the in-band cap the win).  A first r12 draft verified
    IN the candidate join instead (each prefix row carrying its doc's
    gram-id set, two-stage bucket-local cap); measured 2.7x SLOWER at
    sf1 (227 s vs 84) because a pair re-verifies once per shared
    prefix gram and the arrays ride the full candidate-occurrence
    fan-out — reverted to the shared narrow-candidate verify, whose
    exchange bytes the int32 id cast below halves instead.  Output is
    EXACTLY the per-left top-k of the uncapped listing
    (twin-tested).  Requires ``prefilter='prefix'``."""
    from bigdatasearchpro_spark.sources.files import fan_out

    if prefilter not in ("prefix", "none"):
        raise ValueError(f"prefilter must be prefix|none, got {prefilter!r}")
    if per_doc_cap is not None:
        if per_doc_cap < 1:
            raise ValueError(f"per_doc_cap must be >= 1, got {per_doc_cap}")
        if prefilter != "prefix":
            raise ValueError("per_doc_cap requires prefilter='prefix'")
    docs = fan_out(docs)
    extra = [F.col(block_col)] if block_col else []
    toked = docs.select(
        F.col(id_col), analyzer_tokens(F.col(text_col)).alias("__t"), *extra
    )
    grams = toked.select(
        F.col(id_col),
        word_ngrams(F.col("__t"), n).alias("__g"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    join_keys = [block_col] if block_col else []

    if prefilter == "none":
        left = grams.select(
            F.col(id_col).alias("left_id"), F.col("__g").alias("__lg"),
            *join_keys
        )
        right = grams.select(
            F.col(id_col).alias("right_id"), F.col("__g").alias("__rg"),
            *join_keys
        )
        pairs = (
            left.join(right, join_keys) if join_keys else left.crossJoin(right)
        ).filter(F.col("left_id") < F.col("right_id"))
        # threshold on the UNROUNDED score (round-11 advice): rounding
        # before the filter admits pairs with true J in [t-5e-5, t),
        # which the prefix mode's candidate bound never generates —
        # both modes must share one predicate to stay identical
        return (
            pairs.withColumn("__j", jaccard(F.col("__lg"), F.col("__rg")))
            .filter(F.col("__j") >= threshold)
            .select(
                "left_id", "right_id",
                F.round(F.col("__j"), 4).alias("jaccard_sim"),
            )
        )

    from pyspark.sql.window import Window

    exploded = grams.select(
        F.col(id_col), F.size("__g").alias("__sz"),
        F.explode("__g").alias("__gram"), *join_keys
    )
    # global doc-frequency per gram: ONE vocabulary-scale hash agg
    # (linear; the significant_terms shape).  Frequency-ascending
    # order puts RARE grams in prefixes — the candidate join's bucket
    # sizes track the rare tail, not the stopword head.  Each gram
    # also gets a UNIQUE surrogate id: verification computes Jaccard
    # over int-id sets instead of re-shipping the string gram arrays
    # (set cardinalities are invariant under the bijection, so the
    # score is identical) — the string form's verify shuffle measured
    # ~5x larger and overflowed disk at sf10.  The id must be
    # DETERMINISTIC across subtree recomputation (the idset subtree is
    # referenced once per join side; monotonically_increasing_id could
    # hand the two recomputations different mappings), so it is the
    # global (__df, __gram) rank — a vocabulary-scale single-partition
    # window, fine up to ~1e8 distinct grams; beyond that compose a
    # per-bucket rank with a broadcast bucket-offset table.
    freq = exploded.groupBy("__gram").agg(F.count("*").alias("__df"))
    freq = freq.withColumn(
        "__gid",
        F.row_number().over(
            Window.partitionBy(F.lit(0)).orderBy("__df", "__gram")
        ),
    )
    # ranked is the shared trunk both side tables below derive from;
    # persisted so the tokenize -> shingle -> explode -> vocabulary
    # chain (2 exchanges + the vocabulary rank window) materializes
    # ONCE — unpersisted, the prefix fill and the idset fill each
    # re-ran the whole chain (measured: the two fills were ~15 s each
    # of a 29 s sf0.1 wall, the whole rest of the query ~3 s).  One
    # gram-scale cache (ids + int df/gid + gram), MEMORY_AND_DISK like
    # the other side tables, released with them before return.
    ranked = exploded.join(freq, "__gram").persist()
    # prefix length |g| - ceil(t*|g|) + 1; the epsilon guards binary-
    # float t*|g| landing just above an integer (ceil would then
    # SHRINK the prefix and silently lose recall)
    plen = (
        F.col("__sz")
        - F.ceil(F.col("__sz") * F.lit(float(threshold)) - F.lit(1e-9))
        + F.lit(1)
    )
    w = Window.partitionBy(id_col).orderBy("__df", "__gram")
    # prefix and idsets are each consumed by BOTH sides of the
    # self-join below; unpersisted, every consumer re-runs the whole
    # tokenize -> shingle -> explode -> vocabulary chain (observed 6
    # full recomputations of the scan pipeline in the physical plan —
    # exchange reuse does not cover the fan_out repartitions).  Same
    # side-table persist pattern as minhash_lsh_pairs above: prefix is
    # narrow (id, gram, keys), idsets is one row per doc; both spill
    # to disk at corpus scale (MEMORY_AND_DISK default) and are
    # released before return.
    prefix = (
        ranked.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= plen)
        .select(id_col, "__gram", *join_keys)
    ).persist()
    # int32 ids: the verify joins ship each pair's two id-set arrays
    # through an exchange — at sf10 that is ~27 M pairs x 2 arrays, the
    # dominant cost of the whole query — and the vocabulary rank fits
    # int32 to 2.1 B distinct grams (the rank approach itself is
    # documented to ~1e8 above), so the cast halves the verify bytes
    # for free (cardinalities, hence the score, are unchanged)
    idsets = ranked.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.col("__gid").cast("int"))
        ).alias("__ids")
    ).persist()

    cand = (
        prefix.select(
            F.col(id_col).alias("left_id"), "__gram", *join_keys
        )
        .join(
            prefix.select(
                F.col(id_col).alias("right_id"), "__gram", *join_keys
            ),
            ["__gram", *join_keys],
        )
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    lg = idsets.select(F.col(id_col).alias("left_id"), F.col("__ids").alias("__lg"))
    rg = idsets.select(F.col(id_col).alias("right_id"), F.col("__ids").alias("__rg"))
    # UNHINTED verify joins — same r13 revert as minhash_lsh_pairs'
    # estimate/exact verifies (see the comment there): the forced
    # ShuffledHashJoin anti-scaled at local[32]; planner+AQE pick
    # broadcast at bench scale and sort-merge at corpus scale.
    scored = (
        cand.join(lg, "left_id")
        .join(rg, "right_id")
        .withColumn("__j", jaccard(F.col("__lg"), F.col("__rg")))
        .filter(F.col("__j") >= threshold)
        .select(
            "left_id", "right_id",
            F.round(F.col("__j"), 4).alias("jaccard_sim"),
        )
    )
    if per_doc_cap is not None:
        # the cap: ONE narrow row_number window over the verified
        # scores (ids + score only — the gram arrays are gone by this
        # point), so output and everything downstream are bounded at
        # cap rows/doc
        wg = Window.partitionBy("left_id").orderBy(
            F.desc("jaccard_sim"), F.asc("right_id")
        )
        scored = (
            scored.withColumn("__rk", F.row_number().over(wg))
            .filter(F.col("__rk") <= per_doc_cap)
            .select("left_id", "right_id", "jaccard_sim")
        )
    # materialize the pair output and release the cached side tables
    # (minhash_lsh_pairs' pattern — otherwise every invocation pins
    # prefix + idset blocks for the session's lifetime)
    result = scored.localCheckpoint(eager=True)
    for cached in (ranked, prefix, idsets):
        cached.unpersist()
    return result


def resolve_duplicate_groups(
    pairs: DataFrame,
    *,
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over the near-dup pair graph: returns
    (doc_id, group_id) where ``group_id`` is the smallest doc id in the
    component — the canonical survivor every duplicate collapses to.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(diameter) rounds (near-dup components are tiny cliques/chains, so
    2-4 rounds in practice; ``max_iterations`` bounds adversarial
    chains). Each round is one join + one aggregate on (node, label)
    pairs — no vertex ever carries its component's member list, so a
    100 TB corpus with billions of tiny components shuffles O(|E|)
    longs per round. localCheckpoint() truncates the growing lineage so
    round N's plan doesn't replay rounds 1..N-1.

    Per-round plan shape (r12 optimization pass): ``edges`` is
    localCheckpointed ONCE — unmaterialized, every round re-ran its
    union+distinct exchange — and convergence is detected from a
    ``__changed`` flag computed inside the update projection itself,
    so the old shape's per-round labels-vs-updated equality JOIN (a
    second full pass over the label table per round) is gone; the
    check is a filter+limit(1) count on the already-materialized
    checkpoint.  Same fixpoint, same number of rounds, two fewer
    exchanges and one fewer join per round at every scale.
    """
    edges = (
        pairs.select(
            F.col(left_col).alias("a"), F.col(right_col).alias("b")
        )
        .union(pairs.select(F.col(right_col).alias("a"), F.col(left_col).alias("b")))
        .distinct()
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                # strict: nulls (isolated round) and ties never count
                (F.col("nbr_label") < F.col("label")).alias("__changed"),
            )
        )
        updated = updated.localCheckpoint(eager=True)
        changed = updated.filter(F.col("__changed")).limit(1).count()
        labels = updated.drop("__changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        # silently-wrong components would under-dedup with no signal;
        # callers hitting this have a pathological chain — raise the bound
        raise RuntimeError(
            f"connected components did not converge in {max_iterations} "
            "rounds; raise max_iterations (component diameter exceeds it)"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("group_id"))


def dedup_by_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Apply near-dup pairs to the corpus: drop every document whose
    component representative (smallest id) is not itself. Docs in no
    pair survive untouched (left-anti join).

    The anti-join carries NO broadcast hint (round-11 verdict ask #1):
    losers = every non-canonical near-dup member, and on a web-scale
    corpus duplication runs 30-50%, so at 100 TB the loser set is
    billions of ids — far past the 8 GB broadcast cap and any driver
    heap. A mandatory hint would force that collect; unhinted, AQE
    still picks broadcast-hash when the measured loser set is small
    and falls back to a shuffled join when it isn't."""
    groups = resolve_duplicate_groups(pairs, left_col=left_col, right_col=right_col)
    losers = groups.filter(F.col("doc_id") != F.col("group_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def portable_minhash_pairs_ctes(
    *,
    n_perms: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.6,
    corpus: str = "corpus",
) -> str:
    """The CTE chain (``sh`` .. ``pairs``) computing EXACTLY what
    ``minhash_lsh_pairs(..., hash_fn='portable')`` computes over a
    prior CTE named ``corpus`` with (doc_id, text) — same shingles,
    same md5-derived base hash, same affine permutations, same band
    keys, same estimate prefilter, same exact-Jaccard verify. Emitted
    as a fragment so larger oracles (the end-to-end pipeline entry)
    can compose it; ``portable_minhash_oracle_sql`` wraps it for the
    standalone pairs entry."""
    p = PORTABLE_PRIME
    k = _BAND_FOLD_K
    rows_per_band = n_perms // bands
    consts = portable_perm_consts(n_perms)
    margin = 2.5 * (0.25 / n_perms) ** 0.5
    est_cut = repr(jaccard_threshold - margin)

    mins = ",\n        ".join(
        f"min(({a} * (h % {p}) + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(consts)
    )

    def band_fold(b: int) -> str:
        expr = str(b)
        for r in range(rows_per_band):
            expr = f"(({expr}) * {k} + mh{b * rows_per_band + r}) % {p}"
        return expr

    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {band_fold(b)} AS bh FROM sig"
        for b in range(bands)
    )
    est_terms = " + ".join(f"(ls.mh{i} = rs.mh{i})::INT" for i in range(n_perms))

    return f"""
    sh AS (
      SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h
      FROM (
        SELECT d.doc_id, substring(d.lt, i.i, {shingle_k}) AS s
        FROM (SELECT doc_id, lower(text) AS lt FROM {corpus}) d,
        LATERAL (SELECT unnest(range(1, greatest(length(d.lt) - {shingle_k - 1}, 1) + 1)) AS i) i
      )
    ),
    sig AS (
      SELECT doc_id,
        {mins}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
      FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh
      WHERE l.doc_id < r.doc_id
    ),
    surv AS (
      SELECT c.left_id, c.right_id
      FROM cand c
      JOIN sig ls ON c.left_id = ls.doc_id
      JOIN sig rs ON c.right_id = rs.doc_id
      WHERE ({est_terms})::DOUBLE / {n_perms} >= {est_cut}
    ),
    sets AS (SELECT doc_id, list_distinct(list(h)) AS hs FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT left_id, right_id, jaccard_sim FROM (
        SELECT s.left_id, s.right_id,
          round(CASE WHEN len(list_distinct(list_concat(a.hs, b.hs))) > 0
            THEN len(list_intersect(a.hs, b.hs))::DOUBLE
                 / len(list_distinct(list_concat(a.hs, b.hs)))
            ELSE 0.0 END, 4) AS jaccard_sim
        FROM surv s
        JOIN sets a ON s.left_id = a.doc_id
        JOIN sets b ON s.right_id = b.doc_id
      ) WHERE jaccard_sim >= {jaccard_threshold}
    )"""


def portable_minhash_oracle_sql(
    corpus_cte: str,
    *,
    n_perms: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.6,
) -> str:
    """DuckDB program for the standalone portable-minhash pairs entry
    (see :func:`portable_minhash_pairs_ctes` for the stage chain and
    the bit-reproducibility argument). ``corpus_cte``: a CTE body named
    ``corpus`` yielding (doc_id, text)."""
    ctes = portable_minhash_pairs_ctes(
        n_perms=n_perms,
        bands=bands,
        shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold,
    )
    return f"""
    WITH {corpus_cte},
    {ctes}
    SELECT left_id, right_id, jaccard_sim FROM pairs
    """


def portable_simhash_oracle_sql(
    corpus_cte: str,
    *,
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> str:
    """DuckDB program computing EXACTLY what ``simhash_pairs(...,
    hash_fn='portable')`` computes — same analyzer tokens, same
    md5-derived 60-bit per-token hash, same majority-vote signature,
    same chunk banding, same bit_count(xor) verification. The 60-bit
    signature stays positive, so every stage is plain BIGINT
    shift/mask/popcount arithmetic both engines evaluate identically.

    The skew guard (`max_bucket`) needs no SQL twin: secondary
    re-banding is recall- and precision-exact, so the verified pair set
    is independent of it.

    ``corpus_cte``: a CTE body named ``corpus`` yielding (doc_id, text).
    """
    n_bits = SIMHASH_BITS["portable"]
    bounds = [round(i * n_bits / n_chunks) for i in range(n_chunks + 1)]

    ones = ",\n        ".join(
        f"sum((h >> {b}) & 1) AS o{b}" for b in range(n_bits)
    )
    sig_terms = " + ".join(
        f"((2 * o{b} > n)::BIGINT << {b})" for b in range(n_bits)
    )
    chunk_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {c} AS chunk, "
        f"(sig >> {bounds[c]}) & {(1 << (bounds[c + 1] - bounds[c])) - 1} AS ch "
        "FROM sig"
        for c in range(n_chunks)
    )

    return f"""
    WITH {corpus_cte},
    toks AS (
      SELECT doc_id, unnest(list_filter(
        string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
      FROM corpus
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM toks
    ),
    votes AS (
      SELECT doc_id, count(*) AS n,
        {ones}
      FROM hashed GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {sig_terms} AS sig FROM votes),
    chunks AS (
      {chunk_selects}
    )
    SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
           bit_count(xor(ls.sig, rs.sig)) AS hamming
    FROM chunks l
    JOIN chunks r ON l.chunk = r.chunk AND l.ch = r.ch AND l.doc_id < r.doc_id
    JOIN sig ls ON l.doc_id = ls.doc_id
    JOIN sig rs ON r.doc_id = rs.doc_id
    WHERE bit_count(xor(ls.sig, rs.sig)) <= {max_hamming}
    """
