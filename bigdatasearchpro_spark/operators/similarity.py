"""Embedding similarity search (SURVEY.md L4, J5).

Brute-force cosine top-k is the exactness baseline; the scale path is a
random-hyperplane LSH bucketing (signature -> band buckets -> search
only within candidate buckets) — at 100 TB the brute force is a full
scan per query (acceptable for batched query sets, since Spark fuses the
dot products into one codegen'd pass), while LSH turns it into a
partition-pruned lookup at some recall cost.

All vector math stays JVM-side via higher-order functions
(``aggregate`` / ``zip_with``) — no Python in the hot path. A
pandas-UDF variant is provided for wide-batch matmul when many query
vectors are scored at once (numpy BLAS beats per-row expression trees).
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _lit_vec(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def dot(a: Column, b: Column) -> Column:
    """Elementwise product + sum, fully codegen'd."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Brute-force cosine top-k — one narrow pass + TakeOrderedAndProject.

    Deterministic: score rounded, ties broken by id. Zero-norm vectors
    score 0 (not NaN) so the ordering is total.
    """
    from bigdatasearchpro_spark.sources.files import fan_out

    embeddings = fan_out(embeddings)  # dot products serialize on 1-split scans
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qn = float(np.linalg.norm(np.asarray(query_vec, dtype="float64")))
    denom = l2_norm(emb) * F.lit(qn)
    cos = F.when(denom > 0, dot(emb, _lit_vec(query_vec)) / denom).otherwise(F.lit(0.0))
    return (
        embeddings.select(
            F.col(id_col), F.round(cos, round_to).alias("score")
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(
    df: DataFrame,
    planes: np.ndarray,
    *,
    vec_col: str = "embedding",
    out: str = "bucket",
) -> DataFrame:
    """Sign-of-projection LSH: bucket id = bit pattern of sign(v . p_i).

    Expressed as a sum of bit-shifted boolean projections — stays in
    codegen; the bucket column then drives a hash repartition so each
    query touches one partition's worth of candidates.
    """
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = dot(emb, _lit_vec(plane))
        bucket = bucket + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return df.withColumn(out, bucket)


def ann_topk_lsh(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 1,
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``multiprobe_hamming`` bits of the query's bucket (multi-probe
    recovers recall lost at bucket boundaries).

    Scale path: with the corpus pre-bucketed and written partitioned by
    bucket, this reads ~(1 + probes)/2^n_planes of the data.
    """
    dim = len(query_vec)
    planes = random_hyperplanes(dim, n_planes, seed)
    q = np.asarray(query_vec, dtype="float64")
    q_bucket = int(sum((1 << i) for i, p in enumerate(planes) if float(np.dot(q, p)) >= 0))

    bucketed = lsh_bucket(embeddings, planes, vec_col=vec_col)
    probe = F.bit_count(
        F.col("bucket").bitwiseXOR(F.lit(q_bucket))
    ) <= multiprobe_hamming
    candidates = bucketed.filter(probe)
    return cosine_topk(
        candidates, query_vec, k, id_col=id_col, vec_col=vec_col, round_to=round_to
    )


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "embedding",
    out: str = "cell",
) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid
    (max dot product over unit-norm centroids).

    Stays JVM-side: the C dot products are one ``aggregate`` over an
    array-of-structs zip, then ``array_position`` of the max. At scale
    the corpus is written partitioned by ``cell`` so a query reads only
    ``nprobe``/C of the data (classic IVF-Flat layout).
    """
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scores = F.array(*[dot(emb, _lit_vec(c)) for c in centroids])
    best = F.array_position(scores, F.array_max(scores)) - 1
    return df.withColumn(out, best.cast("int"))


def ivf_centroids(
    embeddings: DataFrame,
    n_cells: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> np.ndarray:
    """Deterministic k-means-lite training: seed with ``n_cells``
    HASH-ORDERED vectors (``orderBy(xxhash64(id), id)`` — deterministic
    but uncorrelated with id order, so an id-clustered ingest prefix
    cannot hand k-means ``n_cells`` near-identical seeds), run
    ``iters`` Lloyd refinements as DataFrame jobs (assign =
    ``ivf_assign``, update = groupBy-mean). Only the C x dim centroid
    matrix ever reaches the driver."""
    seeds = (
        embeddings.orderBy(F.asc(F.xxhash64(F.col(id_col))), F.asc(id_col))
        .limit(n_cells)
        .select(vec_col)
        .collect()
    )
    cents = np.asarray([list(r[0]) for r in seeds], dtype="float64")
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    dim = cents.shape[1]
    for _ in range(iters):
        assigned = ivf_assign(embeddings, cents, vec_col=vec_col)
        # stage the double-cast array once per row: passed inline, the
        # transform() re-materialized the full dim-element cast array
        # under EVERY element_at (dim x dim casts/row — the inline-
        # expression blow-up class, see OPTIMIZATION_r12.md)
        staged = assigned.select(
            "cell",
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        )
        means = (
            staged.groupBy("cell")
            .agg(
                *[
                    F.avg(F.element_at(F.col("__v"), i + 1)).alias(f"c{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        for row in means:
            v = np.asarray([row[f"c{i}"] for i in range(dim)], dtype="float64")
            n = np.linalg.norm(v)
            if n > 0:
                cents[row["cell"]] = v / n
    return cents


def ivf_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    centroids: np.ndarray | None = None,
    round_to: int = 4,
) -> DataFrame:
    """IVF-Flat approximate top-k: score only vectors in the ``nprobe``
    cells nearest the query. The brute-force alternative scans 100% of
    the corpus; this scans ~nprobe/n_cells with recall controlled by
    nprobe (tests assert recall vs ``cosine_topk``)."""
    if centroids is None:
        centroids = ivf_centroids(embeddings, n_cells, id_col=id_col, vec_col=vec_col)
    q = np.asarray(query_vec, dtype="float64")
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    probe_cells = [int(c) for c in np.argsort(-(centroids @ q))[:nprobe]]
    assigned = ivf_assign(embeddings, centroids, vec_col=vec_col)
    candidates = assigned.filter(F.col("cell").isin(probe_cells))
    return cosine_topk(
        candidates, query_vec, k, id_col=id_col, vec_col=vec_col, round_to=round_to
    )


def cosine_similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    *,
    id_left: str = "vec_id",
    id_right: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    self_join: bool = True,
) -> DataFrame:
    """J5: approximate similarity join — LSH-bucket both sides, join on
    bucket (equi join, hash-partitioned), then verify exact cosine.

    ``self_join=True`` (both sides are the same table) emits each
    unordered pair once via ``left_id < right_id``; pass ``False`` for
    two DIFFERENT tables, where that filter would silently drop valid
    matches (including equal ids across tables).

    Avoids the quadratic cross join: at 100 TB the bucket equi-join
    shuffles each row once instead of |L|x|R| comparisons.
    """
    from bigdatasearchpro_spark.sources.files import fan_out

    left, right = fan_out(left), fan_out(right)
    probe = left.select(F.size(vec_col)).first()
    if probe is None:
        raise ValueError("cosine_similarity_join: left side is empty")
    dim_probe = probe[0]
    planes = random_hyperplanes(dim_probe, n_planes, seed)
    lb = lsh_bucket(left, planes, vec_col=vec_col).select(
        F.col(id_left).alias("left_id"), F.col(vec_col).alias("__lv"), "bucket"
    )
    rb = lsh_bucket(right, planes, vec_col=vec_col).select(
        F.col(id_right).alias("right_id"), F.col(vec_col).alias("__rv"), "bucket"
    )
    lv = F.transform(F.col("__lv"), lambda x: x.cast("double"))
    rv = F.transform(F.col("__rv"), lambda x: x.cast("double"))
    cos = dot(lv, rv) / (l2_norm(lv) * l2_norm(rv))
    joined = lb.join(rb, "bucket")
    if self_join:
        joined = joined.filter(F.col("left_id") < F.col("right_id"))
    return (
        joined
        .withColumn("score", F.round(cos, 4))
        .filter(F.col("score") >= threshold)
        .select("left_id", "right_id", "score")
        .dropDuplicates(["left_id", "right_id"])
    )


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    *,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> np.ndarray:
    """Materialize the IVF-Flat layout: train centroids, assign every
    vector, and write the corpus *partitioned by cell* with the C x dim
    centroid table beside it. A query then reads only its probe cells'
    directories — partition pruning turns nprobe/C into a physical I/O
    ratio, not just a filter. This is the index-once/query-many shape
    (same contract as the inverted text index in operators/search.py)."""
    cents = ivf_centroids(
        embeddings, n_cells, id_col=id_col, vec_col=vec_col, iters=iters
    )
    assigned = ivf_assign(embeddings, cents, vec_col=vec_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path + "/vectors")
    spark = embeddings.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    # per-cell populations (centroid-table-sized): lets a query turn an
    # ES-style num_candidates target into the exact probe-cell prefix
    spark.read.parquet(path + "/vectors").groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")
    ).coalesce(1).write.mode("overwrite").parquet(path + "/cellstats")
    return cents


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    num_candidates: "int | None" = None,
) -> DataFrame:
    """Query a materialized IVF index: rank cells by centroid dot
    product (driver-side, C x dim floats), then scan ONLY the winning
    partitions. Results are identical to ivf_topk with the same
    centroids (tested); the difference is the scan reads nprobe/C of
    the files instead of filtering all of them.

    ``num_candidates`` (the ES 8 kNN contract knob) overrides
    ``nprobe``: cells are probed in centroid-score order until their
    recorded populations (``cellstats``, written at build) reach the
    target — the candidate pool the exact re-score then ranks is
    guaranteed >= num_candidates whenever the corpus holds that many
    vectors, exactly how ES's HNSW beam widens with num_candidates."""
    crows = spark.read.parquet(path + "/centroids").collect()
    cents = np.zeros((len(crows), len(crows[0]["centroid"])), dtype="float64")
    for r in crows:
        cents[r["cell"]] = r["centroid"]
    q = np.asarray(query_vec, dtype="float64")
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    ranked = [int(c) for c in np.argsort(-(cents @ q))]
    if num_candidates is not None:
        if num_candidates < 1:
            raise ValueError("num_candidates must be >= 1")
        pops = {int(r["cell"]): int(r["n"])
                for r in spark.read.parquet(path + "/cellstats").collect()}
        probe_cells, pool = [], 0
        for c in ranked:
            probe_cells.append(c)
            pool += pops.get(c, 0)
            if pool >= num_candidates:
                break
    else:
        probe_cells = ranked[:nprobe]
    vectors = spark.read.parquet(path + "/vectors").filter(
        F.col("cell").isin(probe_cells)
    )
    return cosine_topk(
        vectors, query_vec, k, id_col=id_col, vec_col=vec_col, round_to=round_to
    )


def cosine_similarity_join_exact(
    df: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """EXACT cosine similarity self-join: every pair (within
    ``block_col`` blocks) with round(cosine, 4) >= threshold — the
    deterministic ground truth the LSH join (:func:`cosine_similarity_join`)
    approximates, and the verification baseline its recall tests use.

    With ``block_col`` the pair space is |block|^2 per block (the
    scalable, partition-parallel form); without it this is the
    exhaustive quadratic join — bounded fixtures only.
    """
    from bigdatasearchpro_spark.sources.files import fan_out

    df = fan_out(df)
    keys = [block_col] if block_col else []
    staged = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        *[F.col(c) for c in keys],
    ).select(
        F.col(id_col), "__v", l2_norm(F.col("__v")).alias("__n"),
        *[F.col(c) for c in keys],
    )
    left = staged.select(
        F.col(id_col).alias("left_id"),
        F.col("__v").alias("__lv"),
        F.col("__n").alias("__ln"),
        *[F.col(c) for c in keys],
    )
    right = staged.select(
        F.col(id_col).alias("right_id"),
        F.col("__v").alias("__rv"),
        F.col("__n").alias("__rn"),
        *[F.col(c) for c in keys],
    )
    joined = (left.join(right, keys) if keys else left.crossJoin(right)).filter(
        F.col("left_id") < F.col("right_id")
    )
    cos = F.when(
        F.col("__ln") * F.col("__rn") > 0,
        dot(F.col("__lv"), F.col("__rv")) / (F.col("__ln") * F.col("__rn")),
    ).otherwise(F.lit(0.0))
    return (
        joined.withColumn("score", F.round(cos, 4))
        .filter(F.col("score") >= threshold)
        .select("left_id", "right_id", "score")
    )


def quantize_int8(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization per vector — the embedding
    STORAGE operator: 4x smaller than float32 (a 100 TB float corpus
    becomes 25 TB + one float scale per vector), with cosine fidelity
    good enough for ANN candidate generation (recall tested).

    ``q_i = clamp(floor(v_i / scale + 0.5), -127, 127)`` with
    ``scale = max|v| / 127``. floor(x+0.5) — not round() — so the
    arithmetic is bit-identical across engines (SQL round() half-even
    vs Spark HALF_UP differ on ties). Pure array expressions, no
    shuffle, no Python.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.floor(x / scale + F.lit(0.5)).cast("int")),
        ),
    )
    return emb.select(
        F.col(id_col),
        q.alias("q"),
        scale.alias("scale"),
    )


def quantize_int8_rows(batch) -> np.ndarray:
    """The numpy twin of :func:`quantize_int8` over a batch of vectors
    (an Arrow column's values, or a list of arrays): one int64 code row
    per vector.  numpy float64 division/floor/clip are IEEE-identical
    to the expression form, so every Arrow-batched int8 pass and its
    DuckDB oracle agree bit for bit."""
    m = np.stack([np.asarray(x, dtype=np.float64) for x in batch])
    amax = np.abs(m).max(axis=1, keepdims=True)
    scale = np.where(amax > 0, amax / 127.0, 1.0)
    return np.clip(np.floor(m / scale + 0.5), -127, 127).astype(np.int64)


def int8_dot_norm_udf(query_ints: Sequence[int]):
    """The int8 vector kernel: an Arrow-batched UDF mapping each vector
    to ``struct<dot, n>`` — its int8 codes' exact BIGINT dot with the
    integer query and squared norm (one quantize + matmul per batch).

    Marked nondeterministic: every caller filters on the UDF's output
    fields, and Catalyst pushes such a filter below the projection by
    RE-EVALUATING the UDF (two ArrowEvalPython nodes, the corpus-wide
    quantize + matmul run twice).  The function is pure, so results
    are unchanged; the mark only stops the optimizer duplicating it."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    qv = np.asarray([int(v) for v in query_ints], dtype=np.int64)

    def dot_norm(batch):
        q = quantize_int8_rows(batch)
        return pd.DataFrame({"dot": q @ qv, "n": (q * q).sum(axis=1)})

    return pandas_udf(dot_norm, "struct<dot:long,n:long>").asNondeterministic()


def dequantize(quant: DataFrame) -> DataFrame:
    """Inverse of :func:`quantize_int8`: ``v_i ~= q_i * scale`` (the
    reconstruction ANN re-ranking uses before exact re-scoring)."""
    return quant.select(
        *[c for c in quant.columns if c not in ("q", "scale")],
        F.transform(
            F.col("q"), lambda x: (x.cast("double") * F.col("scale")).cast("float")
        ).alias("embedding"),
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ) — VERDICT r4 task 6
# ---------------------------------------------------------------------------


def train_pq(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 2048,
    iters: int = 10,
) -> np.ndarray:
    """Train per-subvector k-means codebooks: (m, ksub, dim/m).

    Training runs driver-side on a bounded DETERMINISTIC sample — the
    FAISS practice: codebooks need a representative sample, not the
    corpus, so the driver never holds more than ``sample * dim`` floats
    regardless of corpus size. The sample is HASH-ORDERED
    (``orderBy(xxhash64(id), id)``): still fully deterministic, but
    uncorrelated with id order, so an id-clustered corpus (e.g. ids
    assigned per ingest shard, early shards all one domain) cannot
    bias the codebooks the way a lowest-id sample did. Encoding (the
    corpus-sized work) is distributed (:func:`encode_pq`). Lloyd
    iterations are deterministic: seeded with the first ``ksub``
    sample subvectors, ties to the lowest centroid index, empty
    clusters keep their previous centroid."""
    rows = (
        embeddings.orderBy(F.asc(F.xxhash64(F.col(id_col))), F.asc(id_col))
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError("train_pq: empty corpus")
    x = np.asarray([list(r[0]) for r in rows], dtype="float64")
    norms = np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    x = x / norms
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    books = np.zeros((m, ksub, d_sub), dtype="float64")
    for j in range(m):
        sub = x[:, j * d_sub : (j + 1) * d_sub]
        cents = sub[: min(ksub, len(sub))].copy()
        if len(cents) < ksub:  # tiny corpus: pad with repeats
            reps = -(-ksub // len(cents))
            cents = np.tile(cents, (reps, 1))[:ksub]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books[j] = cents
    return books


def encode_pq(
    df: DataFrame,
    codebooks: np.ndarray,
    *,
    vec_col: str = "embedding",
    out: str = "pq_code",
) -> DataFrame:
    """PQ-encode every vector: code[j] = argmin_c ||x_j - cb[j][c]||^2
    over the L2-NORMALIZED vector (so ADC L2 ranking equals cosine
    ranking).

    Arrow-batched mapInPandas with one numpy matmul per subspace — the
    wide-batch matmul case where BLAS beats per-row expression trees
    (an m*ksub expression-tree encoder was measured 50x slower purely
    on whole-stage-codegen compilation of 256 nested lambdas). Codes
    are 0-based ints, argmin ties to the lowest index (deterministic);
    the codebooks (m*ksub*d_sub doubles, a few KB) ship in the task
    closure. No shuffle; one pass over the vectors."""
    import pandas as pd
    from pyspark.sql import types as T

    m, ksub, d_sub = codebooks.shape
    books = codebooks.copy()
    # ||c||^2 per (subspace, centroid): argmin ||x-c||^2 = argmin(||c||^2 - 2<x,c>)
    c_sq = (books * books).sum(axis=2)  # (m, ksub)

    def gen(batches):
        for pdf in batches:
            x = np.asarray(pdf[vec_col].tolist(), dtype="float64")
            if x.size:
                x = x / np.maximum(
                    np.linalg.norm(x, axis=1, keepdims=True), 1e-12
                )
                codes = np.empty((len(x), m), dtype="int32")
                for j in range(m):
                    sub = x[:, j * d_sub : (j + 1) * d_sub]
                    scores = sub @ books[j].T - c_sq[j][None, :] / 2.0
                    codes[:, j] = scores.argmax(axis=1)
                pdf = pdf.assign(**{out: list(codes)})
            else:
                pdf = pdf.assign(**{out: pd.Series([], dtype=object)})
            yield pdf

    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out, T.ArrayType(T.IntegerType()), False)]
    )
    return df.mapInPandas(gen, schema)


def adc_distance_expr(
    codebooks: np.ndarray, query_vec: Sequence[float], code_col: str = "pq_code"
) -> Column:
    """Asymmetric distance computation: the query builds an (m, ksub)
    distance table DRIVER-side (a few KB), and each row's approximate
    squared L2 distance is m table lookups summed — the classic ADC
    probe cost, independent of dim."""
    m, ksub, d_sub = codebooks.shape
    q = np.asarray(query_vec, dtype="float64")
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    expr = F.lit(0.0)
    for j in range(m):
        qj = q[j * d_sub : (j + 1) * d_sub]
        dt = ((codebooks[j] - qj[None, :]) ** 2).sum(axis=1)
        expr = expr + F.element_at(
            _lit_vec(dt), F.element_at(F.col(code_col), j + 1) + 1
        )
    return expr


def ann_topk_ivfpq(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 6,
    m: int = 16,
    ksub: int = 16,
    refine: int = 16,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    round_to: int = 4,
) -> DataFrame:
    """IVF-PQ approximate top-k with exact refinement.

    Pipeline: IVF coarse quantizer prunes to ``nprobe``/``n_cells`` of
    the corpus; ADC over the PQ codes ranks the survivors with m table
    lookups per row (no full-dim math on the scan path); the
    ``refine * k`` best ADC candidates are re-scored with EXACT cosine
    and the true top-k returned (PQ-with-refinement — recall@10 >= 0.9
    vs brute force gated in tests/test_similarity.py).

    At 100 TB: codes are log2(ksub)*m bits/vector vs 32*dim for
    float32 (dim=64, m=16, ksub=16: 8 bytes vs 256 — 32x smaller), so
    the probe scan reads a corpus 32x smaller; the refine step touches
    only refine*k full vectors. Memory accounting in SCALING.md.

    Recall calibration note: the fixture embeddings are near-uniform
    random vectors (no cluster structure), the information-theoretic
    worst case for IVF — recall tracks the scanned fraction almost
    linearly, so nprobe=6/8 with refine=16k is what reaches
    recall@10 >= 0.9 here (re-calibrated after hash-ordered seed
    sampling replaced the id-biased sample). Clustered real-world
    embedding corpora prune far better at the same recall; the knobs
    are per-corpus."""
    if centroids is None:
        centroids = ivf_centroids(
            embeddings, n_cells, id_col=id_col, vec_col=vec_col
        )
    if codebooks is None:
        codebooks = train_pq(
            embeddings, m, ksub, id_col=id_col, vec_col=vec_col
        )
    q = np.asarray(query_vec, dtype="float64")
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    probe_cells = [int(c) for c in np.argsort(-(centroids @ q))[:nprobe]]
    assigned = ivf_assign(embeddings, centroids, vec_col=vec_col)
    candidates = assigned.filter(F.col("cell").isin(probe_cells))
    encoded = encode_pq(candidates, codebooks, vec_col=vec_col)
    adc = encoded.withColumn(
        "__adc", adc_distance_expr(codebooks, query_vec)
    )
    shortlist = adc.orderBy(F.asc("__adc"), F.asc(id_col)).limit(refine * k)
    return cosine_topk(
        shortlist, query_vec, k, id_col=id_col, vec_col=vec_col, round_to=round_to
    )


def _cluster_assign_int_udf(cent_int: np.ndarray):
    """Integer-exact cluster assignment as an Arrow-batched pandas UDF:
    ``argmax_c dot(q, cent_int[c])`` in int64 (no float anywhere, so a
    SQL replay over the same literal centroids is bit-identical; ties
    break to the LOWEST cell, numpy argmax's first-max rule). Arrow
    matmul, not a literal expression tree — the codegen-blowup lesson
    from the PQ encoder applies at C x d terms too."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ct = cent_int.T.copy()

    def assign(qs):
        m = np.stack([np.asarray(x, dtype=np.int64) for x in qs])
        return pd.Series((m @ ct).argmax(axis=1).astype("int32"))

    # no annotations: `from __future__ import annotations` stringifies
    # them, which pandas_udf's signature inspection rejects
    return pandas_udf(assign, "int")


def ivf_range_prune(
    emb: DataFrame,
    query_ints: Sequence[int],
    centroids: np.ndarray,
    *,
    thr_num: int,
    thr_den: int,
    vec_col: str = "embedding",
    margin: float = 1e-9,
) -> "tuple[DataFrame, list[int]]":
    """Triangle-inequality IVF cell screening for cosine range search.

    Assigns every (int8-quantized) vector to its max-cosine centroid
    and records its cosine to that centroid; the per-cell MINIMUM of
    that cosine bounds the cell's angular radius ``dev_c``, so a cell
    whose centroid is further than ``acos(r) + dev_c`` from the query
    cannot contain any in-range member (``angle(v,q) >=
    angle(q,c) - angle(v,c)``).  Returns ``(emb + __cell column,
    surviving cell ids)`` — screening is a strict SUPERSET of the
    radius, so the exact predicate downstream returns the identical
    member set (pytest-gated).  ``margin`` absorbs float64 rounding in
    the bound (never the final decision, which stays integer-exact).

    The assign+stats pass is an index-build cost — at corpus scale the
    assigned/stats frame is persisted once per index (classic IVF
    layout: data partitioned by cell) and queries pay only the pruned
    scan."""
    cents = np.asarray(centroids, dtype=np.float64)
    if cents.ndim != 2 or not len(cents):
        raise ValueError("centroids must be a (C, d) matrix")
    cn = np.linalg.norm(cents, axis=1, keepdims=True)
    unit = cents / np.where(cn > 0, cn, 1.0)

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ut = unit.T.copy()

    def cell_vcos(batch):
        q = quantize_int8_rows(batch)
        s = q @ ut
        cell = s.argmax(axis=1)
        qn = np.sqrt((q * q).sum(axis=1))
        vcos = np.where(
            qn > 0, s[np.arange(len(q)), cell] / np.where(qn > 0, qn, 1.0), 1.0
        )
        return pd.DataFrame(
            {"cell": cell.astype("int32"), "vcos": vcos}
        )

    cv = pandas_udf(cell_vcos, "struct<cell:int,vcos:double>")
    assigned = emb.withColumn("__cv", cv(F.col(vec_col))).withColumn(
        "__cell", F.col("__cv.cell")
    )
    stats = {
        r["__cell"]: r["mv"]
        for r in assigned.groupBy("__cell")
        .agg(F.min(F.col("__cv.vcos")).alias("mv"))
        .collect()
    }
    qf = np.asarray([float(v) for v in query_ints])
    qn = np.linalg.norm(qf)
    if qn == 0:
        raise ValueError("query vector must be non-zero")
    qcos = unit @ (qf / qn)
    r = math.sqrt(thr_num / thr_den)
    acos_r = math.acos(min(max(r, -1.0), 1.0))
    survivors = []
    for c, min_vcos in stats.items():
        theta_qc = math.acos(min(max(qcos[c], -1.0), 1.0))
        dev = math.acos(min(max(min_vcos, -1.0), 1.0))
        if math.cos(max(theta_qc - dev, 0.0)) >= r - margin:
            survivors.append(int(c))
    return assigned.drop("__cv"), sorted(survivors)


def cosine_range_search_int8(
    emb: DataFrame,
    query_ints: Sequence[int],
    *,
    thr_num: int = 225,
    thr_den: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """RANGE (radius) search: every vector whose cosine to the integer
    query is ``>= sqrt(thr_num/thr_den)`` — the all-neighbors-within-
    radius companion to top-k (dedup candidate pulls, recall-oriented
    retrieval, near-duplicate lookups by example).

    INTEGER-EXACT like :func:`semantic_dedup_int8`: corpus vectors are
    int8-quantized (portable floor(x+0.5)) and the decision is
    ``thr_den * dot^2 >= thr_num * |v|^2 * |q|^2 AND dot > 0`` in
    BIGINT — no float anywhere, so a SQL oracle replays the exact
    member set. One narrow scan, no shuffle, no topk sort; at 100 TB
    this is the embarrassingly-parallel filter shape (optionally IVF-
    pruned first like ann_topk_ivfpq when the radius is tight).

    Output: ``(id, dot)`` for every in-range vector.

    The whole per-row pipeline — int8 quantization, dot, norm — runs
    as ONE Arrow-batched numpy pass (a pandas UDF), not Spark
    higher-order folds: HOF lambdas are interpreted per element (~2 s
    for 5 k x 64 arrays measured, vs ~50 ms batched). numpy float64
    division/floor/clip are IEEE-identical to the Spark expression
    form and the int64 products exact, so the oracle (which replays
    quantization in DuckDB double math) is unaffected. Same lesson as
    the PQ encoder.

    ``centroids`` (a (C, d) matrix, e.g. from :func:`ivf_centroids`)
    turns on IVF PRUNING for tight radii at corpus scale: cells whose
    triangle-inequality bound cannot reach the radius are skipped
    entirely (:func:`ivf_range_prune`), and the SAME integer-exact
    predicate runs on the survivors — the member set is provably
    identical to the full scan (screening is a superset; pytest-gated),
    only the bytes read change."""
    qi = [int(v) for v in query_ints]
    qnorm = sum(v * v for v in qi)
    if qnorm == 0:
        raise ValueError("query vector must be non-zero")
    if centroids is not None:
        assigned, cells = ivf_range_prune(
            emb, qi, centroids,
            thr_num=thr_num, thr_den=thr_den, vec_col=vec_col,
        )
        keep = F.col("__cell").isin(cells) if cells else F.lit(False)
        emb = assigned.filter(keep).drop("__cell")

    dn = int8_dot_norm_udf(qi)
    q = emb.select(F.col(id_col), F.col(vec_col).alias("q"))
    return (
        q.select(F.col(id_col), dn(F.col("q")).alias("__dn"))
        .select(F.col(id_col), F.col("__dn.dot").alias("dot"),
                F.col("__dn.n").alias("__n"))
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(thr_den) * F.col("dot") * F.col("dot")
                >= F.lit(thr_num) * F.col("__n") * F.lit(qnorm)
            )
        )
        .select(id_col, "dot")
    )


def semantic_dedup_int8(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    thr_num: int = 9801,
    thr_den: int = 10000,
    sign_dims: int = 8,
    centroids: "np.ndarray | None" = None,
    cent_scale: int = 10_000,
    split_cap: "int | None" = None,
    split_bits: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    drop every vector that has a sufficiently-cosine-similar neighbor
    with a LOWER id; one exemplar per near-duplicate neighborhood
    survives. Returns ``(id, kept)`` for every input row.

    Engineering: candidates are blocked so the pairwise pass is
    quadratic only WITHIN a block, like the SemDeDup paper's k-means
    clusters. Two blocking modes:

    - ``centroids=None`` (default): the SIGN PATTERN of the first
      ``sign_dims`` int8-quantized components — portable, zero
      training, but capped at 2^sign_dims blocks (256 at the default),
      which caps join parallelism and leaves O(N^2/256) within-block
      work at corpus scale.
    - ``centroids=(C, d) array`` (the SCALE path, the paper's shape):
      each vector blocks on its INTEGER-EXACT nearest centroid —
      ``argmax_c dot(q, floor(centroid*cent_scale + 0.5))`` in int64
      (Arrow-batched matmul, lowest cell on ties) — so block count
      scales with the corpus (train C ~ N/target_block_size centroids
      via :func:`ivf_centroids`, or pass fixed integer centroids for a
      cross-engine-replayable assignment).

    ``split_cap`` adds a hot-block guard in either mode: blocks larger
    than the cap sub-split on the sign bits of the first
    ``split_bits`` quantized components (cold blocks join unsplit), so
    one dense neighborhood cannot re-create the quadratic blowup —
    the same re-banding idea as neardup.py's hot LSH buckets. Like
    any blocking refinement it can only REMOVE candidate pairs
    (near-identical twins share sub-bits unless a component sits at a
    sign boundary).

    The similarity test is INTEGER-EXACT regardless of blocking:
    vectors are int8-quantized (portable floor(x+0.5)), and
    ``cos >= sqrt(thr_num/thr_den)`` is evaluated as
    ``thr_den * dot^2 >= thr_num * |a|^2 * |b|^2  AND  dot > 0`` — all
    BIGINT arithmetic, no floating point anywhere in the decision, so
    the result is bit-reproducible across engines (the DuckDB oracle
    replays it exactly). Default threshold: cos >= 0.99.

    Scale: the shuffle carries (id, 64 int8 codes, norm, block key) —
    no float vectors; block sizes bound the pairwise cost exactly like
    SemDeDup's clusters."""
    q = quantize_int8(emb, id_col=id_col, vec_col=vec_col)
    ql = F.transform(F.col("q"), lambda x: x.cast("long"))
    norm = F.aggregate(ql, F.lit(0).cast("long"), lambda a, x: a + x * x)
    if centroids is not None:
        cent = np.asarray(centroids, dtype="float64")
        cent_int = np.floor(cent * cent_scale + 0.5).astype(np.int64)
        bucket = _cluster_assign_int_udf(cent_int)(F.col("q")).cast("long")
    else:
        bucket = None
        for i in range(sign_dims):
            bit = F.when(
                F.element_at("q", i + 1) < 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            bucket = bit if bucket is None else bucket + bit
    # feat feeds the hot-block count pre-pass, the hot-mark join, and
    # both self-join sides, so the quantize + Arrow cluster-assign
    # matmul appears once per plan consumer.  A persist+localCheckpoint
    # materialization was tried here (r12 optimization session 1) and
    # REVERTED: the measured A/B at sf0.1 (interleaved, equal
    # calibration) was lazy 0.8-1.15 s vs materialized 2.7-4.0 s — the
    # cache-fill and checkpoint barriers cost ~4x the whole query at
    # bench scale, against 3 saved Arrow passes whose inputs are narrow
    # (id, 64 int8 codes) rows.  At true corpus scale the recompute
    # trade reverses; if that tier matters, materialize the quantized
    # table ONCE upstream (a real side table, not an operator-local
    # cache) and pass it in.
    feat = q.select(
        F.col(id_col), F.col("q"), norm.alias("__n"), bucket.alias("__b")
    )
    if split_cap is not None:
        # hot-block guard: blocks over the cap sub-split on sign bits;
        # cold blocks keep sub-key -1 (single cheap count-by-block
        # pre-pass; the hot set is tiny by construction and broadcast)
        sub = None
        for i in range(split_bits):
            bit = F.when(
                F.element_at("q", i + 1) < 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            sub = bit if sub is None else sub + bit
        hot = (
            feat.groupBy("__b").agg(F.count("*").alias("__cnt"))
            .filter(F.col("__cnt") > split_cap)
            .select("__b")
        )
        feat = feat.join(
            F.broadcast(hot.withColumn("__hot", F.lit(True))), "__b", "left"
        ).select(
            F.col(id_col), F.col("q"), F.col("__n"), F.col("__b"),
            F.when(F.col("__hot"), sub).otherwise(F.lit(-1)).alias("__s"),
        )
    else:
        feat = feat.withColumn("__s", F.lit(-1))
    a = feat.select(
        F.col(id_col).alias("__ida"), F.col("q").alias("__qa"),
        F.col("__n").alias("__na"), "__b", "__s",
    )
    b = feat.select(
        F.col(id_col).alias("__idb"), F.col("q").alias("__qb"),
        F.col("__n").alias("__nb"), "__b", "__s",
    )
    dot = F.aggregate(
        F.zip_with("__qa", "__qb", lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, ["__b", "__s"])
        .filter(F.col("__idb") < F.col("__ida"))
        .withColumn("__dot", dot)
        .filter(
            (F.col("__dot") > 0)
            & (
                F.lit(thr_den) * F.col("__dot") * F.col("__dot")
                >= F.lit(thr_num) * F.col("__na") * F.col("__nb")
            )
        )
    )
    dropped = pairs.select(F.col("__ida").alias(id_col)).distinct()
    out = (
        emb.select(id_col)
        .join(dropped.withColumn("__drop", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )
    return out


def batch_cosine_topk(
    embeddings: DataFrame,
    query_vecs: "dict[object, Sequence[float]]",
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """MANY query vectors scored in ONE corpus pass — the batched
    serving path (a retrieval system answers queries in batches, not
    one scan per query). The query matrix ships in the task closure;
    each Arrow batch computes all scores with one numpy matmul (the
    documented wide-batch BLAS case — an expression tree per query
    would re-scan or blow up codegen), then per-query top-k ranks in a
    window PARTITIONED BY query (each query sorts only its own
    candidate rows). Output: (query_id, vec_id, score, rank)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    from bigdatasearchpro_spark.sources.files import fan_out

    qids = list(query_vecs.keys())
    q = np.asarray([query_vecs[i] for i in qids], dtype="float64")
    q = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)

    def gen(batches):
        for pdf in batches:
            x = np.asarray(pdf[vec_col].tolist(), dtype="float64")
            out = {"qi": [], id_col: [], "score": []}
            if x.size:
                norms = np.maximum(np.linalg.norm(x, axis=1), 1e-12)
                scores = (x @ q.T) / norms[:, None]  # (rows, queries)
                for j in range(len(qids)):
                    out["qi"].extend([j] * len(x))
                    out[id_col].extend(pdf[id_col].tolist())
                    out["score"].extend(np.round(scores[:, j], round_to))
            yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("qi", T.IntegerType(), False),
            T.StructField(id_col, T.LongType(), False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )
    scored = fan_out(embeddings).select(id_col, vec_col).mapInPandas(gen, schema)
    w = Window.partitionBy("qi").orderBy(F.desc("score"), F.asc(id_col))
    qmap = F.array(*[F.lit(str(i)) for i in qids])
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.element_at(qmap, F.col("qi") + 1).alias("query_id"),
            id_col, "score", "rank",
        )
    )


def mmr_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    pool_size: int = 100,
    lambda_mult: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein 1998) — the retrieval-diversity rerank a RAG / training-
    data sampler runs so the k results are not k near-duplicates::

        mmr(d) = lambda * sim(q, d)
                 - (1 - lambda) * max_{s in selected} sim(d, s)

    MMR selection is inherently ITERATIVE (each pick changes the next
    round's penalty), so it runs where iteration is cheap: the
    DISTRIBUTED part is the bounded candidate pool — a brute-force
    cosine TakeOrdered of ``pool_size`` (rounded scores, id
    tie-break) — and the greedy selection runs driver-side over that
    pool's vectors (``pool_size`` rows collected, the bounded-collect
    pattern of the centroid/PQ trainers).  At 100 TB the corpus cost
    is exactly one :func:`cosine_topk`; the rerank cost is fixed at
    ``pool_size * k`` dot products regardless of corpus size.

    Deterministic: pool cut and every greedy pick break ties on
    1e-6-grid scores then id asc.  Output: ``(rank, id, rel_e6,
    mmr_e6)`` with both scores as integer micro-units."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if not (0.0 <= lambda_mult <= 1.0):
        raise ValueError(f"lambda_mult must be in [0, 1], got {lambda_mult}")
    if pool_size < k:
        raise ValueError(f"pool_size {pool_size} must be >= k {k}")
    pool = cosine_topk(
        embeddings, query_vec, pool_size,
        id_col=id_col, vec_col=vec_col, round_to=6,
    )
    rows = (
        F.broadcast(pool)
        .join(embeddings.select(id_col, vec_col), id_col)
        .collect()
    )
    if not rows:
        spark = embeddings.sparkSession
        return spark.createDataFrame(
            [], "rank int, id bigint, rel_e6 bigint, mmr_e6 bigint"
        )
    ids = [r[id_col] for r in rows]
    rel = np.array([r["score"] for r in rows], dtype="float64")
    mat = np.array(
        [np.asarray(r[vec_col], dtype="float64") for r in rows]
    )
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    sims = unit @ unit.T  # pool_size^2, bounded
    rel_e6 = np.floor(rel * 1e6 + 0.5).astype("int64")
    lam = float(lambda_mult)
    order = sorted(range(len(ids)), key=lambda i: (-rel_e6[i], ids[i]))
    selected: "list[int]" = []
    out = []
    cand = list(order)
    while cand and len(selected) < k:
        best, best_key = None, None
        for i in cand:
            if selected:
                pen = max(sims[i][j] for j in selected)
            else:
                pen = 0.0
            mmr = lam * (rel_e6[i] / 1e6) - (1.0 - lam) * pen
            mmr_e6 = int(np.floor(mmr * 1e6 + 0.5))
            key = (-mmr_e6, ids[i])
            if best_key is None or key < best_key:
                best, best_key = (i, mmr_e6), key
        i, mmr_e6 = best
        selected.append(i)
        cand.remove(i)
        out.append((len(selected), int(ids[i]), int(rel_e6[i]), mmr_e6))
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        out, "rank int, id bigint, rel_e6 bigint, mmr_e6 bigint"
    )


def embedding_decontaminate_int8(
    emb: DataFrame,
    benchmark: DataFrame,
    *,
    thr_num: int = 9025,
    thr_den: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bench: int = 100_000,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    vector whose cosine to ANY held-out benchmark vector is
    ``>= sqrt(thr_num/thr_den)`` — the semantic companion to the
    n-gram :func:`curation.decontaminate` (paraphrased eval leakage
    that shares no 8-gram still shares an embedding neighborhood).

    INTEGER-EXACT like the range search: BOTH sides int8-quantize with
    the portable ``floor(x/scale + 0.5)`` and the per-pair decision is
    ``dot > 0 AND thr_den * dot^2 >= thr_num * |v|^2 * |b|^2`` in
    int64 (bounded: d=64 int8 keeps every product under 2^63), so a
    SQL oracle replays the flagged set and counts exactly.

    Plan (100 TB): the benchmark side is an EVAL set — thousands, not
    billions — so it collects once (guarded by ``max_bench``) and
    ships as a broadcast int64 matrix inside ONE Arrow-batched numpy
    pass over the corpus: quantize + (n, d) @ (d, B) matmul + the
    integer mask, no join, no shuffle.  Output: ``(id, n_matches)``
    for flagged vectors only.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if thr_num <= 0 or thr_den <= 0:
        raise ValueError("thresholds must be positive")
    n_bench = benchmark.count()
    if n_bench == 0:
        raise ValueError("benchmark set is empty")
    if n_bench > max_bench:
        raise ValueError(
            f"benchmark side has {n_bench} vectors > max_bench={max_bench}; "
            "an eval set should be page-sized — raise max_bench only if "
            "the broadcast matrix genuinely fits the executors"
        )
    rows = benchmark.select(vec_col).collect()

    B = quantize_int8_rows([r[0] for r in rows])        # (Bn, d) int64
    bnorm = (B * B).sum(axis=1)                         # (Bn,)
    Bt = B.T.copy()
    tn, td = int(thr_num), int(thr_den)

    def n_matches(batch):
        q = quantize_int8_rows(batch)
        dots = q @ Bt                                    # (n, Bn)
        vnorm = (q * q).sum(axis=1, keepdims=True)       # (n, 1)
        ok = (dots > 0) & (td * dots * dots >= tn * vnorm * bnorm[None, :])
        return pd.Series(ok.sum(axis=1).astype("int64"))

    fn = pandas_udf(n_matches, "long")
    out = emb.select(F.col(id_col), fn(F.col(vec_col)).alias("n_matches"))
    return out.filter(F.col("n_matches") > 0)


def binarize_embedding(vec_col: "Column | str") -> "tuple[Column, Column]":
    """Sign-bit binarization of a float embedding into two packed
    32-bit halves (lo = dims 0-31, hi = 32-63) carried in BIGINTs —
    the ES 8.x ``element_type: bit`` storage: 64x smaller than
    float32, hamming-comparable.  Two halves (not one 64-bit word)
    keep every shift unsigned-safe in BOTH engines; pure integer
    column math, no UDF."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    def pack(lo_bit: int) -> Column:
        # MSB-first fold: acc*2 + bit — no variable shifts (Spark's
        # shiftleft takes only a literal count); 32 exact bigint ops
        return F.aggregate(
            F.sequence(F.lit(31 + lo_bit), F.lit(lo_bit), F.lit(-1)),
            F.lit(0).cast("bigint"),
            lambda acc, i: acc * F.lit(2)
            + F.when(
                F.try_element_at(v, (i + 1).cast("int")).cast("double") > 0,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint"),
        )

    return pack(0), pack(32)


def hamming_topk(
    emb: DataFrame,
    query_vec: "Sequence[float]",
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """kNN over BIT vectors (ES 8.x ``element_type: bit`` / hamming
    ``similarity``): corpus embeddings sign-binarized to two packed
    32-bit halves, query binarized ONCE driver-side, distance =
    ``bit_count(lo XOR qlo) + bit_count(hi XOR qhi)`` — pure integer
    ops in the scan's codegen span, then a TakeOrdered page (distance
    asc, id tie-break).  The 64x storage shrink vs float32 is the
    point at corpus scale; the integer distance makes the whole page
    SQL-replayable.

    Output: ``(id, hamming)``."""
    if len(query_vec) < 64:
        raise ValueError("hamming_topk expects >= 64-dim vectors")
    qlo = sum((1 << i) for i in range(32) if float(query_vec[i]) > 0)
    qhi = sum((1 << i) for i in range(32) if float(query_vec[i + 32]) > 0)
    lo, hi = binarize_embedding(vec_col)
    dist = F.bit_count(
        lo.bitwiseXOR(F.lit(qlo).cast("bigint"))
    ) + F.bit_count(hi.bitwiseXOR(F.lit(qhi).cast("bigint")))
    return (
        emb.select(F.col(id_col), dist.alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(k)
    )


def maxsim_topk(
    emb: DataFrame,
    query_ints: "Sequence[int]",
    k: int = 10,
    *,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 1000,
) -> DataFrame:
    """Late-interaction (ColBERT-style) maxSim ranking — the ES 8.x
    ``rank_vectors`` field's ``maxSimDotProduct``: a document is a SET
    of sub-vectors and the score is ``sum over query sub-vectors of
    max over doc sub-vectors of dot(q_i, d_j)``.  Here both sides are
    the 64-dim fixture vector RESHAPED to ``n_sub`` sub-vectors (the
    multi-vector plumbing is the point; a real corpus stores token
    vectors directly).

    Exactness: document components quantize to an integer grid
    (``floor(x*grid + 0.5)``) and the query is already integer, so
    every dot / max / sum is BIGINT — the page is SQL-replayable.
    The score runs as ONE Arrow-batched numpy matmul per batch
    (``(B*n_sub, sub) @ (sub, n_sub)`` then max/sum): the explicit
    n_sub^2 x sub expression tree this replaces (the first draft,
    following the PQ "no interpreted HOF lambdas" lesson) built a
    ~4000-node projection whose per-query optimize/codegen cost
    dominated the whole entry at ~2.5 s for 2000 rows — the SAME
    wide-batch-matmul case SCALING.md's round-5 PQ note sanctions for
    mapInPandas+numpy.  numpy float64 multiply/floor and int64
    dot/max/sum are bit-identical to the expression form (IEEE ops on
    the same operands; the DuckDB oracle replays them exactly).
    Rows shorter than the query dim score NULL (the expression form's
    ``try_element_at`` null-poisoning), longer rows ignore the tail.
    A row with a NaN or ±inf component also scores NULL: a NULL
    component arrives as NaN, and neither NaN nor ±inf has a place on
    the int64 grid (``floor(inf*grid)`` has no integer value).
    TakeOrdered closes the page."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    d = len(query_ints)
    if d % n_sub != 0:
        raise ValueError("vector dim must divide n_sub")
    sub = d // n_sub
    qm = np.asarray([int(x) for x in query_ints], dtype=np.int64).reshape(
        n_sub, sub
    )
    g = float(grid)

    def maxsim_batch(batch):
        vals = batch.tolist()
        if not vals:
            return pd.Series([], dtype="float64")
        lens = [len(v) if v is not None else -1 for v in vals]
        if min(lens) == max(lens) == d:
            fm = np.asarray(vals, dtype=np.float64)
            # a NULL component arrives as NaN; astype(int64) on NaN or
            # ±inf is UNDEFINED (typically INT64_MIN), so a row with a
            # non-finite component scores NULL (see the docstring)
            bad = ~np.isfinite(fm).all(axis=1)
            m = np.floor(
                np.where(np.isfinite(fm), fm, 0.0) * g + 0.5
            ).astype(np.int64)
            dots = m.reshape(len(vals), n_sub, sub) @ qm.T  # (B, dj, qi)
            scores = dots.max(axis=1).sum(axis=1)
            if bad.any():
                out = scores.astype(object)
                out[bad] = None
                return pd.Series(out, dtype="object")
            return pd.Series(scores)
        out = []
        for v in vals:  # ragged batch: per-row (the uniform fast path
            if v is None or len(v) < d:  # covers every real corpus)
                out.append(None)
                continue
            fv = np.asarray(v[:d], dtype=np.float64)
            if not np.isfinite(fv).all():  # same NaN/astype hole as above
                out.append(None)
                continue
            m = np.floor(fv * g + 0.5).astype(np.int64).reshape(n_sub, sub)
            out.append(int((m @ qm.T).max(axis=0).sum()))
        return pd.Series(out, dtype="object")

    ms = pandas_udf(maxsim_batch, "long")
    return (
        emb.select(F.col(id_col), ms(F.col(vec_col)).alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc(id_col))
        .limit(k)
    )


def sparse_vector_column(
    docs: DataFrame,
    text_col: str = "text",
    *,
    analyzer: str = "standard",
) -> Column:
    """A stored sparse-vector column in the ES ``sparse_vector`` field
    shape — ``map<token, weight>`` — here with term frequency as the
    integer weight (the model-free stand-in for ELSER's learned
    expansion weights; the FIELD shape and query below are exactly the
    ES 8.x surface, only the weight producer differs).  One pass of
    array expressions: tokenize, distinct, count per token — no
    explode, no shuffle."""
    from bigdatasearchpro_spark.operators.search import tokens_expr

    toks = tokens_expr(text_col, analyzer)
    uniq = F.array_distinct(toks)
    return F.map_from_arrays(
        uniq,
        F.transform(
            uniq,
            lambda u: F.size(F.filter(toks, lambda t: t == u)).cast("long"),
        ),
    )


def sparse_vector_topk(
    docs: DataFrame,
    query_weights: "dict[str, int]",
    k: int = 10,
    *,
    vec_col: str = "sparse_vec",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``sparse_vector`` / ``text_expansion`` query: score = the
    sparse dot product of the query's weighted tokens against each
    document's stored token->weight map; top-k by score.

    The query side is a literal handful of (token, weight) pairs, so
    the dot product unrolls to one addition chain of map lookups
    (``try_element_at`` — absent tokens contribute 0) inside the
    scan's codegen span, and the page is a TakeOrdered heap: one
    corpus scan, no explode, no join, no shuffle at any corpus size.
    Integer weights keep the score BIGINT-exact (ES float weights
    round-trip through the same grid trick the int8 ring uses)."""
    if not query_weights:
        raise ValueError("query_weights must be non-empty")
    score = None
    for tok, w in sorted(query_weights.items()):
        term = F.coalesce(
            F.try_element_at(F.col(vec_col), F.lit(tok)), F.lit(0)
        ) * F.lit(int(w))
        score = term if score is None else score + term
    out = docs.withColumn("score", score.cast("long")).filter(
        F.col("score") > 0
    )
    return (
        out.select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
