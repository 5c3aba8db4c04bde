"""Embedding similarity search (extension surface — SURVEY.md §2.10).

Brute-force cosine top-k as the exactness baseline, and two scale
paths: random-hyperplane LSH bucketing and an IVF-style inverted file
over centroid cells.  Vector math is expressed with higher-order SQL
functions (zip_with/aggregate) in double precision — JVM-side, no
Python in the inner loop; the Arrow/Pandas path exists only where a
numpy BLAS batch genuinely wins (see ``cosine_topk_pandas``).

Scale design: brute force is O(Q·N·d) — fine for a broadcastable query
set (Q small), unacceptable for all-pairs.  LSH/IVF make the candidate
set per query O(N/buckets): the bucket id is the shuffle key, queries
probe only matching buckets (plus neighbors), turning a cross join
into an equi-join — the same pattern as every other skew-aware shuffle
in this engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (element order fixed ⇒ deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: above this dimension, "unrolled" expression builders switch to array
#: higher-order functions: a d-term Add chain (and d per-dim columns in
#: quantize) is a Catalyst liability at d≥1024 — analysis/codegen cost
#: grows with the expression tree while the HOF plan stays one node.
#: 128 keeps the common embedding dims (64/96/128) on the codegen-fast
#: unrolled path and the big ones (256/768/1024+) on the bounded one.
UNROLL_MAX_DIM = 128


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Σ aᵢ·bᵢ as a flat unrolled expression for a KNOWN dimension.

    Higher-order functions (``aggregate``/``zip_with``) are
    CodegenFallback in Spark — interpreted per element — which makes
    :func:`dot` the bottleneck of any all-pairs comparison.  When the
    embedding dimension is fixed (the usual case: a model has ONE
    output dim), unrolling into ``a[0]*b[0] + … + a[d-1]*b[d-1]``
    keeps the whole thing inside whole-stage codegen: measured ~5×
    on the sf0.01 all-pairs near-dup.  Same left-to-right accumulation
    order as :func:`dot`, so results are bit-identical — which also
    holds for the ``dim > UNROLL_MAX_DIM`` fallback to the HOF
    :func:`dot` (same order, interpreted instead of codegen'd;
    property-pinned at d=256 in tests/test_similarity_multimodal.py).

    Arrays shorter than ``dim`` would yield nulls (or, under ANSI,
    an index error) — callers own that invariant.
    """
    if dim > UNROLL_MAX_DIM:
        return dot(a, b)
    terms = [
        a[i].cast("double") * b[i].cast("double") for i in range(dim)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set against the
    vector table, rank per query.

    The cross join is explicitly broadcast (Q rows ≪ N): each executor
    scans its vector partitions once against the in-memory query set —
    no shuffle of the big side at all; the only shuffle is the final
    per-query top-k, which TakeOrdered-style window ranking keeps at
    O(Q·k) rows after partial filtering.  Similarity is rounded to 6
    decimals BEFORE ranking, with id tiebreak, so the result set is
    reproducible across engines and accumulation orders.
    """
    # bcast-ok: ANN query set (handful of probe vectors), ≪ corpus by contract
    pairs = vectors.crossJoin(F.broadcast(queries)).withColumn(
        "cosine_sim",
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    skip: int = 5,
    k: int = 5,
    min_sim: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    retrieval recipe): per query, skip the ``skip`` MOST-similar
    vectors (assumed positives / near-duplicates of the anchor) and
    return the next ``k`` — similar enough to be informative
    negatives, dissimilar enough to be actual negatives.  ``min_sim``
    fences off the trivially-unrelated tail: a rank that falls below
    it is dropped rather than padded (fewer than ``k`` negatives is a
    real outcome the trainer must see, not paper over).

    Same plan shape as :func:`cosine_topk`: broadcast query set, one
    scan of the vector table, and a rank ≤ skip+k filter that Spark's
    WindowGroupLimit pushes into per-partition partial top-(skip+k)
    heaps — O(Q·(skip+k)) rows reach the final shuffle, never Q·N.
    Similarity rounds to 6 decimals before ranking with id tiebreak,
    so the mined set is engine- and partitioning-reproducible — the
    property that makes a regenerated training set diff-able.
    """
    # bcast-ok: ANN query set (handful of probe vectors), ≪ corpus by contract
    pairs = vectors.crossJoin(F.broadcast(queries)).withColumn(
        "cosine_sim",
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= skip + k)
        .filter(
            (F.col("rank") > skip)
            & (F.col("cosine_sim") >= F.lit(float(min_sim)))
        )
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def normalize(vec_col: Column) -> Column:
    """Unit-normalize (double) — do it once at ingest so every probe is
    a plain dot product.

    Shape note (r12): the norm must NOT sit inside the per-element
    lambda — interpreted HOFs re-evaluate the captured subtree per
    element, so ``transform(v, x -> x / l2_norm(v))`` costs O(dim²)
    per evaluation, and CollapseProject then inlines that into EVERY
    downstream use (each of sign-LSH's bits×tables plane dots),
    multiplying it again.  Measured on the r12 hot-bucket sweep: a
    single pass over 3.2M tagged 64-dim rows was 31 s with the
    norm-in-lambda form.  ``array_repeat(norm, size)`` evaluates the
    norm ONCE per evaluation (its child, not the lambda body), so the
    zip_with form is O(dim) — values bit-identical (same divisions)."""
    n = l2_norm(vec_col)
    return F.zip_with(
        vec_col,
        F.array_repeat(n, F.size(vec_col)),
        lambda x, nn: x.cast("double") / nn,
    )


def random_hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH (driver-side
    constants, broadcast with the plan — no data dependence)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = sign(v · plane_i).  Cosine-similar
    vectors collide with high probability; the bucket id becomes the
    equi-join / shuffle key at scale.

    The plane dot unrolls to a flat literal-coefficient chain when the
    dimension permits (same products, same left-to-right accumulation
    as the HOF :func:`dot` — bit-identical signs, verified against the
    Column build term-by-term, so the DuckDB twins are unaffected):
    HOFs are CodegenFallback, and bits×tables interpreted dots per row
    were the constant that dominated the r12 hot-bucket sweep's
    per-pass cost.

    Pass the column NAME when you have it: the whole bucket expression
    is then built as ONE ``F.expr`` string — bits×dim Column-operator
    calls are bits×dim py4j round-trips, which made DataFrame
    CONSTRUCTION the bottleneck (32 s of driver time for 16 tables ×
    64 dims at r12, vs ~0 for the parsed string; ``0.1D`` literals
    keep SQL doubles, not decimals).  A Column argument falls back to
    the operator build (identical values)."""
    if isinstance(vec_col, str) and all(
        len(p) <= UNROLL_MAX_DIM for p in planes
    ):
        parts = []
        for i, plane in enumerate(planes):
            dot_s = " + ".join(
                f"(CAST(`{vec_col}`[{j}] AS DOUBLE) * {c!r}D)"
                for j, c in enumerate(plane)
            )
            parts.append(
                f"(CASE WHEN ({dot_s}) >= 0.0D"
                f" THEN CAST({1 << i} AS BIGINT)"
                f" ELSE CAST(0 AS BIGINT) END)"
            )
        return F.expr("(" + " + ".join(parts) + ")")
    if isinstance(vec_col, str):
        vec_col = F.col(vec_col)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        if len(plane) <= UNROLL_MAX_DIM:
            d = vec_col[0].cast("double") * F.lit(plane[0])
            for j in range(1, len(plane)):
                d = d + vec_col[j].cast("double") * F.lit(plane[j])
        else:
            arr = F.array(*[F.lit(x) for x in plane])
            d = dot(vec_col, arr)
        bit = F.when(d >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine rank within candidates.  2^bits buckets ⇒
    ~N/2^bits candidates per query instead of N; recall is tunable via
    bits (fewer bits = more recall, more work).  The vectors↔queries
    match is an equi-join on the bucket id — broadcastable small side,
    no cross join."""
    planes = random_hyperplanes(dim, bits, seed)
    v = vectors.withColumn("bucket", lsh_bucket(vec_col, planes))
    q = queries.withColumn("bucket", lsh_bucket(query_vec_col, planes))
    # bcast-ok: bucketed ANN query set, ≪ corpus by contract
    pairs = v.join(F.broadcast(q), on="bucket").withColumn(
        "cosine_sim", F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cell",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """IVF build: assign every vector to its nearest centroid cell
    (max cosine).  Centroids are broadcast; assignment is a map-only
    pass.  The cell id is then the partition/bucket key for probes —
    write the index partitioned by cell and a probe reads only
    n_probe cells."""
    # bcast-ok: k×d IVF centroid table, bounded by n_cells param
    pairs = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "sim", F.round(cosine(F.col(vec_col), F.col(centroid_vec_col)), 6)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("sim").desc(), F.col(centroid_id_col).asc()
    )
    return (
        pairs.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(id_col, vec_col, centroid_id_col)
    )


def cosine_topk_pandas(
    vectors: DataFrame,
    query_rows: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched brute force: numpy matmul per partition batch.

    The vectorized alternative when d is large enough that JVM
    element-wise HOFs lose to BLAS: queries ship as a broadcast numpy
    matrix, each Arrow batch of vectors does one (batch×d)·(d×Q)
    matmul, emits per-query partial top-k; a final groupBy merges
    partials.  Demonstrates the sanctioned Pandas-UDF escape hatch —
    Arrow batches, never row-at-a-time Python.
    """
    import numpy as np
    import pandas as pd

    qids = [int(q) for q, _ in query_rows]
    qmat = np.array([v for _, v in query_rows], dtype=np.float64)
    qnorm = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ qnorm.T  # (batch, Q)
            for qi, qid in enumerate(qids):
                col = sims[:, qi]
                top = np.argsort(-col)[:k]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        id_col: pdf[id_col].to_numpy()[top],
                        "cosine_sim": np.round(col[top], 6),
                    }
                )

    partials = vectors.select(id_col, vec_col).mapInPandas(
        score, schema=f"query_id long, {id_col} long, cosine_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", "rank")
    )


def quantize_int8(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[float]]:
    """Scalar int8 quantization: per-dimension symmetric scales (max
    |x| over the corpus → one bounded 1-row agg), codes in [-127,127],
    plus a per-vector norm of the DEQUANTIZED vector — the classic
    codes+norm ANN layout that shrinks the hot table 4× (int8 vs
    float32, 8× vs float64), which at 100 TB of embeddings is the
    difference between fitting the scan in page cache or not.

    Two expression strategies, identical results (property-pinned):
    ``dim ≤ UNROLL_MAX_DIM`` builds per-dimension columns (whole-stage
    codegen keeps them fast); above it, the per-dim max becomes a
    posexplode→groupBy(pos) aggregation (map-side partial, dim-sized
    result) and codes/norm become array HOFs — bounded Catalyst trees
    at d=1024+.

    Returns (DataFrame[id, codes array<int>, qnorm double], scales).
    """
    if dim <= UNROLL_MAX_DIM:
        mx = vectors.agg(
            *[
                F.max(F.abs(F.element_at(F.col(vec_col), i + 1))).alias(f"s{i}")
                for i in range(dim)
            ]
        ).collect()[0]
        factors = [(float(mx[i]) / 127.0) if mx[i] else 1.0 for i in range(dim)]
        code = [
            F.round(F.element_at(F.col(vec_col), i + 1) / F.lit(factors[i]))
            .cast("int")
            .alias(f"c{i}")
            for i in range(dim)
        ]
        staged = vectors.select(id_col, *code)
        dequant_sq = [
            (F.col(f"c{i}") * F.lit(factors[i])) ** 2 for i in range(dim)
        ]
        norm = dequant_sq[0]
        for t in dequant_sq[1:]:
            norm = norm + t
        return (
            staged.select(
                id_col,
                F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("codes"),
                F.sqrt(norm).alias("qnorm"),
            ),
            factors,
        )
    # HOF path: dim-agnostic, bounded expression trees
    mx_rows = (
        vectors.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x"))).alias("m"))
        .collect()
    )
    mx_by_pos = {r["pos"]: r["m"] for r in mx_rows}
    factors = [
        (float(mx_by_pos[i]) / 127.0) if mx_by_pos.get(i) else 1.0
        for i in range(dim)
    ]
    farr = F.lit(factors)
    codes = F.zip_with(
        F.col(vec_col), farr, lambda x, f: F.round(x.cast("double") / f).cast("int")
    )
    staged = vectors.select(id_col, codes.alias("codes"))
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("codes"), farr, lambda c, f: (c.cast("double") * f) ** 2
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return staged.select(id_col, "codes", norm.alias("qnorm")), factors


def cosine_topk_quantized(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Int8-quantized ANN with exact rescore — the memory-bandwidth
    scale path between brute force and IVF/LSH:

    1. the big side is scanned as int8 codes + one fp32 norm
       (:func:`quantize_int8`) — 4-8× less data moved than raw
       doubles;
    2. the per-dim dequantization factors fold into the BROADCAST
       query side (``q[i]·fᵢ``), so the approximate cosine is a plain
       integer-weighted dot in whole-stage codegen (dot_unrolled) —
       the codes never dequantize row-side;
    3. top ``k·rescore_factor`` candidates per query (cheap window
       over Q·N approx scores) are exactly rescored against the raw
       vectors — a key-sized join — and re-ranked to the final k.

    Output schema matches :func:`cosine_topk`; on the driver fixtures
    the rescored result is IDENTICAL to brute force (recall 1.0 —
    pinned by reusing the brute-force oracle; NOTE this is not a
    recall *guarantee* — see :func:`topk_from_codes`), while the
    candidate scan reads an 8× smaller table.

    This convenience wrapper quantizes per call; the scan win only
    materializes when the codes table is written ONCE and re-probed —
    that is :func:`topk_from_codes` over a stored codes+norm table
    (the ``ann_topk_codes`` registry query).
    """
    codes_df, factors = quantize_int8(vectors, dim, id_col, vec_col)
    return topk_from_codes(
        codes_df, factors, vectors, queries, k=k, dim=dim,
        rescore_factor=rescore_factor, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )


def topk_from_codes(
    codes_df: DataFrame,
    factors: list[float],
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ANN probe over a PRE-MATERIALIZED codes+norm table (the
    deployment shape: quantize once at ingest, write
    ``[id, codes array<int>, qnorm]`` + the dim-sized ``factors``
    sidecar, then every probe scans only the 8×-smaller table).

    The per-dim dequantization factors fold into the BROADCAST query
    side, so the approximate score is a plain weighted dot over int
    codes; the top ``k·rescore_factor`` candidates per query are
    exactly rescored against the raw vectors (a key-sized join).

    RECALL NOTE: rescore repairs quantization error only within the
    candidate set — if quantization pushes a true top-k vector below
    the top ``k·rescore_factor`` approx ranks, it is lost.  On the
    driver fixtures recall is 1.0 and the result hash-matches brute
    force, but that is an empirical property of these fixtures, not an
    invariant; raise ``rescore_factor`` (candidate cost is linear in
    it) if fixtures or models change.
    """
    if dim <= UNROLL_MAX_DIM:
        qs = F.array(
            *[
                F.element_at(F.col(query_vec_col), i + 1) * F.lit(factors[i])
                for i in range(dim)
            ]
        )
    else:
        qs = F.zip_with(
            F.col(query_vec_col), F.lit(factors), lambda x, f: x.cast("double") * f
        )
    qscaled = queries.select(query_id_col, qs.alias("__qs"))
    approx = (
        # bcast-ok: scaled ANN query set, ≪ corpus by contract
        codes_df.crossJoin(F.broadcast(qscaled))
        .withColumn(
            "approx_sim",
            dot_unrolled(F.col("codes"), F.col("__qs"), dim) / F.col("qnorm"),
        )
    )
    cand_w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_sim").desc(), F.col(id_col).asc()
    )
    cands = (
        approx.withColumn("__crank", F.row_number().over(cand_w))
        .filter(F.col("__crank") <= k * rescore_factor)
        .select(query_id_col, id_col)
    )
    # Broadcast the CANDIDATES so the corpus-sized vectors table is
    # the STREAM side of the rescore join.  Without the hint the
    # planner broadcast the raw vectors scan (r17 before-plan,
    # BroadcastHashJoin BuildRight over the whole embeddings table):
    # workable at sf0.1, impossible at real corpus scale, and it
    # rebuilt a corpus-sized hashed relation on every probe.
    exact = (
        # bcast-ok: candidate set is ≤ k·rescore_factor·|queries| rows
        # BY CONSTRUCTION (the row_number filter above)
        vectors.join(F.broadcast(cands), on=id_col)
        # bcast-ok: ANN query set rejoin for exact rescoring, ≪ corpus
        .join(F.broadcast(queries), on=query_id_col)
        .withColumn(
            "cosine_sim",
            F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def pq_encode(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization encode: split ``dim`` into ``m`` subspaces
    of ``dim/m`` dims, learn a ``ksub``-centroid codebook per subspace
    with the exact Lloyd steps of :func:`clustering.kmeans_fixed`
    (decimal distances, deterministic seeds = the first ``ksub``
    vectors' subvectors), and encode every vector as its per-subspace
    nearest-centroid ids.

    Returns ``(codes, codebooks)``: ``codes(id, s, c)`` — m rows per
    vector, the 100 TB artifact (m bytes/vector beats int8's
    dim bytes: at m=8 over d=768 floats that is a 384× scan
    shrink) — and ``codebooks(s, c, dim, cval)`` with GLOBAL dim
    indices, the m·ksub·(dim/m)-value sidecar.

    Everything is decimal-rounded the way kmeans_fixed is, so a
    DuckDB oracle recomputes codebooks and codes bit-for-bit.

    The ``m`` subspace Lloyd fits are INDEPENDENT chains (each reads
    its own slice of the vectors and trains its own codebook), so they
    run on a small driver thread pool (r16; guide §2.6 overlapping of
    independent jobs): each fit's eager checkpoint jobs back-fill
    executors freed by another fit's tail, turning m sequential
    job-latency chains into ~max(chain).  Values are untouched — the
    fits share nothing, and codes/codebooks are assembled in subspace
    order, not completion order.
    """
    from concurrent.futures import ThreadPoolExecutor

    from square_etl_spark.operators.clustering import kmeans_fixed

    ds = dim // m
    if m * ds != dim:
        raise ValueError(f"m={m} must divide dim={dim}")

    def _fit(s: int):
        sub = vectors.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * ds + 1, ds).alias(vec_col),
        )
        return kmeans_fixed(sub, id_col, vec_col, k=ksub, iters=iters)

    with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
        fits = list(pool.map(_fit, range(m)))
    codes = None
    codebooks = None
    for s, (assign, cent) in enumerate(fits):
        cpart = assign.select(
            F.col("vid").alias(id_col), F.lit(s).alias("s"), "c"
        )
        bpart = cent.select(
            F.lit(s).alias("s"),
            "c",
            (F.col("dim") + F.lit(s * ds)).alias("dim"),
            "cval",
        )
        codes = cpart if codes is None else codes.unionByName(cpart)
        codebooks = bpart if codebooks is None else codebooks.unionByName(bpart)
    return codes, codebooks


def pq_encode_with(
    vectors: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode a batch under FROZEN codebooks — the read side of the
    fit-once/encode-many split (:func:`pq_encode` trains once; every
    later ingest batch encodes against the stored
    ``codebooks(s, c, dim, cval)`` sidecar with one broadcast-join +
    decimal-argmin pass per subspace, no Lloyd iteration).  Identical
    arithmetic to the build's in-loop assignment, so codes are
    deterministic and bit-equal across batches FOR THE APPEND PATH.

    One declared asymmetry vs the build (pinned in tests):
    :func:`pq_encode` returns the Lloyd loop's LAST assignment, which
    was computed against the penultimate codebooks (the kmeans_fixed
    convention its DuckDB oracles replay), while this function assigns
    against the FINAL stored codebooks — so re-encoding the training
    batch can move a boundary vector to its now-nearest code.  ADC is
    correct either way (it reconstructs whatever code is stored); the
    append path is self-consistent (every appended row uses the same
    frozen artifact)."""
    from square_etl_spark.operators.clustering import kmeans_assign_exact

    ds = dim // m
    if m * ds != dim:
        raise ValueError(f"m={m} must divide dim={dim}")
    codes = None
    for s in range(m):
        sub = vectors.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * ds + 1, ds).alias(vec_col),
        )
        # codebooks carry GLOBAL dim indices; assignment long-form is
        # subspace-local (1..ds)
        cb_s = codebooks.filter(F.col("s") == s).select(
            "c", (F.col("dim") - F.lit(s * ds)).alias("dim"), "cval"
        )
        assign = kmeans_assign_exact(sub, cb_s, id_col, vec_col)
        cpart = assign.select(
            F.col("vid").alias(id_col), F.lit(s).alias("s"), "c"
        )
        codes = cpart if codes is None else codes.unionByName(cpart)
    return codes


def ivfpq_index_append(
    index: tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame],
    batch: DataFrame,
    dim: int = 64,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Append-only IVF-PQ ingest: fold a new vector batch into an
    existing index UNDER FROZEN PARAMETERS — coarse cells assigned
    against the stored coarse centroids (one broadcast-join argmin,
    :func:`clustering.kmeans_assign_exact`), codes from
    :func:`pq_encode_with`, reconstructed norms from the same
    codebook-norm join as the build.  No retraining, cost linear in
    the batch — the stored-index maintenance story the rest of the
    incremental family (exact/minhash/substring/embedding-LSH) ships
    with, applied to the ANN ladder's top rung.

    Laws (pinned in tests/test_similarity_multimodal.py):
    batch-fold associativity — ``append(append(I, b2), b3) ≡
    append(I, b2 ∪ b3)`` element-for-element, because every relation
    is per-row under frozen parameters — and probe-equivalence: the
    probe over the appended index is :func:`topk_from_pq` over the
    union relations, so new vectors are immediately searchable (and
    findable as their own nearest neighbor).

    Drift is the operator's declared blind spot, as for every frozen-
    parameter index (FAISS add() has the same contract): if the new
    data's distribution leaves the trained cells, recall decays —
    monitor with ann_recall_audit and retrain/rebuild when it drops.
    Centroid/codebook relations pass through unchanged, so a stored
    deployment appends ONLY cell-partitioned code files
    (:func:`write_ivfpq_index` layout) and the sidecars stay put."""
    cells, coarse_cent, codes, codebooks, rnorm = index
    from square_etl_spark.operators.clustering import kmeans_assign_exact

    # (vid, c, d2) — same shape as the build's assign relation (d2 is
    # diagnostic; consumers select vid/c)
    new_cells = kmeans_assign_exact(batch, coarse_cent, id_col, vec_col)
    new_codes = pq_encode_with(batch, codebooks, dim, m, id_col, vec_col)
    cn2 = codebooks.groupBy("s", "c").agg(
        F.sum(
            F.round(F.col("cval") * F.col("cval"), 9).cast("decimal(38,9)")
        ).alias("cn2")
    )
    new_rnorm = (
        # bcast-ok: m·ksub codebook-norm table, parameter-bounded
        new_codes.join(F.broadcast(cn2), ["s", "c"])
        .groupBy(id_col)
        .agg(F.sqrt(F.sum("cn2").cast("double")).alias("rnorm"))
    )
    return (
        cells.unionByName(new_cells),
        coarse_cent,
        codes.unionByName(new_codes),
        codebooks,
        rnorm.unionByName(new_rnorm),
    )


def ivfpq_index(
    vectors: DataFrame,
    dim: int = 64,
    n_cells: int = 4,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """IVF-PQ index BUILD — the write-once side: coarse Lloyd cells,
    per-subspace PQ codebooks + codes, and per-vector reconstructed
    norms.  Returns ``(cells, coarse_cent, codes, codebooks, rnorm)``
    — at deployment, write ``codes``+``rnorm`` partitioned by cell
    and the two centroid relations as k×d / m·ksub·(dim/m) sidecars;
    every probe then reads only the probed cell partitions
    (:func:`topk_from_pq`)."""
    from concurrent.futures import ThreadPoolExecutor

    from square_etl_spark.operators.clustering import kmeans_fixed

    ds = dim // m
    if m * ds != dim:
        raise ValueError(f"m={m} must divide dim={dim}")
    # the coarse Lloyd chain and the m PQ-subspace chains are mutually
    # independent — overlap them (r16; guide §2.6), same rationale and
    # value-neutrality as pq_encode's internal pool
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_coarse = pool.submit(
            kmeans_fixed, vectors, id_col, vec_col, k=n_cells, iters=iters
        )
        f_pq = pool.submit(
            pq_encode, vectors, dim, m=m, ksub=ksub, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
        cells, coarse_cent = f_coarse.result()
        codes, codebooks = f_pq.result()
    cn2 = codebooks.groupBy("s", "c").agg(
        F.sum(
            F.round(F.col("cval") * F.col("cval"), 9).cast("decimal(38,9)")
        ).alias("cn2")
    )
    rnorm = (
        # bcast-ok: m·ksub codebook-norm table, parameter-bounded
        codes.join(F.broadcast(cn2), ["s", "c"])
        .groupBy(id_col)
        .agg(F.sqrt(F.sum("cn2").cast("double")).alias("rnorm"))
    )
    return cells, coarse_cent, codes, codebooks, rnorm



def _probe_cells(
    queries: DataFrame,
    coarse_cent: DataFrame,
    n_probe: int,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Per-query nearest coarse cells (query_id, c) — decimal-exact
    distances against the parameter-bounded centroid table; shared by
    the in-memory and stored IVF-PQ probes so the two cannot drift."""
    from square_etl_spark.operators.clustering import _long_form

    qlf = _long_form(queries, query_id_col, query_vec_col)
    diff = F.col("val") - F.col("cval")
    qcell_d = (
        # bcast-ok: n_cells×dim coarse centroid table, parameter-bounded
        qlf.join(F.broadcast(coarse_cent), "dim")
        .groupBy("vid", "c")
        .agg(
            F.sum(F.round(diff * diff, 9).cast("decimal(38,9)")).alias("d2")
        )
    )
    wq = Window.partitionBy("vid").orderBy(F.col("d2").asc(), F.col("c").asc())
    return (
        qcell_d.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select(F.col("vid").alias(query_id_col), "c")
    )


def topk_from_pq(
    cells: DataFrame,
    coarse_cent: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    rnorm: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    probe: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ PROBE over a PRE-BUILT :func:`ivfpq_index` — the
    read-many side a deployment actually pays per query batch: pick
    ``n_probe`` cells per query (decimal-exact distance to the k
    coarse centroids), ADC-score only those cells\' members through
    the Q·m·ksub lookup-table join, cut to ``k·rescore_factor``, and
    exactly rescore against the raw vectors (key-sized join).  The
    corpus-linear relations touched are the stored ``codes`` and the
    probed slice of ``cells`` — never the raw vector table except for
    the final key-sized rescore.  Returns
    (query_id, vec_id, adc_sim, cosine_sim, rank ≤ k).

    DEPLOYMENT REQUIREMENT (measured, SCALING.md "Round-10 sweeps:
    IVF-PQ probe cost + amortized SemDeDup ingest"): the
    probe win over the int8 full scan only materializes when
    ``codes``+``rnorm`` are STORED PARTITIONED BY CELL, so the
    candidate join reads only the probed partitions — unpartitioned,
    the full m-rows-per-vector codes relation moves through the join
    shuffle and the flat codes-scan rung is faster below ~10⁵
    vectors (the r09 bucketed-minhash lesson: partition the stored
    index by the probe key)."""
    from square_etl_spark.operators.clustering import _long_form

    qlf = _long_form(queries, query_id_col, query_vec_col)
    if probe is None:
        probe = _probe_cells(
            queries, coarse_cent, n_probe, query_id_col, query_vec_col
        )
    qnorm = qlf.groupBy("vid").agg(
        F.sqrt(
            F.sum(
                F.round(F.col("val") * F.col("val"), 9).cast("decimal(38,9)")
            ).cast("double")
        ).alias("qnorm")
    ).select(F.col("vid").alias(query_id_col), "qnorm")

    # --- ADC tables: Q·m·ksub distance-table entries ---
    dt = (
        # bcast-ok: m·ksub·ds codebook values, parameter-bounded
        qlf.join(F.broadcast(codebooks), "dim")
        .groupBy(F.col("vid").alias(query_id_col), "s", "c")
        .agg(
            F.sum(
                F.round(F.col("val") * F.col("cval"), 9).cast("decimal(38,9)")
            ).alias("t")
        )
    )

    # --- candidates: vectors in the probed cells, ADC-scored ---
    cand = probe.join(
        cells.select(F.col("vid").alias(id_col), "c"), "c"
    ).select(query_id_col, id_col)
    adc = (
        cand.join(codes, id_col)
        # bcast-ok: Q·m·ksub ADC lookup table, query/parameter-bounded
        .join(F.broadcast(dt), [query_id_col, "s", "c"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("t").alias("__num"))
        # bcast-ok: Q-row query-norm table, query-set-bounded
        .join(F.broadcast(qnorm), query_id_col)
        .join(rnorm, id_col)
        .withColumn(
            "adc_sim",
            # nz guard (r10 ADVICE): an all-zero query vector or a
            # PQ-reconstruction whose norm collapses to 0 has no
            # defined cosine — score it 0.0 (neutral) instead of the
            # NULL/NaN that silently fell out of the desc ordering's
            # NULLS-LAST cut; the exact rescore stage re-ranks any
            # survivor on the raw vectors anyway
            F.when(
                F.col("qnorm") * F.col("rnorm") > 0,
                F.round(
                    F.col("__num").cast("double")
                    / (F.col("qnorm") * F.col("rnorm")),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )
    cw = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_sim").desc(), F.col(id_col).asc()
    )
    cands = (
        adc.withColumn("__cr", F.row_number().over(cw))
        .filter(F.col("__cr") <= k * rescore_factor)
        .select(query_id_col, id_col, "adc_sim")
    )

    # --- exact rescore of the key-sized candidate set ---
    exact = (
        cands.join(vectors, id_col)
        # bcast-ok: ANN query set rejoin for exact rescoring, ≪ corpus
        .join(F.broadcast(queries), query_id_col)
        .withColumn(
            "cosine_sim",
            F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_sim", "cosine_sim", "rank")
    )


def cosine_topk_ivfpq(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_cells: int = 4,
    n_probe: int = 2,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ ANN — the top of the ladder (brute → sign-LSH → IVF →
    int8 → codes → this): coarse k-means cells bound WHICH vectors a
    query touches (n_probe/n_cells of the corpus), product-quantized
    codes bound WHAT is read per touched vector (m small ints + one
    norm), and asymmetric distance computation scores candidates
    against the query through a per-query code-table LOOKUP JOIN —
    the raw vectors are read only for the final exact rescore of
    ``k·rescore_factor`` candidates (a key-sized join).

    ADC here is exact-portable: the per-dim products round to 9
    decimals and sum as DECIMAL(38,9) (order-free), the codebooks and
    cell assignments inherit kmeans_fixed\'s decimal arithmetic, so a
    DuckDB oracle recomputes the ENTIRE composition — coarse Lloyd,
    per-subspace Lloyd codebooks, code assignment, probe-cell choice,
    ADC scores, candidate cut, exact rescore — value-for-value.
    ``adc_sim`` (the PQ approximation of cosine, reconstructed-norm
    normalized) is kept in the output precisely so the oracle check
    certifies the PQ path, not just the rescored ranks.

    Convenience one-shot: :func:`ivfpq_index` build +
    :func:`topk_from_pq` probe in one call.  The scan win
    materializes when the index is built ONCE and re-probed —
    SCALING.md "Round-10 sweeps: IVF-PQ probe cost + amortized
    SemDeDup ingest" times the probe-only path against the
    int8/codes rungs.
    """
    index = ivfpq_index(
        vectors, dim=dim, n_cells=n_cells, m=m, ksub=ksub, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    return topk_from_pq(
        *index, vectors, queries,
        k=k, n_probe=n_probe, rescore_factor=rescore_factor,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )


def write_ivfpq_index(
    index: tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame],
    base_path: str,
    id_col: str = "vec_id",
) -> None:
    """Persist an :func:`ivfpq_index` CELL-PARTITIONED — the storage
    layout the probe win requires (measured, SCALING.md "Round-10
    finding 1 CLOSED: cell-partitioned IVF-PQ storage": unpartitioned, the full m-rows-per-vector codes relation moves
    through the candidate join's shuffle and the flat int8 scan wins;
    partitioned by cell, a probe READS only the probed cells'
    directories).  Layout: ``codes/`` = one relation
    (id, s, c, rnorm) partitioned by ``cell``; ``coarse/`` and
    ``codebooks/`` = the two parameter-sized centroid sidecars."""
    import os

    cells, coarse_cent, codes, codebooks, rnorm = index
    stored = (
        codes.join(
            cells.select(F.col("vid").alias(id_col), F.col("c").alias("cell")),
            id_col,
        )
        .join(rnorm, id_col)
    )
    (
        stored.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(base_path, "codes"))
    )
    coarse_cent.write.mode("overwrite").parquet(
        os.path.join(base_path, "coarse")
    )
    codebooks.write.mode("overwrite").parquet(
        os.path.join(base_path, "codebooks")
    )


def topk_from_pq_stored(
    spark,
    base_path: str,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ probe over a CELL-PARTITIONED stored index
    (:func:`write_ivfpq_index`) — the deployment read path: compute
    the query batch's probe cells against the coarse-centroid sidecar,
    collect the bounded probed-cell set (≤ Q·n_probe ids), and read
    the codes table WITH the cell filter so partition pruning skips
    every unprobed directory (PartitionFilters in the scan — pinned in
    test_similarity_multimodal).  Everything downstream is
    :func:`topk_from_pq` on the pruned relations, so results are
    IDENTICAL to the in-memory composition (test-pinned)."""
    import os

    coarse_cent = spark.read.parquet(os.path.join(base_path, "coarse"))
    codebooks = spark.read.parquet(os.path.join(base_path, "codebooks"))
    probe = _probe_cells(
        queries, coarse_cent, n_probe, query_id_col, query_vec_col
    ).localCheckpoint(eager=True)  # consumed twice: pruning set + join
    # bounded collect: ≤ Q·n_probe cell ids — the partition-pruning key
    probed_cells = [r["c"] for r in probe.select("c").distinct().collect()]
    stored = spark.read.parquet(os.path.join(base_path, "codes")).filter(
        F.col("cell").isin(probed_cells)
    )
    cells = stored.select(
        F.col(id_col).alias("vid"), F.col("cell").alias("c")
    ).distinct()
    codes = stored.select(id_col, "s", "c")
    rnorm = stored.select(id_col, "rnorm").distinct()
    return topk_from_pq(
        cells, coarse_cent, codes, codebooks, rnorm, vectors, queries,
        k=k, n_probe=n_probe, rescore_factor=rescore_factor,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        probe=probe,  # reuse — no second probe-distance pass
    )
