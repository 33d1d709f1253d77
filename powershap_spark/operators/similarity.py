"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exactness baseline — broadcast the (small)
  query set, JVM-side dot products via F.zip_with/F.aggregate, per-query
  top-k with a window over partial candidates;
- LSH-bucketed variant (random hyperplanes from seeded hashes): the scale
  path — candidates only within matching sign-bucket, turning the O(N*Q)
  scan into bucket-local work.

At 100 TB the pattern is: broadcast queries (they're small), scan the big
embedding table once, partial top-k per partition (groupBy query with
max_by-style aggregation), final top-k on the tiny union — never a global
sort of N*Q scores.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import POLY_MOD, _band_pairs, affine_params

__all__ = [
    "cosine_similarity_col",
    "brute_force_topk",
    "lsh_bucket",
    "band_buckets",
    "lsh_topk",
    "stride_centroids",
    "ivf_topk",
    "cosine_candidate_pairs",
    "embedding_cosine_dedup",
    "quantize_embedding",
    "quantize_embeddings",
    "quantized_topk",
]


def _norm(v) -> "F.Column":
    """L2 norm of an array column: sqrt of the left fold of v*v. Every
    cosine in this module uses this one expression, so a vector's norm is
    the same double wherever it is computed."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b) -> "F.Column":
    """Dot product of two array columns: left fold of the element-wise
    products."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(dot, na, nb) -> "F.Column":
    """dot / (na * nb), 0.0 when either norm is zero (or null)."""
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _rank_topk(
    scored: DataFrame, id_col: str, k: int, score_col: str = "cosine"
) -> DataFrame:
    """Per ``query_id``: ``rank`` = row_number by score desc, id asc (the
    deterministic tie-break); keep rank <= k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_similarity_col(a, b) -> "F.Column":
    """Cosine similarity between two array<numeric> columns, JVM-side."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _cosine(_dot(a, b), _norm(a), _norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. Queries are broadcast;
    the embedding table is scanned once. Returns
    (query_id, vec_id, cosine, rank).

    Per-side norms are projected BEFORE the cross join (r8): each norm is
    a function of one vector alone, so computing them per (query, vector)
    pair re-ran two interpreted HOF folds per pair for nothing — the
    identical sqrt(aggregate(v*v)) expression now evaluates once per row
    per side, leaving only the dot product as per-pair work (measured
    2.3x at sf1.0; bit-identical values, same expression tree)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
        _norm(F.col(query_vec_col)).alias("__qn"),
    )
    dot = _dot(F.col("__ev"), F.col("__qv"))
    scored = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("__ev"),
        _norm(F.col(vec_col)).alias("__en"),
    ).crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col),
        _cosine(dot, F.col("__en"), F.col("__qn")).cast("double").alias("cosine"),
    )
    return _rank_topk(scored, id_col, k)


def _plane_sign(p: int, n_planes: int, seed: int, hash_family: str):
    """The deterministic ±1 plane-component generator shared by the
    expression path (lsh_bucket) and the sign-matrix job (band_buckets) —
    ONE definition so the two paths cannot drift."""
    if hash_family == "xxhash":
        return lambda i: F.when(
            F.pmod(F.xxhash64(F.lit(seed), F.lit(p), i), F.lit(2)) == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
    if hash_family == "poly":
        a_l, b_l = affine_params(n_planes, seed)
        a_p, b_p = a_l[p], b_l[p]
        return lambda i: F.when(
            F.pmod(
                F.pmod(
                    F.lit(a_p).cast("long") * (i + 1) + F.lit(b_p).cast("long"),
                    F.lit(POLY_MOD),
                ),
                F.lit(2),
            )
            == 1,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
    raise ValueError(f"unknown hash_family {hash_family!r}")


def lsh_bucket(
    vec_col, n_planes: int = 8, dim: int | None = None, seed: int = 5,
    hash_family: str = "xxhash",
) -> "F.Column":
    """Sign bucket from ``n_planes`` pseudo-random hyperplanes. Plane
    components are deterministic +-1: sign_p = sum_i(v_i * s_pi) > 0.
    Returns an int bucket in [0, 2^n_planes).

    The +-1 component trick keeps everything JVM-side (no literal random
    matrices shipped around) and is an unbiased random-projection family.
    hash_family="xxhash" derives s_pi from xxhash64(seed, plane, i);
    "poly" derives it from the parity of (a_p*(i+1)+b_p) % POLY_MOD — the
    engine-agnostic family the DuckDB oracle recomputes exactly.

    This is the per-VECTOR expression form. It buckets query sides (they
    are Q-sized) and the table side of ``lsh_topk``'s single-bucket
    branch, where it measured faster than the frame form (sf0.1,
    local[4], interleaved medians of 7 rounds: 0.72 s against 1.12 s
    routed through ``band_buckets``). Banded table sides use
    ``band_buckets`` — same values via a codegen sum-aggregate instead of
    n_planes interpreted folds per row."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0)
    for p in range(n_planes):
        sign = _plane_sign(p, n_planes, seed, hash_family)
        proj = F.aggregate(
            F.zip_with(
                v,
                F.transform(F.sequence(F.lit(0), F.size(v) - 1), sign),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p)).otherwise(0)
    return bucket


def _sign_matrix(
    spark, d: int, n_planes: int, n_bands: int, seed: int, hash_family: str
):
    """``signs[b][p][i]``: the ±1.0 component of band b's plane p (planes
    seeded ``seed + b``) at position i, for i < d. ONE tiny Spark job runs
    the exact ``_plane_sign`` expressions for every (band, plane) column —
    bit parity with the expression path by construction (never a Python
    reimplementation of xxhash) — and the d rows are ordered on the
    driver, so the job count does not grow with ``n_bands``."""
    cols = [
        _plane_sign(p, n_planes, seed + b, hash_family)(F.col("i")).alias(f"s{b}_{p}")
        for b in range(n_bands)
        for p in range(n_planes)
    ]
    rows = sorted(
        spark.range(int(d))
        .select(F.col("id").cast("int").alias("i"))
        .select("i", *cols)
        .collect(),
        key=lambda r: r["i"],
    )
    return [
        [[float(r[f"s{b}_{p}"]) for r in rows] for p in range(n_planes)]
        for b in range(n_bands)
    ]


def band_buckets(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    n_bands: int = 8,
    seed: int = 5,
    hash_family: str = "xxhash",
) -> DataFrame:
    """``(id, band_id, bucket)`` sign-LSH buckets for a whole table —
    value-identical to ``lsh_bucket(vec, n_planes, seed=seed+band)`` per
    band, but ONE posexplode + codegen HashAggregate instead of
    n_bands*n_planes interpreted array folds per row (measured 6x on
    embedding_cosine_dedup at sf1.0). Band b's planes are seeded
    ``seed + b`` — the cosine_candidate_pairs/lsh_topk convention.

    Parity notes: positions of one vector explode from one row, so the
    partial sum accumulates in position order — the same IEEE addition
    sequence as the expression fold; plane signs come from one d-row Spark
    job over the SAME _plane_sign expressions (``_sign_matrix``).
    posexplode_outer keeps empty/null vectors as a null marker row: their
    projections go null -> bucket bit 0, matching the fold's null/empty
    semantics (a null ELEMENT likewise nulls the whole projection via the
    __nnull guard, exactly like null poisoning a running fold)."""
    d_row = embeddings.agg(F.max(F.size(F.col(vec_col))).alias("d")).collect()[0]
    signs = _sign_matrix(
        embeddings.sparkSession, int(d_row["d"] or 0), n_planes, int(n_bands),
        seed, hash_family,
    )

    ex = embeddings.select(
        F.col(id_col).alias("__id"),
        F.posexplode_outer(F.col(vec_col)).alias("__pos", "__x"),
    )
    aggs = [
        F.sum(F.when(F.col("__pos").isNull() | F.col("__x").isNull(), 1).otherwise(0)).alias("__nnull")
    ]
    for b in range(int(n_bands)):
        for p in range(n_planes):
            arr = F.array(*[F.lit(s) for s in signs[b][p]])
            prod = F.col("__x") * F.element_at(arr, F.col("__pos") + 1)
            aggs.append(F.sum(prod).alias(f"__s_{b}_{p}"))
    g = ex.groupBy("__id").agg(*aggs)

    def bucket_of(b):
        out = F.lit(0)
        for p in range(n_planes):
            proj = F.when(
                F.col("__nnull") > 0, F.lit(None).cast("double")
            ).otherwise(F.coalesce(F.col(f"__s_{b}_{p}"), F.lit(0.0)))
            out = out + F.when(proj > 0, F.lit(2**p)).otherwise(0)
        return out

    return g.select(
        F.col("__id"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), bucket_of(b).alias("bucket"))
                    for b in range(int(n_bands))
                ]
            )
        ).alias("__band"),
    ).select("__id", "__band.band_id", "__band.bucket")


def _query_band_buckets(
    df: DataFrame, id_col: str, vec, n_planes: int, n_bands: int, seed: int,
    hash_family: str,
) -> DataFrame:
    """``(id_col, band_id, bucket)`` from the per-vector ``lsh_bucket``
    expression, band b seeded ``seed + b`` — the query-side counterpart of
    ``band_buckets`` (same values; no job at plan time), for Q-sized
    frames."""
    return df.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        lsh_bucket(
                            vec, n_planes, seed=seed + b, hash_family=hash_family
                        ).alias("bucket"),
                    )
                    for b in range(int(n_bands))
                ]
            )
        ).alias("__band"),
    ).select(id_col, "__band.band_id", "__band.bucket")


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 5,
    hash_family: str = "xxhash",
    n_bands: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket(s); rank/cosine computed exactly within the candidate set.

    ``n_bands > 1`` turns the single AND-bucket into the standard
    OR-construction: ``n_bands`` independent sign-buckets (band b's planes
    are seeded ``seed + b`` — the same convention as
    ``cosine_candidate_pairs``), a vector is a candidate iff it collides
    with the query in ANY band. Candidate probability at angle theta is
    1 - (1 - p^n_planes)^n_bands with p = 1 - theta/pi, so planes narrow
    the buckets (cost) and bands buy recall back — measured on the bench
    corpus in BENCH/ANALYSIS_r06 §5.

    Scale shape: the band explosion carries (id, band, bucket) only —
    ids-only candidates are deduped, then vectors re-attached via one
    broadcast join (queries and candidates are Q-sized, never the table)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
    )
    if n_bands <= 1:
        e = embeddings.select(
            F.col(id_col),
            F.col(vec_col).alias("__ev"),
            lsh_bucket(vec_col, n_planes, seed=seed, hash_family=hash_family).alias("__bucket"),
        )
        qb = q.select(
            "query_id",
            "__qv",
            lsh_bucket("__qv", n_planes, seed=seed, hash_family=hash_family).alias("__bucket"),
        )
        scored = e.join(F.broadcast(qb), "__bucket").select(
            "query_id",
            F.col(id_col),
            cosine_similarity_col("__ev", "__qv").cast("double").alias("cosine"),
        )
    else:
        # table side: frame-level bucketing (codegen aggregate); the
        # query side stays on the per-vector expression — it is Q-sized
        e_b = band_buckets(
            embeddings, id_col, vec_col, n_planes, n_bands, seed, hash_family
        ).withColumnRenamed("__id", id_col)
        q_b = _query_band_buckets(
            q, "query_id", F.col("__qv"), n_planes, n_bands, seed, hash_family
        )
        cand = (
            e_b.join(F.broadcast(q_b), ["band_id", "bucket"])
            .select("query_id", id_col)
            .dropDuplicates(["query_id", id_col])
        )
        scored = (
            embeddings.select(F.col(id_col), F.col(vec_col).alias("__ev"))
            .join(F.broadcast(cand), id_col)
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                F.col(id_col),
                cosine_similarity_col("__ev", "__qv").cast("double").alias("cosine"),
            )
        )
    return _rank_topk(scored, id_col, k)


# ---------------------------------------------------------------------------
# IVF: coarse-quantize into cells, probe only the best cells per query
# ---------------------------------------------------------------------------


def stride_centroids(
    embeddings: DataFrame, stride: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list:
    """Deterministic one-pass coarse quantizer: centroid j = the vector with
    ``id == j*stride``. A real deployment would run a few k-means rounds; the
    stride rule keeps the quantizer a pure function of the table (and lets
    the SQL oracle rebuild the identical cells). Returns [(cell, vector)].
    The collect is the IVF 'broadcast the centroid matrix' step — n_cells
    rows, never the data table."""
    rows = (
        embeddings.filter(F.pmod(F.col(id_col), F.lit(int(stride))) == 0)
        .select((F.col(id_col) / stride).cast("int").alias("cell"), F.col(vec_col))
        .collect()
    )
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def _cell_scores(vec, centroids):
    """ONE array<struct<s, negcell>> column of (cosine(vec, centroid),
    -cell) score structs (max-struct ready: array_max picks highest
    cosine, ties to the LOWEST cell id).

    r8 cost shape: the OLD form ran cosine_similarity_col per centroid —
    three interpreted array folds (dot + both norms) per (row, centroid).
    Now the centroid norm is a Python-computed literal (the identical
    left-fold + sqrt IEEE sequence over the same double literals — bit
    equal), and the row norm is computed ONCE per row via a bound
    variable shared by every centroid's score, leaving one dot fold per
    (row, centroid). Values unchanged."""
    def score_structs(na):
        out = []
        for cell, c in centroids:
            cv = F.array(*[F.lit(float(x)) for x in c])
            acc = 0.0
            for x in c:
                acc = acc + float(x) * float(x)
            nb = math.sqrt(acc)
            dot = _dot(vec, cv)
            s = (
                F.when(
                    (na > F.lit(0.0)) & (F.lit(nb) > F.lit(0.0)),
                    dot / (na * F.lit(nb)),
                )
                .otherwise(F.lit(0.0))
            )
            out.append(F.struct(s.alias("s"), F.lit(-cell).alias("negcell")))
        return out

    na_expr = _norm(vec)
    # bind the row norm once: element_at(transform(array(norm), ...), 1)
    # is the module's let-expression idiom (no CSE in interpreted HOFs).
    # Returns ONE array<struct<s,negcell>> column over all cells.
    return F.element_at(
        F.transform(F.array(na_expr), lambda na: F.array(*score_structs(na))),
        1,
    )


def kmeans_centroids(
    embeddings: DataFrame,
    stride: int = 64,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Spherical k-means (Lloyd) refinement of the stride quantizer, pure
    DataFrame ops per iteration:

      assign: every vector to its max-cosine centroid — the centroid
        matrix is a broadcast literal, the data table is NEVER shuffled
        for assignment (one projection pass, whole-stage codegen);
      update: component-wise mean per cell via posexplode ->
        groupBy(cell, pos).avg — partially aggregable, so each mapper
        emits at most n_cells x dim rows regardless of input size; the
        driver collects only the n_cells x dim averages (centroid-sized,
        never the table) and renormalizes to unit length (spherical
        update — cosine assignment needs direction-mean, not mean).

    Deterministic: init = stride_centroids (a pure function of the table),
    ties in assignment break to the lowest cell id, empty cells keep their
    previous centroid. Returns [(cell, vector)] like stride_centroids —
    feed it to ``ivf_topk(..., centroids=...)``. Measured recall lift vs
    the stride init: tools/bench_ann_recall.py / BENCH/ANALYSIS_r06 §5."""
    import numpy as np

    cents = stride_centroids(embeddings, stride, id_col, vec_col)
    if not cents:
        raise ValueError(
            f"no centroids: no {id_col} divisible by stride={stride} — "
            "lower the stride"
        )
    cmat = np.asarray([c for _, c in cents], dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True) + 1e-30
    cells = [cell for cell, _ in cents]

    for _ in range(int(n_iters)):
        cur = [(cell, list(map(float, cmat[i]))) for i, cell in enumerate(cells)]

        def best_cell(vec, cur=cur):
            if len(cur) == 1:
                return F.lit(cur[0][0])
            return -F.array_max(_cell_scores(vec, cur))["negcell"]

        # NOTE: the generator (posexplode) must live in a SEPARATE select —
        # a generator alongside greatest(struct...) makes the analyzer lose
        # the struct field names (FIELD_NOT_FOUND on `negcell`); chained
        # selects collapse to one projection+generate in the physical plan.
        rows = (
            embeddings.select(
                best_cell(F.col(vec_col)).alias("cell"),
                F.col(vec_col).alias("__v"),
            )
            .select("cell", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict = {}
        for r in rows:
            by_cell.setdefault(int(r[0]), {})[int(r[1])] = float(r[2])
        for i, cell in enumerate(cells):
            comp = by_cell.get(cell)
            if not comp:
                continue  # empty cell keeps its previous centroid
            v = np.asarray([comp[p] for p in sorted(comp)], dtype=np.float64)
            n = np.linalg.norm(v)
            if n > 0:
                cmat[i] = v / n
    return [(cell, list(map(float, cmat[i]))) for i, cell in enumerate(cells)]


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    stride: int = 64,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: list | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign every vector to its max-cosine centroid
    cell (one projection pass — the centroid matrix is a literal/broadcast,
    the data table is never shuffled for assignment), rank cells per query,
    probe the best ``nprobe`` cells, exact cosine + top-k within candidates.

    ``centroids`` overrides the default stride quantizer with a
    precomputed [(cell, vector)] list — e.g. ``kmeans_centroids`` output.

    Scale shape: candidates come from an equi-join on ``cell`` — work
    proportional to the probed cells only, never an all-pairs scan."""
    cents = (
        centroids
        if centroids is not None
        else stride_centroids(embeddings, stride, id_col, vec_col)
    )
    if not cents:
        raise ValueError(
            f"no centroids: no {id_col} divisible by stride={stride} — "
            "lower the stride"
        )

    def best_cell(vec):
        if len(cents) == 1:
            return F.lit(cents[0][0])
        return -F.array_max(_cell_scores(vec, cents))["negcell"]

    e = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("__ev"),
        best_cell(F.col(vec_col)).alias("cell"),
    )
    # per query: rank all cells, keep the best nprobe
    qcells = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
        F.explode(
            F.slice(
                F.reverse(
                    F.array_sort(_cell_scores(F.col(query_vec_col), cents))
                ),
                1,
                int(nprobe),
            )
        ).alias("__c"),
    ).select("query_id", "__qv", (-F.col("__c.negcell")).alias("cell"))

    scored = e.join(F.broadcast(qcells), "cell").select(
        "query_id",
        F.col(id_col),
        cosine_similarity_col("__ev", "__qv").cast("double").alias("cosine"),
    )
    return _rank_topk(scored, id_col, k)


def cosine_candidate_pairs(
    embeddings: DataFrame,
    n_planes: int = 16,
    n_bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 5,
    hash_family: str = "xxhash",
) -> DataFrame:
    """Banded sign-LSH candidate generation: ``n_bands`` independent
    sign-buckets of ``n_planes`` hyperplanes each (band b's planes are
    seeded ``seed + b``); a pair is a candidate iff it collides in ANY band.
    Returns distinct (id_a, id_b) with id_a < id_b.

    Scale shape: expected bucket occupancy is ~N / 2^n_planes for spread-out
    vectors, so the per-bucket self-join stays ~linear when
    ``n_planes >= log2(N / target_bucket_rows)`` — 16 planes = 65,536
    buckets per band (size it up for 10^9-row tables: >= 24 planes). Recall
    for a pair at angle theta is 1 - (1 - p^n_planes)^n_bands with
    p = 1 - theta/pi, so bands buy back the recall that narrow buckets cost:
    at cosine 0.97, 16 planes x 8 bands ~ 0.92, x 16 bands ~ 0.99. The band
    explosion carries only (id, band, bucket) — vectors are re-attached by
    the caller after pair dedup (shuffle-byte discipline)."""
    # frame-level bucketing: one posexplode + codegen sum-aggregate for
    # all n_bands*n_planes projections (band_buckets docstring has the
    # bit-parity argument vs the per-row lsh_bucket expression folds)
    e = band_buckets(
        embeddings, id_col, vec_col, n_planes, n_bands, seed, hash_family
    )
    return _band_pairs(e, e, "bucket")


def embedding_cosine_dedup(
    embeddings: DataFrame,
    threshold: float = 0.97,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 5,
    hash_family: str = "xxhash",
    n_bands: int = 8,
    persist: bool = True,
) -> DataFrame:
    """Embedding near-duplicate removal: candidate pairs collide in at
    least one of ``n_bands`` sign-LSH bands of ``n_planes`` planes each
    (never all-pairs — see cosine_candidate_pairs for the occupancy and
    recall math); pairs with cosine >= threshold drop the higher id.

    The banded design replaces the former single-bucket scheme whose
    narrow default (4 planes = 16 buckets) made the within-bucket self-join
    O((N/16)^2): narrow buckets now come from n_planes (keep
    2^n_planes >= N / target_bucket_rows) and recall from n_bands, and the
    band self-join shuffles ids only — the vectors rejoin after pair
    dedup.

    The input is consumed by FOUR subtrees (band explode, two vector
    re-joins, the final left-anti), so it is tracked-persisted here by
    default — release via the caller's ``caching.tracking_scope`` or
    ``caching.release_tracked()``. Outside a tracking scope the reference
    lands in the global registry and accumulates across repeated calls
    (bench loops, notebooks): either wrap call sites in
    ``tracking_scope()`` or pass ``persist=False`` when the caller has
    already persisted the input."""
    from ..caching import tracked_persist

    if persist:
        embeddings = tracked_persist(embeddings)
    pairs = cosine_candidate_pairs(
        embeddings,
        n_planes=n_planes,
        n_bands=n_bands,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        hash_family=hash_family,
    )
    # per-vector norms ride along with the re-attached vectors so the
    # per-PAIR work is one dot fold (the brute_force_topk norm hoist —
    # identical sqrt(aggregate(v*v)) expression, evaluated per id, not
    # per candidate pair)
    vecs = embeddings.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
    )
    dot = _dot(F.col("__va"), F.col("__v"))
    dupes = (
        pairs.join(vecs, F.col("id_a") == F.col("__vid"))
        .select("id_a", "id_b", F.col("__v").alias("__va"), F.col("__n").alias("__na"))
        .join(vecs, F.col("id_b") == F.col("__vid"))
        .select(
            F.col("id_b").alias(id_col),
            _cosine(dot, F.col("__na"), F.col("__n")).alias("__cos"),
        )
        .filter(F.col("__cos") >= float(threshold))
        .select(id_col)
        .distinct()
    )
    return embeddings.join(dupes, id_col, "left_anti")


def quantize_embedding(vec, bits: int = 8) -> "F.Column":
    """Symmetric per-vector int8 quantization of an array<float>: struct
    (scale float, q array<tinyint>) with q_i = floor(v_i/scale + 0.5),
    scale = max|v| / (2^(bits-1) - 1). A 100-TB embedding store shrinks 4x
    (float32 -> int8) at ~0.2% cosine error for unit-normalized vectors.
    floor(x + 0.5) is used instead of round() so the DuckDB oracle can
    replicate the quantized values BIT-exactly (round() tie rules differ
    across engines)."""
    if bits != 8:
        raise ValueError("only int8 (bits=8) quantization is implemented")
    v = F.col(vec) if isinstance(vec, str) else vec
    qmax = float(2 ** (bits - 1) - 1)
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = F.when(amax > 0, amax / F.lit(qmax)).otherwise(F.lit(1.0))
    # bind scale ONCE: embedding the scale expression (itself an O(d)
    # aggregate) in the per-element lambda re-evaluated it for every
    # element — O(d^2) per row in the interpreted HOF path. The transform
    # now closes over a bound variable; values are unchanged.
    return F.element_at(
        F.transform(
            F.array(scale),
            lambda s: F.struct(
                s.cast("double").alias("scale"),
                F.transform(
                    v, lambda x: F.floor(x.cast("double") / s + F.lit(0.5)).cast("tinyint")
                ).alias("q"),
            ),
        ),
        1,
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "qemb", bits: int = 8
) -> DataFrame:
    """Project an embedding table to its int8-quantized form (original
    vector dropped — that is the point)."""
    return df.select(
        *[c for c in df.columns if c != vec_col],
        quantize_embedding(vec_col, bits).alias(out_col),
    )


def quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized embeddings: quantize
    both sides, scan the (4x smaller) quantized table once with broadcast
    queries — the memory-bound variant of brute_force_topk. Returns
    (query_id, vec_id, qcosine, rank)."""
    # per-side integer norms are projected BEFORE the cross join (r8, same
    # reasoning as brute_force_topk): each norm depends on one quantized
    # vector alone, so the per-pair work is just the integer dot product.
    qnorm = lambda arr: F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, v: acc + v.cast("long") * v.cast("long")
    )
    e = quantize_embeddings(
        embeddings.select(id_col, vec_col), vec_col, out_col="__qe"
    ).withColumn("__en", qnorm(F.col("__qe")["q"]))
    q = quantize_embeddings(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qv"),
        ),
        "__qv",
        out_col="__qq",
    ).withColumn("__qn", qnorm(F.col("__qq")["q"]))
    dot = F.aggregate(
        F.zip_with(
            F.col("__qe")["q"],
            F.col("__qq")["q"],
            lambda x, y: (x.cast("long") * y.cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = e.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col),
        F.when(
            (F.col("__en") > 0) & (F.col("__qn") > 0),
            dot.cast("double")
            / (F.sqrt(F.col("__en").cast("double")) * F.sqrt(F.col("__qn").cast("double"))),
        )
        .otherwise(F.lit(0.0))
        .alias("qcosine"),
    )
    return _rank_topk(scored, id_col, k, "qcosine")
