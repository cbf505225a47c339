"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Query set is broadcast (it's small by construction); the corpus scan is
  one pass, no shuffle until the per-query top-k (a tiny aggregate). Dot
  products run JVM-side via F.aggregate folds in array-index order, so the
  float semantics are bit-reproducible (and match the DuckDB oracle's
  list_dot_product on double).
- ``lsh_topk``: the scale path — random-hyperplane LSH bucketing so each
  query only scans its bucket. Hyperplanes are derived deterministically
  from md5, so results are reproducible across engines; approximate by
  construction.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] as an ordered double fold (deterministic FP)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


# Brute-force baselines are documented "do not use beyond ~10⁵ rows"; the
# guard makes that real (VERDICT r5 item 5). One count() is noise next to
# the O(n²) job it prevents.
BRUTE_FORCE_MAX_ROWS = 100_000


def _guard_brute_force(df: DataFrame, what: str, force: bool) -> None:
    if force:
        return
    n = df.count()
    if n > BRUTE_FORCE_MAX_ROWS:
        raise ValueError(
            f"{what} is the O(n²) brute-force baseline and the input has "
            f"{n:,} rows (guard: {BRUTE_FORCE_MAX_ROWS:,}). Use the "
            "bucketed method (IVF/LSH) at this scale, or pass force=True "
            "if you really mean it."
        )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    force: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine) — cosine rounded to 6 dp,
    ranked by (rounded cosine desc, neighbor_id asc) for determinism;
    self-matches excluded.

    Brute force (one full corpus scan per query): the exactness baseline
    the approximate paths are measured against. Guarded above 10⁵ corpus
    rows unless ``force=True`` — use lsh_topk/ivf_topk at scale.
    """
    _guard_brute_force(corpus, "cosine_topk", force)
    # norms are per-VECTOR, so compute them in the pre-join projections —
    # inside the pair expression each corpus norm would be re-folded once
    # per query (Q× redundant work on the big side)
    # NULL and zero-norm vectors (failed embeddings, padding rows) have
    # no defined cosine; dividing by a 0.0 norm is FATAL under Spark 4's
    # default ANSI mode, so filter them out of both sides up front
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    ).filter(F.col("q_norm") > 0)
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    ).filter(F.col("c_norm") > 0)
    cos = F.round(
        _dot(F.col("q_vec"), F.col("c_vec"))
        / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids=None,
    force: bool = False,
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model training:
    per query, the ``k`` most-similar CROSS-LABEL neighbors — the
    near-misses a trainer wants as negatives precisely because they are
    hard to distinguish from positives. Rows with a NULL label can't be
    negatives for anyone (label inequality is unknowable) and drop out,
    matching the SQL twin's ``<>`` NULL semantics.

    ``method='exact'`` is the brute-force oracle baseline (guarded at
    10⁵ corpus rows); ``method='ivf'`` probes ``nprobe`` inverted lists
    per query — the 100 TB path, same plan as ivf_topk with the label
    riding the assignment projection, candidates from a centroid-id
    equi-join only. Approximate results are a subset of exact with
    identical cosines (pinned in tests).

    Output: (query_id, q_label, neighbor_id, n_label, cosine, rnk) —
    cosine rounded to 6, rank by (cosine desc, neighbor_id asc).
    """
    labeled = corpus.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    )
    q_base = queries.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    )
    if method == "exact":
        _guard_brute_force(corpus, "hard_negatives", force)
        q = q_base.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("q_label"),
            F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("q_norm"),
        ).filter(F.col("q_norm") > 0)
        c = labeled.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("n_label"),
            F.col(vec_col).alias("c_vec"),
            _norm(F.col(vec_col)).alias("c_norm"),
        ).filter(F.col("c_norm") > 0)
        paired = c.crossJoin(F.broadcast(q))
    elif method == "ivf":
        C = (
            centroids
            if centroids is not None
            else ivf_train(
                corpus, n_centroids, id_col=id_col, vec_col=vec_col
            )
        )
        assign = _nearest_centroids_udf(C, 1)
        probe = _nearest_centroids_udf(C, nprobe)
        c = labeled.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("n_label"),
            F.col(vec_col).alias("c_vec"),
            _norm(F.col(vec_col)).alias("c_norm"),
            assign(F.col(vec_col))[0].alias("cid"),
        ).filter(F.col("c_norm") > 0)
        q = q_base.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("q_label"),
            F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("q_norm"),
            F.explode(probe(F.col(vec_col))).alias("cid"),
        ).filter(F.col("q_norm") > 0)
        paired = c.join(F.broadcast(q), "cid")
    else:
        raise ValueError(f"unknown method {method!r}; 'exact' or 'ivf'")
    cos = F.round(
        _dot(F.col("q_vec"), F.col("c_vec"))
        / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    scored = (
        paired.filter(F.col("query_id") != F.col("neighbor_id"))
        .filter(F.col("q_label") != F.col("n_label"))
        .select(
            "query_id", "q_label", "neighbor_id", "n_label",
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def _hyperplane_signs_py(dim: int, seed: int) -> list[float]:
    """±1 hyperplane from md5(seed|index) parity, precomputed driver-side
    (identical values to any engine computing the same md5 — the plane is
    a constant, so hashing per ROW would be pure waste)."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:8], 16) % 2 == 0
        else -1.0
        for i in range(dim)
    ]


def _hyperplane_sign(vec: Column, dim: int, seed: int) -> Column:
    """Sign of ⟨vec, h⟩ for the deterministic hyperplane ``seed``."""
    signs = F.array(*[F.lit(s) for s in _hyperplane_signs_py(dim, seed)])
    proj = F.aggregate(
        F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (proj >= 0).cast("int")


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8, table: int = 0) -> Column:
    """Random-hyperplane LSH bucket id (0..2^n_planes-1) for one hash
    table; ``table`` offsets the plane seeds so tables are independent."""
    bucket = F.lit(0)
    for p in range(n_planes):
        bucket = bucket + _hyperplane_sign(
            vec, dim, table * n_planes + p
        ) * F.lit(1 << p)
    return bucket


def lsh_buckets(
    vec: Column, dim: int, n_planes: int = 6, n_tables: int = 8
) -> Column:
    """All ``n_tables`` bucket ids for a vector, table-tagged into one
    global id space (table t's bucket b → t·2^n_planes + b) so a single
    explode + equi-join probes every table at once.

    This is the pure-column-expression REFERENCE implementation (SQL-
    expressible, engine-portable). lsh_topk uses _lsh_buckets_udf
    instead: the n_tables×n_planes literal sign arrays make this tree
    ~8k constant nodes, and Catalyst ANALYSIS of a fresh plan costs
    ~5s — 5× the query's runtime. Both produce identical buckets
    (pinned in test_similarity)."""
    return F.array(
        *[
            lsh_bucket(vec, dim, n_planes, table=t) + F.lit(t << n_planes)
            for t in range(n_tables)
        ]
    )


def _lsh_buckets_udf(dim: int, n_planes: int, n_tables: int):
    """Arrow-batched multi-table bucket ids: ONE numpy matmul per batch
    against the (dim × n_planes·n_tables) ±1 plane matrix — how every
    production system hashes embeddings. Chosen over the column-
    expression twin above for PLAN size, not kernel speed: one UDF node
    replaces ~8k literal nodes, cutting fresh-plan wall time 5.7s→1.3s
    at sf0.1 (analysis was 5× execution). Same md5-derived planes, same
    buckets."""
    P = n_planes * n_tables
    M = np.array([_hyperplane_signs_py(dim, p) for p in range(P)]).T
    weights = 1 << np.arange(n_planes)
    offsets = np.arange(n_tables) << n_planes

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(vecs.to_numpy()).astype(np.float64)
        bits = (V @ M >= 0).astype(np.int64)
        bits = bits.reshape(len(V), n_tables, n_planes)
        out = (bits * weights).sum(axis=2) + offsets
        return pd.Series(list(out.astype(np.int32)))

    return buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: corpus and
    queries hash into ``n_tables`` independent tables of 2^n_planes
    buckets; a candidate is any corpus vector sharing a bucket with the
    query in ANY table (the classic OR-construction). At 100 TB the
    bucket equi-join replaces the full scan per query; each query scans
    ~n_tables/2^n_planes of the corpus in expectation. Recall rises with
    n_tables (more independent chances to collide) and falls with
    n_planes (finer buckets): on the synthetic sf0.001 corpus, recall@5
    vs brute force measures 0.14 single-table (the pre-r6 shape), 0.68
    at the (4, 8) default, 0.93 at (4, 16) — identical plan shape
    (equi-join, no cartesian) throughout; pinned in test_similarity.

    Hashing runs as one Arrow-batched matmul per batch (_lsh_buckets_udf
    — see its docstring for why not the column-expression twin)."""
    bucket_fn = _lsh_buckets_udf(dim, n_planes, n_tables)
    # per-vector norms in the pre-join projections (see cosine_topk)
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
        F.explode(bucket_fn(F.col(vec_col))).alias("bucket"),
    ).filter(F.col("c_norm") > 0)  # zero norm → ANSI div-by-zero
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.explode(bucket_fn(F.col(vec_col))).alias("bucket"),
    ).filter(F.col("q_norm") > 0)
    cos = F.round(
        _dot(F.col("q_vec"), F.col("c_vec"))
        / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    # A pair colliding in several tables surfaces once per table — score
    # first (cheap, columnar), then dedup the narrow (q, n, cosine)
    # triple so the top-k window ranks each neighbor exactly once.
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def ivf_train(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train the IVF coarse quantizer: spherical k-means on a DETERMINISTIC
    sample of the corpus (the ``sample_size`` rows with smallest
    md5(id) — a distributed top-k, not a full collect; at 100 TB the
    sample is the only thing that ever reaches the driver, which is how
    every production IVF index trains its quantizer).

    Init = first ``n_centroids`` sample vectors in md5 order; ``iters``
    Lloyd rounds with re-normalization (cosine ⇒ spherical k-means).
    Fully deterministic: same data → same centroids, any cluster size.
    Returns an ndarray [n_centroids, dim].
    """
    import numpy as np

    md5_key = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(md5_key.asc(), F.col(id_col).asc())
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    X = X / np.clip(np.linalg.norm(X, axis=1, keepdims=True), 1e-12, None)
    C = X[:n_centroids].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C = C / np.clip(np.linalg.norm(C, axis=1, keepdims=True), 1e-12, None)
    return C


def _nearest_centroids(vec: Column, centroids, nprobe: int) -> Column:
    """Array of the ``nprobe`` centroid ids nearest to ``vec`` by dot
    product (‖vec‖ is constant across centroids, so raw dots rank the
    same as cosine). Ties break to the smaller centroid id.

    The centroid matrix is ONE array-of-arrays literal walked by a single
    indexed ``transform`` — per-centroid fold expressions would grow the
    codegen'd method linearly with n_centroids and blow the JVM's 64 KB
    method limit around a few hundred lists; this form stays O(1) in
    expression count so n_centroids is a free parameter. The matrix is
    built as ONE parsed SQL expression, not n×dim F.lit() Column objects —
    each lit() is a py4j round-trip, and at 32×64 elements that costs ~2s
    of driver time per plan build (measured); repr() doubles round-trip
    exactly through the SQL parser, so values are bit-identical."""
    c_mat = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")"
            for c in centroids
        )
        + ")"
    )
    ranked = F.sort_array(
        F.transform(
            c_mat,
            lambda c, j: F.struct(
                (
                    -F.aggregate(
                        F.zip_with(vec, c, lambda x, y: x.cast("double") * y),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                ).alias("nd"),
                j.alias("j"),
            ),
        )
    )
    return F.slice(F.transform(ranked, lambda s: s["j"]), 1, nprobe)


def _nearest_centroids_udf(centroids, nprobe: int):
    """Arrow-batched twin of _nearest_centroids: one numpy matmul per
    batch against the centroid matrix, stable argsort for the (-dot,
    smaller-id) tie order. Used in the probe/assignment hot paths for
    PLAN-size reasons (the literal centroid matrix plus fold tree costs
    ~0.7s of Catalyst analysis per plan side at 32×64; the UDF is one
    node — same cure as _lsh_buckets_udf). Candidate COMPLETENESS never
    depends on which list a vector lands in (full-probe modes visit
    every list), so an last-ulp dot difference vs the JVM fold cannot
    change any exact result; parity on real data is pinned in tests."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def nearest(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(vecs.to_numpy()).astype(np.float64)
        dots = V @ C.T
        order = np.argsort(-dots, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    return nearest


def _centroid_matrix(centroids) -> Column:
    """The k×dim centroid list as ONE parsed array-of-arrays literal
    (repr round-trips doubles bit-identically through the SQL parser;
    per-element F.lit() would cost a py4j round-trip each)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")"
            for c in centroids
        )
        + ")"
    )


def _ordered_dot(a, b) -> Column:
    """Ordered left-fold dot product over double — bit-matches DuckDB's
    list_dot_product on identical values (the cross-engine exactness rule
    every cosine/assignment oracle in the corpus relies on)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _argmin_euclidean(vec: Column, centroids) -> Column:
    """Id of the centroid nearest to ``vec`` in EUCLIDEAN distance via the
    expansion argmin_c ‖x−c‖² = argmax_c (x·c − ‖c‖²/2) — ‖x‖² is constant
    across centroids, so it never needs computing. Ties break to the
    smaller centroid id. Same single-literal-matrix / indexed-transform
    construction as _nearest_centroids (one parsed SQL expression, O(1)
    expression count in n_centroids); both dot products are ordered
    left-folds over double, bit-matching DuckDB's list_dot_product on the
    same quantized values — which is what lets Lloyd iterations stay
    hash-exact against a pure-SQL oracle."""
    c_mat = _centroid_matrix(centroids)
    dot = _ordered_dot
    ranked = F.sort_array(
        F.transform(
            c_mat,
            lambda c, j: F.struct(
                (-(dot(vec, c) - dot(c, c) / F.lit(2.0))).alias("nd"),
                j.alias("j"),
            ),
        )
    )
    return F.element_at(ranked, 1)["j"]


def _argmin_euclidean_udf(centroids):
    """Arrow-batched twin of _argmin_euclidean: one numpy matmul per batch
    with the −‖c‖²/2 correction, stable argmax so ties go to the smaller
    centroid id. The production assignment path for LARGE k — the literal
    centroid matrix plus fold tree costs ~0.7s of Catalyst analysis per
    plan side at 32×64 and grows with k×dim (same plan-size pressure as
    _nearest_centroids_udf); the UDF is one plan node at any k. A BLAS
    sum order can differ from the JVM fold in the last ulp, which only
    matters on an exact inter-centroid tie — parity with the expression
    path on real data is pinned in tests."""
    C = np.asarray(centroids, dtype=np.float64)
    corr = -0.5 * (C * C).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def nearest(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        # NULL vectors assign NULL (np.vstack over a batch holding None
        # raises) — the same contract the expression path enforces
        mask = vecs.notna().to_numpy()
        out = pd.array([pd.NA] * len(vecs), dtype="Int32")
        if mask.any():
            V = np.vstack(vecs[mask].to_numpy()).astype(np.float64)
            scores = V @ C.T + corr
            # np.argmax returns the FIRST maximal index — the expression
            # path's smaller-centroid-id tie rule
            out[mask] = np.argmax(scores, axis=1).astype(np.int32)
        return pd.Series(out)

    return nearest


# Above this k×dim the Arrow matmul kernel replaces the literal-matrix
# expression in auto mode. MEASURED (r13 k-octave sweep at dim 64 over
# 32k rows, runs=3; retired stress harness, in git history): the
# expression path's cost grows linearly in k — 0.40s at k=8, 0.94s at
# k=32 (k×dim 2048), 3.0s at k=128, 24.9s at k=1024 — because every
# row folds k dot products AND the driver analyzes a k×dim literal,
# while the Arrow kernel holds flat at ~0.3s (one BLAS matmul per
# batch, matrix shipped once). At k×dim ≤ 1024 the two are within 2×
# and the expression buys bit-exactness vs the SQL oracle with no
# Python-worker dependency, so auto keeps it; from 2048 (the first
# octave where the expression is 3.3× and climbing) auto flips to
# Arrow.
_ARROW_ASSIGN_MIN_KXDIM = 2048


def kmeans_assign(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out_col: str = "cluster",
    arrow: bool | None = None,
) -> DataFrame:
    """Assign every row to its Euclidean-nearest centroid — the E-step of
    Lloyd and the serving-time cluster lookup. Pure map, no shuffle:
    ``arrow=False`` uses the codegen'd literal-matrix expression (ordered
    folds, bit-exact vs the SQL oracle — the correctness-gated path);
    ``arrow=True`` the one-node Arrow matmul kernel (the production path
    at large k×dim, where the literal plan's analysis and per-row fold
    cost grow with k while the matmul holds flat); ``arrow=None`` (the
    default) dispatches by the measured ``_ARROW_ASSIGN_MIN_KXDIM``
    rule. The two paths agree except on exact inter-centroid ties (both
    break toward the smaller centroid id; parity pinned in
    tests/test_similarity.py). A NULL vector assigns a NULL cluster on
    BOTH paths — without the explicit guard the expression path's struct
    sort would quietly rank the all-NULL scores by centroid id and
    assign cluster 0."""
    if arrow is None:
        arrow = (
            len(centroids) * len(centroids[0]) >= _ARROW_ASSIGN_MIN_KXDIM
        )
    vec = F.col(vec_col)
    if arrow:
        assigned = _argmin_euclidean_udf(centroids)(vec)
    else:
        assigned = F.when(
            vec.isNotNull(), _argmin_euclidean(vec, centroids)
        )
    return df.withColumn(out_col, assigned)


def kmeans_distortion(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assignment + squared Euclidean distance to the assigned centroid —
    the drift monitor for a stored k-means model: arrivals that land far
    from every centroid (per-cluster mean dist² creeping above the
    training distortion) are the data-drift signal that triggers a
    retrain, the same role the registry's source-fingerprint staleness
    plays for content changes. Pure map like kmeans_assign; dist² spells
    x·x − 2·x·c + c·c in exactly that association so the value is
    bit-identical to the SQL oracle's left-assoc expression."""
    assigned = kmeans_assign(df, centroids, vec_col=vec_col)
    c = F.element_at(_centroid_matrix(centroids), F.col("cluster") + 1)
    v = F.col(vec_col)
    dist2 = (
        _ordered_dot(v, v)
        - F.lit(2.0) * _ordered_dot(v, c)
        + _ordered_dot(c, c)
    )
    return assigned.withColumn("dist2", dist2)


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 6,
    arrow: bool | None = None,
) -> tuple[list[list[float]], dict[int, int]]:
    """Distributed Lloyd k-means over the FULL corpus — the clustering
    pass a training-data pipeline runs for semantic sharding, curriculum
    buckets, or SemDeDup-style grouping when a sampled quantizer
    (ivf_train) isn't enough and every vector must vote.

    Deterministic end to end: init = the ``k`` vectors with smallest
    md5(id) (a distributed top-k, same rule as ivf_train); each round
    assigns via _argmin_euclidean (ties to the smaller centroid id) and
    recenters with per-dimension means QUANTIZED to 10^-quant. The
    quantization is what makes the iteration reproducible across engines
    and partitionings: a mean's accumulation-order wobble (~1e-13) is
    crushed to the 1e-6 grid before it can flip any later assignment, so
    the whole trajectory — not just one step — is hash-exact against the
    corpus oracle's unrolled SQL. Empty clusters keep their previous
    centroid (count 0), the standard Lloyd convention.

    Plan shape for 100 TB: per round, ONE narrow assignment map (codegen,
    no shuffle) + ONE posexplode/groupBy(cluster, dim) aggregation whose
    map-side combine reduces everything to k×dim rows — the only thing
    that ever reaches the driver. No iteration-growing lineage: each
    round's plan is built fresh from the scan, the loop carries only the
    k×dim Python list (same pattern as MLlib's Lloyd, expressed on
    DataFrames).

    Returns (centroids after at most ``iters`` rounds, {cluster: n}
    counts of the final E-step — the assignment the returned centroids
    were computed from). CONVERGENCE STOP: when a round's quantized
    centroids equal the previous round's, the trajectory has hit a fixed
    point of the quantized iteration — every later round would assign and
    recenter identically — so the loop exits early with a result
    bit-identical to running all ``iters`` rounds (the 1e-6 grid is what
    makes the equality check deterministic; pinned in
    tests/test_similarity.py). ``arrow=True`` swaps the assignment map
    for the one-node Arrow matmul kernel (the large-k production path;
    see kmeans_assign); ``None`` dispatches by the measured
    ``_ARROW_ASSIGN_MIN_KXDIM`` rule once the seed dimensions are known.
    """
    md5_key = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    seed_rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(md5_key.asc(), F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    # half-up quantization like the in-loop F.round / the oracle's
    # round() — builtin round() is banker's and would diverge the whole
    # trajectory on an exactly-representable .5e-(quant+1) seed tie
    grid = Decimal(1).scaleb(-quant)

    def _q(x: float) -> float:
        return float(Decimal(repr(float(x))).quantize(grid, ROUND_HALF_UP))

    C = [[_q(x) for x in r["v"]] for r in seed_rows]
    if arrow is None:
        arrow = bool(C) and (
            len(C) * len(C[0]) >= _ARROW_ASSIGN_MIN_KXDIM
        )
    counts: dict[int, int] = {j: 0 for j in range(len(C))}
    # NULL vectors can't vote (same filter as the seed scan — without it
    # a NULL row assigns a NULL cluster and the recenter loop KeyErrors)
    voters = corpus.filter(F.col(vec_col).isNotNull())
    for _ in range(iters):
        assign_col = (
            _argmin_euclidean_udf(C)(F.col(vec_col))
            if arrow
            else _argmin_euclidean(F.col(vec_col), C)
        )
        assigned = voters.select(
            assign_col.alias("cluster"), F.col(vec_col).alias("v")
        )
        stats = (
            assigned.select("cluster", F.posexplode("v").alias("dim0", "x"))
            .groupBy("cluster", "dim0")
            .agg(
                F.round(F.avg(F.col("x").cast("double")), quant).alias("m"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        prev = [list(c) for c in C]
        counts = {j: 0 for j in range(len(C))}
        for r in stats:
            C[r["cluster"]][r["dim0"]] = float(r["m"])
            counts[r["cluster"]] = int(r["n"])
        if C == prev:
            # fixed point on the quantized grid: assignments depend only
            # on C, so every remaining round would recompute exactly
            # these centroids and counts — stop without changing the
            # fixed-iteration result
            break
    return C, counts


def kmeans_update(
    batch: DataFrame,
    model: DataFrame,
    vec_col: str = "embedding",
    quant: int = 6,
    arrow: bool | None = None,
) -> DataFrame:
    """MINI-BATCH model maintenance: fold an arrival batch into the
    STORED k-means model without retraining — the update leg that
    completes the registry lifecycle (kmeans_lloyd trains,
    kmeans_assign serves, kmeans_distortion / kmeans_drift_stream watch
    drift, this absorbs arrivals until drift says retrain). The
    mini-batch k-means recurrence on the stored sufficient statistics:
    each arrival assigns to its nearest stored centroid, and
    c' = round((n·c + Σx) / (n + m), quant) per dimension — the exact
    weighted mean of the old members (n per cluster rides the stored
    model) and the batch's. Clusters the batch never touches keep
    (c, n) unchanged.

    ``model`` is the stored centroid table, (cluster, dim, c_val, n) —
    the kmeans_clusters registry component schema, dim 1-based. Returns
    the updated table in the same schema, ready to re-commit.

    Determinism: the batch's per-dimension sums quantize to 10^-quant
    before the fold (accumulation wobble crushed, the kmeans_lloyd
    contract) and the weighted mean computes IN-ENGINE (F.round is
    HALF_UP like the oracle; a driver-side Python round would be
    banker's — the ADVICE r12 seed hazard). Plan: one codegen
    assignment map + one posexplode/groupBy combining to ≤ k×dim rows,
    then a k×dim-row broadcast join against the model table — the
    corpus never reaches the driver (only the k×dim matrix for the
    assignment literals does, model-sized by construction)."""
    rows = model.orderBy("cluster", "dim").collect()
    # Validate the collected model before building the centroid matrix
    # (ADVICE r13): a gap in cluster ids would yield a ragged matrix
    # (C[missing] == []) that breaks both assignment paths, and an
    # empty model would raise a bare ValueError from max().
    if not rows:
        raise ValueError(
            "kmeans_update: model table is empty — expected the "
            "(cluster, dim, c_val, n) registry component written by "
            "kmeans_clusters"
        )
    k = 1 + max(r["cluster"] for r in rows)
    dims_per_cluster: dict[int, int] = {}
    for r in rows:
        dims_per_cluster[r["cluster"]] = dims_per_cluster.get(
            r["cluster"], 0
        ) + 1
    missing = sorted(set(range(k)) - set(dims_per_cluster))
    if missing:
        raise ValueError(
            f"kmeans_update: model cluster ids are not contiguous "
            f"0..{k - 1} — missing {missing[:5]}"
        )
    if len(set(dims_per_cluster.values())) != 1:
        raise ValueError(
            "kmeans_update: model clusters carry different dimension "
            f"counts {sorted(set(dims_per_cluster.values()))} — every "
            "cluster must store the same dim range"
        )
    C: list[list[float]] = [[] for _ in range(k)]
    for r in rows:
        C[r["cluster"]].append(float(r["c_val"]))
    if arrow is None:
        arrow = bool(C) and (
            len(C) * len(C[0]) >= _ARROW_ASSIGN_MIN_KXDIM
        )
    voters = batch.filter(F.col(vec_col).isNotNull())
    assign_col = (
        _argmin_euclidean_udf(C)(F.col(vec_col))
        if arrow
        else _argmin_euclidean(F.col(vec_col), C)
    )
    # assignment in its OWN projection before the posexplode — a
    # generator in the same select rewrites the plan in a way that
    # mangles the argmin lambda's struct aliases (kmeans_lloyd's rule)
    assigned = voters.select(
        assign_col.cast("bigint").alias("cluster"),
        F.col(vec_col).alias("__v"),
    )
    bstats = (
        assigned.select("cluster", F.posexplode("__v").alias("dim0", "x"))
        .groupBy("cluster", "dim0")
        .agg(
            F.round(F.sum(F.col("x").cast("double")), quant).alias("__s"),
            F.count(F.lit(1)).cast("bigint").alias("__m"),
        )
        .select(
            "cluster",
            (F.col("dim0") + 1).cast("bigint").alias("dim"),
            "__s",
            "__m",
        )
    )
    n = F.col("n")
    m = F.col("__m")
    folded = F.round(
        (n.cast("double") * F.col("c_val") + F.col("__s"))
        / (n + m).cast("double"),
        quant,
    )
    return (
        model.join(F.broadcast(bstats), ["cluster", "dim"], "left")
        .select(
            "cluster",
            "dim",
            F.when(m.isNull(), F.col("c_val")).otherwise(folded)
            .alias("c_val"),
            (n + F.coalesce(m, F.lit(0))).cast("bigint").alias("n"),
        )
    )


def cogrouped_cosine_pairs(
    hist: DataFrame,
    probes: DataFrame,
    threshold: float,
    require: str = "none",
    chunk_elems: int = 30_000_000,
) -> DataFrame:
    """Exact cosine re-score of IVF candidates as a per-list BLAS matmul.

    ``hist`` is the assignment side ``(cid, id_b, vb, nb)`` and
    ``probes`` the probe side ``(cid, id_a, va, na)``; output is every
    ``(id_a, id_b, cosine)`` in the same inverted list with
    round-half-up-to-6dp cosine ≥ ``threshold`` (``require='lt'`` keeps
    only ``id_a < id_b`` — the exact-recall canonical direction;
    ``'neq'`` drops self-pairs for the approximate regime, which
    canonicalizes and dedups across lists afterwards).

    WHY a cogroup and not a join: the candidate equi-join on cid with
    the cosine fold in its condition evaluates a higher-order-function
    fold per CANDIDATE — interpreted, one lambda step per vector
    element, and each vector rides the shuffle once per candidate pair.
    Cogrouping by cid ships each list/probe vector ONCE per list (Arrow,
    same hash exchange the join needed anyway) and scores the whole
    list×probe block as one float64 matmul — FAISS's IVF compute shape.
    Measured at sf0.1 full-probe (2k vectors, 4M candidates): 6.5s →
    sub-second for the scoring stage.

    MEMORY: the probe block is matmul'd in chunks of
    ``chunk_elems / |list|`` rows so the score matrix stays ~240 MB
    whatever the list length; under the c ∝ √n sizing rule (see
    embedding_dup_pairs) list length is ~√n, so per-task work is
    bounded and the hot-list skew ceiling is the same one the join had
    (one list = one task here vs AQE-splittable join partitions — the
    trade is documented, the matmul wins by orders of magnitude at any
    list size local[32] can hold).

    DETERMINISM: float64 accumulation; vs the JVM ordered fold the sum
    order differs only in the last ulp, 9 orders of magnitude inside the
    6dp rounding. Rounding is half-up (floor(x·1e6 + 0.5)/1e6) to match
    F.round/ANSI ROUND on the positive cosines thresholds live on."""
    id_a_t = probes.schema["id_a"].dataType.simpleString()
    id_b_t = hist.schema["id_b"].dataType.simpleString()
    out_schema = f"id_a {id_a_t}, id_b {id_b_t}, cosine double"
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

    def score(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty or r.empty:
            return empty
        H = np.vstack(l["vb"].to_numpy()).astype(np.float64)
        nh = l["nb"].to_numpy(dtype=np.float64)
        idb = l["id_b"].to_numpy()
        P = np.vstack(r["va"].to_numpy()).astype(np.float64)
        npr = r["na"].to_numpy(dtype=np.float64)
        ida = r["id_a"].to_numpy()
        chunk = max(256, chunk_elems // max(len(idb), 1))
        outs = []
        for s in range(0, len(ida), chunk):
            S = (P[s : s + chunk] @ H.T) / np.outer(npr[s : s + chunk], nh)
            S = np.floor(S * 1e6 + 0.5) / 1e6
            mask = S >= threshold
            if require == "lt":
                mask &= ida[s : s + chunk, None] < idb[None, :]
            elif require == "neq":
                mask &= ida[s : s + chunk, None] != idb[None, :]
            pi, hi = np.nonzero(mask)
            if len(pi):
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": ida[s + pi],
                            "id_b": idb[hi],
                            "cosine": S[pi, hi],
                        }
                    )
                )
        return pd.concat(outs) if outs else empty

    return (
        hist.groupBy("cid")
        .cogroup(probes.groupBy("cid"))
        .applyInPandas(score, out_schema)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the second
    scale path beside ``lsh_topk``.

    Plan: train the coarse quantizer on a sample (driver-side, tiny);
    assign every corpus vector to its nearest centroid (one codegen'd
    projection pass — at 100 TB this is the partitioning key you'd
    persist); each query probes its ``nprobe`` nearest centroid lists via
    an equi-join on centroid id, so per query only nprobe/n_centroids of
    the corpus is scanned instead of all of it. Recall is tunable with
    ``nprobe``; exact when nprobe = n_centroids.
    """
    C = (
        centroids
        if centroids is not None
        else ivf_train(corpus, n_centroids, iters, id_col=id_col, vec_col=vec_col)
    )
    assign = _nearest_centroids_udf(C, 1)
    probe = _nearest_centroids_udf(C, nprobe)
    # isNotNull BEFORE the centroid UDF: np.vstack over a batch holding
    # None raises inside the kernel; zero norms are ANSI-fatal below
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
        assign(F.col(vec_col))[0].alias("cid"),
    ).filter(F.col("c_norm") > 0)
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.explode(probe(F.col(vec_col))).alias("cid"),
    ).filter(F.col("q_norm") > 0)
    return _ivf_rank(c, q, k)


def _ivf_rank(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Shared IVF scoring tail (per-call ivf_topk AND the prebuilt-index
    ivf_search_indexed): probe equi-join on centroid id, cosine from the
    pre-hoisted norms, per-query top-k window. One expression tree ⇒ the
    two paths are value-identical by construction on the same
    assignments."""
    cos = F.round(
        _dot(F.col("q_vec"), F.col("c_vec"))
        / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    scored = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def ivf_build_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> dict[str, DataFrame]:
    """Build the persistable IVF index: ``centroids`` (cid, centroid
    array<double>) and ``assignments`` (neighbor_id, c_vec, c_norm, cid).

    The PRODUCTION serving shape at 100 TB (mirror of
    text.py bm25_build_index): quantizer training and the full-corpus
    assignment pass run ONCE at build time instead of once per query
    set. Persist both tables in a Warehouse — assignments
    hive-partitioned or clustered by ``cid`` so a probe reads only its
    nprobe inverted lists — and every later query is the sub-linear
    probe join in :func:`ivf_search_indexed`. The typed-array lattice
    kind (types.py ARRAY) keeps the vector columns exact through the
    warehouse round-trip.
    """
    C = (
        centroids
        if centroids is not None
        else ivf_train(corpus, n_centroids, iters, id_col=id_col, vec_col=vec_col)
    )
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(int(j), [float(x) for x in row]) for j, row in enumerate(C)],
        "cid int, centroid array<double>",
    )
    assign = _nearest_centroids_udf(C, 1)
    assignments = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            _norm(F.col(vec_col)).alias("c_norm"),
            assign(F.col(vec_col))[0].alias("cid"),
        )
        .filter(F.col("c_norm") > 0)
    )
    return {"centroids": centroids, "assignments": assignments}


def ivf_search_indexed(
    index: dict[str, DataFrame],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a prebuilt IVF index (ivf_build_index output,
    typically read back from a Warehouse): queries hash against the
    stored centroid table (bounded collect — n_centroids rows) and probe
    their ``nprobe`` inverted lists via the shared ``_ivf_rank`` tail,
    producing results identical to per-call ``ivf_topk`` at the same
    centroids/nprobe. Per-query cost is bounded by the probed lists'
    size, independent of corpus scale; the corpus itself is never
    re-assigned."""
    cent = index["centroids"].orderBy("cid").collect()
    C = [list(r["centroid"]) for r in cent]
    probe = _nearest_centroids_udf(C, nprobe)
    q = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("q_norm"),
            F.explode(probe(F.col(vec_col))).alias("cid"),
        )
        .filter(F.col("q_norm") > 0)
    )
    return _ivf_rank(index["assignments"], q, k)


def embedding_decontam(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    force: bool = False,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    vector whose cosine similarity to ANY benchmark vector reaches
    ``threshold``, emitting its single best match (ties → lowest bench
    id). The semantic cousin of text.benchmark_contamination — n-gram
    overlap misses paraphrases; embedding overlap catches them.

    Output: (vec_id, bench_id, cosine) — one row per contaminated corpus
    vector; cosine rounded to 6 dp (cross-engine hash-stable, ordered
    double folds as in cosine_topk).

    Scale shape for 100 TB: benchmark suites are small by construction
    (guarded at 10⁵ rows), so the benchmark side BROADCASTS and the
    corpus is scanned ONCE with no pre-shuffle; per-pair scores are
    thresholded BEFORE the per-vector argmax, so the only exchange
    carries the (rare) contaminated hits, not the corpus.
    """
    _guard_brute_force(benchmark, "embedding_decontam benchmark side", force)
    b = benchmark.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("bench_id"),
        F.col(vec_col).alias("b_vec"),
        _norm(F.col(vec_col)).alias("b_norm"),
    ).filter(F.col("b_norm") > 0)
    # the corpus norm folds ONCE per vector here; inside the pair
    # expression it would re-fold once per benchmark row (|B|× on the
    # big side)
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    ).filter(F.col("c_norm") > 0)
    cos = F.round(
        _dot(F.col("c_vec"), F.col("b_vec"))
        / (F.col("c_norm") * F.col("b_norm")),
        6,
    )
    hits = (
        c.crossJoin(F.broadcast(b))
        .select("vec_id", "bench_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("bench_id").asc()
    )
    return (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vec_id", "bench_id", "cosine")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label elementwise centroid of an embedding column — class
    prototypes / cluster centers (the aggregation IVF training runs per
    iteration, here exposed as an operator).

    Output long-format (label, dim, centroid): scalar columns only, so
    the result is cross-engine hash-stable (no float-list formatting);
    centroid = exact decimal(18,9) sum ÷ count, rounded to 6 dp.

    Scale shape for 100 TB: posexplode multiplies rows by the (fixed,
    small) dimensionality, then ONE groupBy(label, dim) with map-side
    partial sums — each partition contributes |labels|·dim partial rows
    regardless of its data volume, so the shuffle is tiny. The
    alternative (collect vectors per label) would move the data itself.
    """
    return (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(vec_col).alias("dim", "__x"),
        )
        .groupBy("label", F.col("dim").cast("bigint").alias("dim"))
        .agg(
            F.round(
                F.sum(F.col("__x").cast("double").cast("decimal(18,9)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid")
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    top_n: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval lists — the standard
    hybrid-search combiner (lexical BM25 + dense embedding ranks, or any
    N retrievers): score(q, d) = Σ_sources 1/(k + rnk), no score
    calibration across heterogeneous retrievers needed because only
    RANKS enter the sum.

    Inputs: DataFrames of (query_id, doc_id, rnk); output
    (query_id, doc_id, rrf_score, rnk) top-``top_n`` per query, scores
    rounded to 6 dp (a sum of ≤|sources| exact-rational reciprocals —
    cross-engine stable at that precision).

    Scale shape: ranked lists are top-n PER QUERY by construction —
    tiny relative to the corpora they were retrieved from — so the
    union + groupBy(query, doc) is a small-data aggregation however big
    the underlying indexes are; one window per query for the final
    ordering."""
    from functools import reduce

    from pyspark.sql import Window

    unioned = reduce(
        lambda a, b: a.unionByName(b),
        [r.select("query_id", "doc_id", "rnk") for r in rankings],
    )
    fused = unioned.groupBy("query_id", "doc_id").agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("rnk").cast("double"))),
            6,
        ).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_n)
        .select("query_id", "doc_id", "rrf_score", "rnk")
    )


# ---------------------------------------------------------------------
# Product quantization (PQ) — memory-bounded ANN serving
# ---------------------------------------------------------------------
# At 100 TB the raw fp32 vectors cannot live in executor memory: a
# 64-dim float vector is 256 bytes, its PQ code (m=8 subspaces × 256
# centroids) is 8 bytes — a 32× compression that turns the scan side of
# similarity search into a byte-code table scored by codebook lookups
# (asymmetric distance computation: the QUERY stays exact, only the
# corpus is quantized). Deterministic end-to-end: codebooks train with
# Lloyd rounds on the same md5-ordered sample rule as ivf_train.


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 256,
    iters: int = 5,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train PQ codebooks: split the NORMALIZED vector into ``m``
    subvectors and run k-means (``ks`` centroids, ``iters`` Lloyd
    rounds) per subspace on the deterministic md5-ordered sample —
    normalization first means summed subspace dots approximate COSINE,
    matching the rest of this module. Returns ndarray [m, ks, dim/m]
    (ks capped at the sample size). Empty clusters keep their previous
    centroid, so training is total and deterministic for any data."""
    md5_key = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(md5_key.asc(), F.col(id_col).asc())
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    X = X / np.clip(np.linalg.norm(X, axis=1, keepdims=True), 1e-12, None)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    ks = min(ks, n)
    dsub = dim // m
    books = np.empty((m, ks, dsub), dtype=np.float64)
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = S[:ks].copy()
        for _ in range(iters):
            d2 = (
                (S * S).sum(axis=1, keepdims=True)
                - 2.0 * (S @ C.T)
                + (C * C).sum(axis=1)
            )
            assign = d2.argmin(axis=1)
            for c in range(ks):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def _pq_encode_udf(codebooks):
    """Arrow-batched encoder: per subspace, argmin L2 between the
    normalized input subvector and the codebook centroids (first-index
    tie-break via np.argmin — deterministic)."""
    B = np.asarray(codebooks, dtype=np.float64)
    m, ks, dsub = B.shape

    @F.pandas_udf(T.ArrayType(T.ShortType()))
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(vecs.to_numpy()).astype(np.float64)
        V = V / np.clip(np.linalg.norm(V, axis=1, keepdims=True), 1e-12, None)
        codes = np.empty((len(V), m), dtype=np.int16)
        for j in range(m):
            S = V[:, j * dsub:(j + 1) * dsub]
            d2 = (
                (S * S).sum(axis=1, keepdims=True)
                - 2.0 * (S @ B[j].T)
                + (B[j] * B[j]).sum(axis=1)
            )
            codes[:, j] = d2.argmin(axis=1).astype(np.int16)
        return pd.Series(list(codes))

    return encode


def pq_build_index(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 256,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
) -> dict[str, DataFrame]:
    """Build the persistable PQ index: ``codebooks`` (j, code, centroid
    array<double>) and ``codes`` (vec_id, codes array<smallint> — the
    8-byte row that replaces the 256-byte vector). Both tables
    round-trip through the Warehouse via the typed-array lattice; the
    serving path (:func:`pq_search_indexed`) reads ONLY these, never
    the raw vectors — the memory story that makes 100 TB embedding
    search feasible on bounded executors."""
    B = (
        np.asarray(codebooks, dtype=np.float64)
        if codebooks is not None
        else pq_train(corpus, m, ks, iters, id_col=id_col, vec_col=vec_col)
    )
    spark = corpus.sparkSession
    cb = spark.createDataFrame(
        [
            (int(j), int(c), [float(x) for x in B[j, c]])
            for j in range(B.shape[0])
            for c in range(B.shape[1])
        ],
        "j int, code int, centroid array<double>",
    )
    enc = _pq_encode_udf(B)
    codes = (
        corpus.filter(F.col(vec_col).isNotNull())
        .filter(_norm(F.col(vec_col)) > 0)
        .select(
            F.col(id_col).alias("neighbor_id"),
            enc(F.col(vec_col)).alias("codes"),
        )
    )
    return {"codebooks": cb, "codes": codes}


def pq_search_indexed(
    index: dict[str, DataFrame],
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_corpus: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """ADC top-k against a prebuilt PQ index: each query builds its
    [m, ks] lookup table of exact partial dots (query normalized, the
    asymmetric side), every corpus CODE row scores as the sum of m
    table lookups — one Arrow-batched gather+sum per batch, no raw
    vectors touched. The bounded collects are the codebook table
    (m·ks rows) and the query set (small by construction, as in
    cosine_topk); scores round to 6 like every cosine in this module.
    Output: (query_id, neighbor_id, pq_score, rnk).

    Two-stage serving (the standard production shape): pass
    ``rerank_corpus`` to exact-rescore a PQ ``shortlist`` (default
    10·k) from the raw vectors — only shortlist rows survive the
    broadcast shortlist join (and with the raw table stored clustered
    on id the scan itself prunes), so memory stays code-table-bounded
    while recall is limited only by the shortlist's coverage. Output
    then carries exact ``cosine`` instead of ``pq_score``."""
    cb_rows = index["codebooks"].orderBy("j", "code").collect()
    m = 1 + max(r["j"] for r in cb_rows)
    ks = 1 + max(r["code"] for r in cb_rows)
    dsub = len(cb_rows[0]["centroid"])
    B = np.empty((m, ks, dsub), dtype=np.float64)
    for r in cb_rows:
        B[r["j"], r["code"]] = r["centroid"]
    q_rows = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .collect()
    )
    Q = np.array([r["v"] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    keep = qn[:, 0] > 0
    Q, q_ids = Q[keep] / qn[keep], [r["id"] for i, r in enumerate(q_rows) if keep[i]]
    # LUT[q, j, code] = exact query subvector · quantized centroid
    lut = np.einsum("qjd,jcd->qjc", Q.reshape(len(Q), m, dsub), B)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        C = np.vstack(codes.to_numpy()).astype(np.int64)
        out = np.zeros((len(C), lut.shape[0]), dtype=np.float64)
        for j in range(m):
            out += lut[:, j, C[:, j]].T
        return pd.Series(list(np.round(out, 6)))

    qid_arr = F.array(*[F.lit(q) for q in q_ids])
    scored = (
        index["codes"]
        .select("neighbor_id", F.posexplode(adc(F.col("codes"))).alias("qpos", "pq_score"))
        .withColumn("query_id", qid_arr[F.col("qpos")])
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    if rerank_corpus is not None:
        r = shortlist or 10 * k
        cand = (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= r)
            .select("query_id", "neighbor_id")
        )
        raw = rerank_corpus.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            _norm(F.col(vec_col)).alias("c_norm"),
        ).filter(F.col("c_norm") > 0)
        qdf = queries.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("q_norm"),
        ).filter(F.col("q_norm") > 0)
        cos = F.round(
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm")),
            6,
        )
        # the shortlist is |queries|·r rows — broadcast it onto the raw
        # table so only those vectors are materialized, then exact-score
        rescored = (
            raw.join(F.broadcast(cand), "neighbor_id")
            .join(F.broadcast(qdf), "query_id")
            .select("query_id", "neighbor_id", cos.alias("cosine"))
        )
        w2 = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            rescored.withColumn("rnk", F.row_number().over(w2))
            .filter(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "cosine", "rnk")
        )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "pq_score", "rnk")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ks: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Convenience build-then-search (tests and ad-hoc use; production
    persists :func:`pq_build_index` once and serves from the stored
    tables)."""
    idx = pq_build_index(corpus, m, ks, id_col=id_col, vec_col=vec_col)
    return pq_search_indexed(idx, queries, k, id_col=id_col, vec_col=vec_col)
