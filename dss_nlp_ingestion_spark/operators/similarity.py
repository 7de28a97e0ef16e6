"""Similarity search over embedding columns (SURVEY.md §2.11 N7–N10
generalized; LLM-pipeline north star).

The reference's similarity surface is API-backed 1-N text similarity
(src/utils/tencent_api.py:111-123) and word/sentence embeddings
(:98-109, :125-136). Here embeddings are first-class ``array<float>``
columns and similarity is a distributed operator:

- ``cosine`` — dot products/norms as explicit *sequential* double
  folds: identical IEEE ops in identical order are bit-identical
  across engines, whereas engine-native sums are free to reorder
  (and double→high-scale-decimal casts differ between Spark's
  shortest-repr rounding and DuckDB's exact-binary rounding). Every
  Arrow scoring kernel here and in ``operators.pq`` folds through the
  one primitive :func:`_fold`.
- brute-force top-k: broadcast the (small) query set against the
  corpus — the correctness baseline; one scan, no shuffle of the
  corpus.
- random-hyperplane LSH bucketing: deterministic integer plane
  weights :func:`plane_weight` (no RNG -> reproducible in SQL);
  bucket-local joins are the scale path (IVF-style pruning: the
  pair/candidate work is bounded per bucket, not quadratic in the
  corpus).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_exact(a: Column, b: Column) -> Column:
    """Sequential-fold dot product -> DOUBLE (deterministic: the
    DuckDB oracle folds the same products in the same order via
    list_reduce, yielding bit-identical doubles)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_exact(a, a))


def _stack(vs) -> np.ndarray:
    """One Arrow batch of array cells as an (n, dim) float64 matrix:
    one ``np.stack`` over the object array, float32 widened exactly by
    ``astype`` — every fold below sees the values ``dot_exact``'s casts
    produce. Column-major, so :func:`_fold` reads each component
    without another copy."""
    return np.stack(vs.to_numpy()).astype(np.float64, order="F")


def _sqdiff(x, y):
    d = x - y
    return d * d


def _fold(a, b, term=np.multiply):
    """The exact fold every similarity/PQ kernel shares:
    ``term(a[..., j], b[..., j])`` summed component-sequentially in
    index order, unseeded (``t0 + t1 + ...``) — the same IEEE op chain
    as the oracles' ``list_reduce`` '+' chains (``dot_exact``'s 0.0
    seed can change only the sign of a zero sum).
    Elementwise ufuncs neither fuse nor reassociate, so the result is
    bit-identical on every host (BLAS reductions follow the CPU's
    kernel dispatch instead). Leading axes broadcast: ``(n, dim)``
    pairs give ``(n,)``; ``a[:, None, :]`` against ``b[None, :, :]``
    gives ``(n, k)`` without ever materializing ``(n, k, dim)``.
    ``term=_sqdiff`` is the squared-distance form.

    Each step reads one contiguous component slice (the component
    axis moves to the front, a copy unless the input is column-major
    like :func:`_stack`'s; a strided column read costs ~2.5x at
    10k x 282 x 64), and ``acc += t`` rounds exactly like
    ``acc = acc + t``."""
    a = np.ascontiguousarray(np.moveaxis(a, -1, 0))
    b = np.ascontiguousarray(np.moveaxis(b, -1, 0))
    acc = term(a[0], b[0])
    for j in range(1, len(a)):
        acc += term(a[j], b[j])
    return acc


def _scoring_udf(fn, return_type: str):
    """Arrow pandas UDF for a pure scoring kernel, marked
    ``asNondeterministic()``. Every scoring column feeds a filter or a
    join key downstream, and the optimizer's filter pushdown
    duplicated a deterministic UDF — one ArrowEvalPython below the
    pushed filter, one above for the projection — so each row paid the
    kernel twice. The marker pins ONE evaluation per plan branch
    (canary: ``test_scoring_udfs_evaluate_once_per_branch``). Its cost
    is the constraint every caller must keep: the UDF must not appear
    in a join condition or an aggregate expression, where Spark
    rejects nondeterministic expressions."""
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(fn, return_type).asNondeterministic()


_COSINE_ARROW_UDF = None


def cosine(a: Column, b: Column) -> Column:
    """Pair cosine — Arrow kernel over :func:`_fold` (dot, |a|^2,
    |b|^2 chains in index order; one multiply of the two sqrt's, one
    divide), bit-identical to ``dot_exact(a, b) / (l2_norm(a) *
    l2_norm(b))`` and the DuckDB oracles (pinned per element by
    tests/test_pq_adc_kernels.py). Null in either input gives null.
    This is the hot kernel of every candidate-scoring join (bucketed
    near-dup pairs, LSH/IVF probes, brute-force baselines). It must
    not appear in a join condition or an aggregate (see
    :func:`_scoring_udf`)."""
    global _COSINE_ARROW_UDF
    if _COSINE_ARROW_UDF is None:
        import pandas as pd

        def _cos_fn(va, vb):
            n = len(va)
            if n == 0:
                return pd.Series([], dtype="float64")
            null = va.isna().to_numpy() | vb.isna().to_numpy()
            if null.all():
                return pd.Series([None] * n)
            if null.any():
                va, vb = va[~null], vb[~null]
            A, B = _stack(va), _stack(vb)
            with np.errstate(all="ignore"):
                vals = _fold(A, B) / (np.sqrt(_fold(A, A)) * np.sqrt(_fold(B, B)))
            if not null.any():
                return pd.Series(vals)
            out = np.empty(n, dtype=object)
            out[~null] = vals
            return pd.Series(out)

        _COSINE_ARROW_UDF = _scoring_udf(_cos_fn, "double")
    return _COSINE_ARROW_UDF(a, b)


def cosine_cogroup_topk_scorer(k: int, query_block: int = 256):
    """Cogrouped full-precision list scorer (r11 — the same join-shape
    fix as ``operators.pq.pq_adc_cogroup_scorer``, for the
    FULL-PRECISION inverted-list probe): one call scores all queries
    probing one inverted list against all of that list's vectors and
    emits each query's per-list top-``k`` by (cosine DESC,
    neighbor_id ASC).

    Why: joining probe rows (query_id, qv) onto every candidate row
    ships the 64-double query vector once per (query, candidate) pair
    (~146 GB at the sf10 fixture). Cogrouping by list id ships each
    list's vectors ONCE per group and each query vector once per
    probed list; per-(query, list) top-``k`` output is lossless for
    the global per-query top-``k`` (the global survivors from one
    list form a prefix of that list's own ordering).

    Bit-exactness: cosine is accumulated with the same :func:`_fold`
    chains as the :func:`cosine` Arrow kernel, so every emitted double
    matches the per-pair kernel and the DuckDB oracle.

    ``query_block`` bounds the (queries x list) score matrix so task
    memory stays flat as the probing batch grows."""
    import pandas as pd

    def _empty() -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "score": pd.Series([], dtype="float64"),
            }
        )

    def score(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if len(left) == 0 or len(right) == 0:
            return _empty()
        Q = _stack(left["_qv"])
        C = _stack(right["_cv"])
        qids = left["query_id"].to_numpy(dtype=np.int64)
        nbr = right["neighbor_id"].to_numpy(dtype=np.int64)
        # |c| per candidate: shared across query blocks.
        sqrt_bb = np.sqrt(_fold(C, C))
        n_keep = min(k, len(nbr))
        out_q, out_n, out_s = [], [], []
        for lo in range(0, len(qids), query_block):
            Qb = Q[lo : lo + query_block]
            dots = _fold(Qb[:, None, :], C[None, :, :])
            with np.errstate(all="ignore"):
                vals = dots / (np.sqrt(_fold(Qb, Qb))[:, None] * sqrt_bb[None, :])
            for i in range(vals.shape[0]):
                order = np.lexsort((nbr, -vals[i]))[:n_keep]
                out_q.append(np.full(n_keep, qids[lo + i], dtype=np.int64))
                out_n.append(nbr[order])
                out_s.append(vals[i][order])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "score": np.concatenate(out_s),
            }
        )

    return score


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """For every query vector, the k nearest corpus vectors by cosine
    (self-matches excluded): broadcast the query set, scan the corpus
    once, rank per query. Returns (query_id, neighbor_id, score,
    rank)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


_HYPERPLANE_UDFS: dict = {}


def plane_weight(p: int, i: int) -> int:
    """Deterministic hyperplane component w(p, i) for plane p at
    0-based vector index i: a Knuth multiplicative hash of (p, i)
    folded into the small-integer range [-5, 5] (exact in DOUBLE and
    replicated verbatim by the DuckDB oracles via
    :func:`plane_weight_sql`). The r10 sf10 probe killed the previous
    family ``((p*31 + i*17) % 7) - 3``: both congruences have period
    7, so plane p and plane p+7 were IDENTICAL — only 7 distinct
    hyperplanes existed, at most ~2^7 usable buckets at ANY requested
    plane count, and heavily skewed ones on structured vectors (sf10:
    126 buckets, max 6,950 of 200k rows, ~378M in-bucket pair
    evaluations). The hash mix gives distinct, sign-balanced planes
    for every p, so the corpus-adaptive plane rule actually buys
    buckets. Intermediate products stay < 2^47 — exact in BIGINT on
    both engines."""
    return (((p * 1009 + i) * 2654435761) % 2147483647) % 11 - 5


def plane_weight_sql(p: int) -> str:
    """DuckDB expression computing ``plane_weight(p, i-1)`` for the
    1-based ``list_transform`` index ``i`` — the single source the
    oracle generators interpolate, so engine and oracle can never
    drift apart on the plane family."""
    return f"(((({p * 1009} + (i-1)) * 2654435761) % 2147483647) % 11 - 5)"


#: Plane-COUNT policy (r10 verdict #7 — ONE documented rule, two
#: intentional regimes; unit-pinned in tests/test_operators_unit.py):
#:
#: 1. PAIR-EMITTING near-dup paths (embedding_near_dups, _guarded,
#:    semdedup candidate generation) ADAPT the plane count to the
#:    corpus (plans.similarity_queries._adaptive_planes: smallest
#:    p >= 8 with n/2^p <= 128) because their in-bucket work is
#:    QUADRATIC in bucket size — a fixed layout's pair space grows
#:    linearly-in-n PER BUCKET and was the measured sf10 cliff.
#:
#: 2. BUCKET-INDEX paths keep a FIXED 8-plane layout BY DESIGN:
#:    - lsh_bucket_stats: the histogram DESCRIBES a concrete fixed
#:      index layout; adapting would make the row describe a moving
#:      target.
#:    - ann_bucket_topk / ann_multiprobe_topk: the layout is the
#:      PERSISTED index definition a query-time probe must match —
#:      multiprobe's neighbor set (bucket XOR (1 << p)) is defined
#:      over the fixed bit width, and per-query candidate work is
#:      LINEAR in bucket size, so a big corpus degrades latency
#:      gracefully instead of quadratically. Production re-picks p at
#:      index BUILD time with the same n/2^p <= cap rule, then keeps
#:      it fixed for the index's lifetime.
#:    - embedding_near_dups_exact: small-sf verifier twin; fixed 8
#:      equals the adaptive rule at every SF the twin is run at
#:      (sf <= 0.1), keeping it byte-comparable with the default row.
PLANE_COUNT_POLICY = "adaptive-for-pair-emitters, fixed-for-bucket-indexes"


def hyperplane_bucket(vec_col: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id in [0, 2^n_planes): bit p is
    the sign of the projection onto deterministic integer plane
    :func:`plane_weight` — Arrow kernel whose projections are
    :func:`_fold` chains, so every sign bit agrees with the oracles'
    ``list_reduce`` projections (pinned by
    tests/test_pq_adc_kernels.py). It must not appear in a join
    condition or an aggregate (see :func:`_scoring_udf`); select it
    into a column first and join on that."""
    key = (n_planes, dim)
    if key not in _HYPERPLANE_UDFS:
        import pandas as pd

        w = np.array(
            [
                [float(plane_weight(p, i)) for i in range(dim)]
                for p in range(n_planes)
            ]
        )
        bits = np.arange(n_planes, dtype=np.int64)

        def _bucket_fn(vs):
            if len(vs) == 0:
                return pd.Series([], dtype="int64")
            proj = _fold(_stack(vs)[:, None, :], w[None, :, :])  # (n, planes)
            return pd.Series(((proj > 0).astype(np.int64) << bits).sum(axis=1))

        _HYPERPLANE_UDFS[key] = _scoring_udf(_bucket_fn, "long")
    return _HYPERPLANE_UDFS[key](vec_col)


def bucketed_near_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.35,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs restricted to equal LSH buckets — the
    scale path: the join shuffles on the bucket id and pair generation
    is bucket-local. Returns (id_a, id_b, bucket, score).

    ``max_bucket`` is the skew guard: a degenerate hyperplane (e.g. a
    bucket holding 10% of all vectors) would re-create the quadratic
    join inside one reducer.  When set, oversized buckets are
    hash-split into ceil(n/max_bucket) subgroups and the pair space is
    covered block-by-block (``operators.skew.blocked_self_pairs``) —
    the result set is IDENTICAL (no pair lost, none duplicated), only
    the per-task bound changes."""
    bucketed = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        hyperplane_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    if max_bucket is not None:
        from dss_nlp_ingestion_spark.operators.skew import blocked_self_pairs

        pairs = blocked_self_pairs(bucketed, "bucket", "vid", cap=max_bucket)
        # Cosine is symmetric, so normalize the id order after scoring
        # (off-diagonal blocks fix roles by subgroup hash, not id).
        scored = pairs.select(
            F.least(F.col("vid_a"), F.col("vid_b")).alias("id_a"),
            F.greatest(F.col("vid_a"), F.col("vid_b")).alias("id_b"),
            "bucket",
            cosine(F.col("vec_a"), F.col("vec_b")).alias("score"),
        )
        return scored.filter(F.col("score") >= F.lit(threshold))
    # Self-join with columns renamed per side — DataFrame aliases on a
    # shared lineage can silently resolve both `a.x` and `b.x` to the
    # same column, turning the bucket equality into a tautology.
    a = bucketed.select(
        F.col("vid").alias("id_a"), F.col("vec").alias("v_a"), "bucket"
    )
    b = bucketed.select(
        F.col("vid").alias("id_b"), F.col("vec").alias("v_b"), "bucket"
    )
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "bucket",
            cosine(F.col("v_a"), F.col("v_b")).alias("score"),
        )
        .filter(F.col("score") >= F.lit(threshold))
    )


#: Shortlist margin of :func:`centroid_topk_udf`. A float64 dot of
#: ``dim`` terms lies within ``dim * 2**-53 * |x| * |c|`` of the true
#: value in ANY summation order, BLAS's as well as :func:`_fold`'s, so
#: over the same norms a BLAS cosine and a fold cosine differ by at
#: most ``(2 * dim + 2) * 2**-53`` (~1.5e-14 at dim 64). A margin of
#: twice that keeps every cell the full fold would rank first on the
#: shortlist; 1e-9 covers every dim below ~10**6.
_SHORTLIST_MARGIN = 1e-9
#: Driver-memory guard on the centroid set (model parameters,
#: k-means-center sized — never corpus sized).
_CENTROID_HARD_CAP = 65536


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 31,
    n_probe: int = 2,
    k: int = 5,
    centroid_max: int | None = None,
    centroids: list | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into inverted
    lists by nearest centroid, probe only the ``n_probe`` lists
    closest to each query, score candidates exactly.

    Training-free deterministic centroids (every ``centroid_mod``-th
    corpus vector) keep the operator reproducible in any engine — on
    a cluster, swap in k-means centroids without touching the plan
    shape.  Scale story: centroids are MODEL PARAMETERS — a
    catalog-sized set collected once at index-build time (exactly
    where MLlib keeps k-means centers).  Assignment and probe
    selection are :func:`assign_nearest_centroid`, a pure scan-side
    projection — NO crossJoin, NO window, NO Exchange on the corpus
    (the r3 version shuffled the whole corpus through a row_number
    window here). :func:`centroid_topk_udf` picks the cells the exact
    fold picks, at every centroid count.

    The probe table (queries × n_probe rows) then broadcasts onto the
    assigned corpus, and only the k-bounded per-query ranking windows
    shuffle. Recall knobs: ``n_probe`` up, ``centroid_mod`` down.

    ``centroid_max`` bounds the centroid ID range so the centroid
    COUNT is a fixed design parameter (FAISS's nlist) instead of
    growing with the corpus — without it, assignment cost is
    N x (N / centroid_mod), which the r6 sf1 bench measured as the
    one super-linear headline query (16x for 10x data; capped, the
    whole plan is linear in N).

    ``centroids`` (list of (cent_id, vector)) bypasses the
    training-free rule entirely — TRAINED k-means centers supplied as
    model parameters (see :func:`train_spherical_kmeans` and the
    committed ``ivf_centroids_v1.npz``); no corpus action happens at
    plan time then.

    Returns (query_id, neighbor_id, score, rank).
    """
    if centroids is not None:
        cent_rows = sorted(
            ({"cent_id": int(c), "_cvec": list(v)} for c, v in centroids),
            key=lambda r: r["cent_id"],
        )
    else:
        seeds = corpus
        if centroid_max is not None:
            seeds = corpus.filter(F.col(id_col) < centroid_max)
        cent_rows = collect_centroids(seeds, id_col, vec_col, centroid_mod)
    assigned = assign_nearest_centroid(corpus, id_col, vec_col, cent_rows).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("_cv"), "cent_id"
    )
    probes = assign_nearest_centroid(
        queries, id_col, vec_col, cent_rows, n_best=n_probe
    ).select(F.col("id").alias("query_id"), F.col("v").alias("_qv"), "cent_id")
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        assigned.join(F.broadcast(probes), "cent_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= k)
    )


def assign_nearest_centroid(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cent_rows: list,
    n_best: int = 1,
) -> DataFrame:
    """Scan-side nearest-centroid assignment shared by the IVF index,
    SemDeDup, the k-means step and the incremental index: returns
    (id, v, cent_id) with NO exchange on ``df``. ``n_best > 1`` yields
    one row per (input row, nearest cell) — the multi-probe form
    (cells ordered score DESC, cent_id ASC). Scoring is
    :func:`centroid_topk_udf`, bit-exact at every centroid count."""
    topk = centroid_topk_udf(cent_rows, n_best)(F.col(vec_col))
    cent = F.element_at(topk, 1) if n_best == 1 else F.explode(topk)
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), cent.alias("cent_id")
    )


def centroid_topk_udf(cent_rows: list, n_best: int):
    """Per vector, the ``n_best`` nearest centroids by cosine as an
    ordered array<long> (score DESC, then cent_id ASC).

    The selected cells are the full :func:`_fold` ranking's, bit for
    bit, at every centroid count: dots and norms are ``dot_exact``'s /
    the oracle's list_reduce chains, so the cells (and any cut at
    ``n_best``) are hash-gate safe. One BLAS matmul per batch only
    shortlists: cells within ``_SHORTLIST_MARGIN`` of a row's
    ``n_best``-th best BLAS score are rescored by the fold, the rest
    cannot reach the top ``n_best``. Fold work is ~``n_best`` cells per
    row instead of all of them. The result must not appear in a join
    condition or an aggregate (see :func:`_scoring_udf`); derive the
    cent_id column first and join on that."""
    import pandas as pd

    if not cent_rows:
        raise ValueError("no centroids: lower centroid_mod or check id domain")
    if len(cent_rows) > _CENTROID_HARD_CAP:
        raise ValueError(
            f"{len(cent_rows)} centroids exceeds the driver collect budget; "
            "raise centroid_mod (or plug in trained k-means centers)"
        )
    cent_ids = np.array([int(r["cent_id"]) for r in cent_rows], dtype=np.int64)
    C = np.array(
        [[float(x) for x in r["_cvec"]] for r in cent_rows], dtype=np.float64, order="F"
    )
    cnorms = np.sqrt(_fold(C, C))
    n_keep = min(n_best, len(C))

    def _topk_fn(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        X = _stack(vs)
        qnorms = np.sqrt(_fold(X, X))
        with np.errstate(all="ignore"):
            approx = (X @ C.T) / np.outer(qnorms, cnorms)
        approx[np.isnan(approx)] = -np.inf  # zero vectors: fold every cell
        kth = len(C) - n_keep
        cut = np.partition(approx, kth, axis=1)[:, kth] - _SHORTLIST_MARGIN
        r, c = np.nonzero(approx >= cut[:, None])  # row-major: r ascending
        # X and C are column-major: np.take along their transposes'
        # rows gathers component-major, so _fold reads contiguous
        # slices without a transpose copy.
        Xr, Cc = np.take(X.T, r, axis=1).T, np.take(C.T, c, axis=1).T
        with np.errstate(all="ignore"):
            scores = _fold(Xr, Cc) / (qnorms[r] * cnorms[c])
        order = np.lexsort((cent_ids[c], -scores, r))
        first = np.searchsorted(r, np.arange(len(X)))
        picks = c[order[first[:, None] + np.arange(n_keep)]]
        return pd.Series(list(cent_ids[picks]))

    return _scoring_udf(_topk_fn, "array<long>")


def multiprobe_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    k: int = 5,
) -> DataFrame:
    """Multi-probe LSH top-k: each query searches its own hyperplane
    bucket PLUS every bucket at Hamming distance 1 (one sign bit
    flipped) — the standard recall fix for LSH ANN: vectors near a
    hyperplane land on either side, and the 1-bit probes cover
    exactly those boundary misses without touching the rest of the
    corpus.

    Scale shape: the probe table is queries x (n_planes + 1) rows —
    broadcast — and joins the bucketed corpus on bucket id, so
    candidate work grows from 1 to (n_planes + 1) bucket volumes per
    query while the corpus is still scanned once and never shuffled.
    Probed buckets are disjoint (each corpus vector has one bucket),
    so no candidate dedup step is needed. Returns (query_id,
    neighbor_id, score, rank)."""
    bucketed = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        hyperplane_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        hyperplane_bucket(F.col(vec_col), n_planes, dim).alias("_qb"),
    )
    probe_set = F.array(
        F.col("_qb"), *[F.col("_qb").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    )
    probes = q.select(
        "query_id", "_qv", F.explode(probe_set).alias("bucket")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        bucketed.join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def collect_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 31,
) -> list:
    """Deterministic centroid seed set (every ``centroid_mod``-th
    vector), collected driver-side — model parameters, never corpus
    data. :func:`centroid_topk_udf` rejects an empty set or one over
    ``_CENTROID_HARD_CAP`` rows."""
    return sorted(
        corpus.filter(F.col(id_col) % centroid_mod == 0)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("_cvec"))
        .collect(),
        key=lambda r: r["cent_id"],
    )


def kmeans_update_step(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 31,
    scale: int = 10**6,
) -> DataFrame:
    """One distributed k-means (Lloyd) update: assign every vector to
    its nearest seed centroid (cosine, the scan-side
    :func:`assign_nearest_centroid` ivf_topk indexes with, NO corpus
    Exchange), then
    recompute each centroid as the member mean, per dimension:
    ``(cent_id, dim, n_members, mean_micro)``.

    Means are computed in integer micro-units
    (``floor(value * scale)`` summed exactly as BIGINT, one floored
    division at the end) so the update is bit-identical across
    engines and partitionings — float mean reductions are
    order-dependent, and a training loop that cannot be replayed
    cannot be regression-tested. Iterating = feeding the output back
    as the next seed set; the per-step cost is one scan + one
    (cent_id, dim)-keyed exchange of bounded size (centroids x dims
    rows), which is the MLlib k-means superstep shape. Assignment is
    :func:`centroid_topk_udf`'s exact ranking at every seed count."""
    cent_rows = collect_centroids(corpus, id_col, vec_col, centroid_mod)
    assigned = assign_nearest_centroid(
        corpus, id_col, vec_col, cent_rows
    ).select(F.col("v").alias("_cv"), "cent_id")
    return _kmeans_member_means(assigned, scale)


def _kmeans_member_means(assigned: DataFrame, scale: int) -> DataFrame:
    """Per-(centroid, dimension) exact integer member means over an
    assigned corpus — the shuffle half of the Lloyd step, shared by
    both assignment paths."""
    expl = assigned.select(
        "cent_id", F.posexplode(F.col("_cv")).alias("_pos", "_x")
    ).select(
        "cent_id",
        (F.col("_pos") + 1).cast("int").alias("dim"),
        F.floor(F.col("_x").cast("double") * F.lit(float(scale)))
        .cast("long")
        .alias("_micro"),
    )
    return expl.groupBy("cent_id", "dim").agg(
        F.count("*").cast("long").alias("n_members"),
        F.floor(F.sum("_micro").cast("double") / F.count("*"))
        .cast("long")
        .alias("mean_micro"),
    )


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 31,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by clustering the
    embedding space and pruning, WITHIN each cluster, every vector
    that has a higher-priority near-twin (cosine > ``threshold``,
    priority = smaller id — deterministic, unlike the paper's
    arbitrary keep choice). Clustering is what makes the quadratic
    comparison tractable: candidate pairs are only generated inside a
    cluster, exactly the published algorithm's trick.

    Scale shape: assignment is the scan-side nearest-centroid
    projection ivf_topk/kmeans use (NO corpus exchange); the only shuffle is the
    within-cluster self-join keyed on cent_id. Cluster size is the
    knob bounding pair work (k ~ n/avg_size); a pathologically hot
    cluster is handled like any hot join key (salt or split the
    centroid — same playbook as operators/skew.py).

    Returns (id, cent_id, pruned 0/1).
    """
    cent_rows = collect_centroids(corpus, id_col, vec_col, centroid_mod)
    # Assignment is the shared scan-side scorer (exact at every seed
    # count); pair scoring below is the bit-exact cosine kernel.
    assigned = assign_nearest_centroid(corpus, id_col, vec_col, cent_rows)

    a = assigned.alias("a")
    b = assigned.alias("b")
    # r12 (guide §4.2): the pruning join used to be a leftsemi whose
    # condition evaluated the interpreted dot_exact HOF fold PER
    # CANDIDATE PAIR (a Python UDF cannot appear in a semi-join
    # condition, and higher-order functions never codegen) — measured
    # as essentially the whole operator at scale. Restructured to an
    # equi-join on cent_id + Arrow-kernel cosine + distinct: paired
    # A/B 1.876 -> 0.362 s at sf1 and 15.89 -> 0.50 s at sf10
    # (min-of-3, new wins every pair), outputs asserted identical on
    # the full fixture at both SFs. Bit-equality holds because the
    # Arrow kernel's component-sequential folds reproduce
    # dot_exact / (|a| * |b|) exactly (same chains, one multiply,
    # one divide — pinned by tests/test_pq_adc_kernels.py). The
    # semi-join's per-row early-out bought nothing: matches are rare,
    # so every pair paid the interpreted fold anyway.
    pruned_ids = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("b.id") < F.col("a.id")),
        )
        .select(
            F.col("a.id").alias("id"),
            cosine(F.col("a.v"), F.col("b.v")).alias("_c"),
        )
        .filter(F.col("_c") > F.lit(threshold))
        .select("id")
        .distinct()
        .withColumn("pruned", F.lit(1).cast("long"))
    )
    return (
        assigned.join(pruned_ids, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cent_id"),
            F.coalesce(F.col("pruned"), F.lit(0)).cast("long").alias("pruned"),
        )
    )


# ---------------------------------------------------------------------------
# Trained IVF centroids (committed model artifact)
# ---------------------------------------------------------------------------

#: Committed trained-centroid artifact: deterministic spherical
#: k-means (k=32, 10 iterations) over operators.pq's corpus training
#: sample. The r7 recall eval measured the training-free %71 rule at
#: recall@5 = 0.36 on sf0.1; these centers reach 0.76 at the same
#: n_probe=2 (0.84 at 4) — centroid QUALITY, not probe width, was
#: the bottleneck. Provenance pinned by a retrain-equality test.
DEFAULT_IVF_CENTROIDS = __file__.replace("similarity.py", "ivf_centroids_v1.npz")
#: Scale-tier centroid artifact (r10 verdict #5): nlist must scale
#: ~sqrt(n) or average inverted-list length — and with it per-query
#: probe cost — grows linearly with the corpus at fixed k. Trained at
#: the sf10 fixture scale (k=448 ~ sqrt(200k)) by
#: tools/train_ivf_scale.py from the first 4480 vectors (by vec_id)
#: of the regenerated sf10 corpus — deterministic end-to-end (the
#: generator is key-shifted replication, the trainer is the same
#: exact-fold spherical k-means as the default artifact).
SCALE_IVF_CENTROIDS = __file__.replace(
    "similarity.py", "ivf_centroids_sf10_v1.npz"
)

#: (k, artifact path) tiers :func:`select_ivf_centroids` picks from.
IVF_CENTROID_TIERS = (
    (32, DEFAULT_IVF_CENTROIDS),
    (448, SCALE_IVF_CENTROIDS),
)


def select_ivf_centroids(n_vectors: int) -> str:
    """Index-BUILD-time nlist policy (nlist ~ sqrt(n)): return the
    committed centroid artifact whose k is nearest sqrt(n_vectors).
    At every committed small SF this picks the default k=32 artifact
    (sqrt(6016) ~ 78, sqrt(20k) ~ 141 — both nearer 32 than 448), so
    oracle-gated results are unchanged; the sf10 fixture (200k,
    sqrt ~ 447) picks the k=448 tier. Missing scale artifacts fall
    back to the default so hermetic checkouts keep working."""
    import math
    import os

    target = math.sqrt(max(n_vectors, 1))
    best, bestd = DEFAULT_IVF_CENTROIDS, None
    for k, path in IVF_CENTROID_TIERS:
        if not os.path.exists(path):
            continue
        d = abs(k - target)
        if bestd is None or d < bestd:
            best, bestd = path, d
    return best


def train_spherical_kmeans(sample, k: int = 32, iters: int = 10):
    """Deterministic spherical k-means (cosine objective): unit-
    normalize, init = first k sample rows, assign by dot product
    (argmax, first-match ties), recenter on the normalized mean;
    empty clusters keep their centroid. No RNG — bit-reproducible,
    same discipline as every other committed artifact.

    The assignment scores are the :func:`_fold` the Arrow serving
    kernels use, not a BLAS GEMM: GEMM blocking — and therefore its
    summation order — follows the host CPU's kernel dispatch, and a
    host change silently broke bit-equality of the committed artifact
    by one ulp (r9 finding)."""
    X = np.asarray(sample, dtype=np.float64)
    Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
    C = Xn[:k].copy()
    for _ in range(iters):
        a = _fold(Xn[:, None, :], C[None, :, :]).argmax(axis=1)
        for c in range(k):
            mask = a == c
            if mask.any():
                v = Xn[mask].mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    C[c] = v / n
    return C


def save_ivf_centroids(cents, path: str) -> None:
    np.savez(path, centroids=np.asarray(cents, dtype=np.float64))


def load_ivf_centroids(path: str = DEFAULT_IVF_CENTROIDS) -> list:
    """[(cent_id, vector)] with cent_id = row index — the model-
    parameter form :func:`ivf_topk`'s ``centroids`` argument takes."""
    with np.load(path) as z:
        C = z["centroids"].astype(np.float64)
    return [(i, [float(x) for x in C[i]]) for i in range(len(C))]
