"""Expression-form references for the exact-fold Arrow kernels.

Each function below spells one kernel's fold as Catalyst higher-order
functions (``zip_with`` / ``aggregate`` / ``transform`` over literal
arrays) — the same IEEE op chain the DuckDB oracles write as
``list_reduce`` '+' chains. Spark evaluates these INTERPRETED (~0.2 ms
per pair, ~0.7 ms per row for 32x64 centroid cells), so no query runs
them; tests/test_pq_adc_kernels.py compares them bit for bit against
the Arrow kernels in ``operators.similarity`` and ``operators.pq``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dss_nlp_ingestion_spark.operators.pq import _sub_argmin
from dss_nlp_ingestion_spark.operators.similarity import dot_exact, l2_norm


def cosine_expr(a: Column, b: Column) -> Column:
    """Reference for ``similarity.cosine``."""
    return dot_exact(a, b) / (l2_norm(a) * l2_norm(b))


def hyperplane_bucket_expr(vec_col: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """Reference for ``similarity.hyperplane_bucket``: the plane
    weights inline ``plane_weight``'s integer hash."""
    # NB: the per-plane lambda must stay single-argument — a
    # ``lambda i, p=p`` default-arg closure is seen by F.transform as
    # a binary (element, index) lambda and the index silently replaces
    # the captured constant.
    def _plane_term(p: int):
        return lambda i: (
            F.element_at(vec_col, i).cast("double")
            * F.lit(1.0)
            * (
                ((F.lit(p * 1009) + (i - 1)) * F.lit(2654435761))
                % F.lit(2147483647)
                % F.lit(11)
                - F.lit(5)
            )
        )

    bucket = None
    for p in range(n_planes):
        prods = F.transform(F.sequence(F.lit(1), F.lit(dim)), _plane_term(p))
        proj = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        bit = F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def centroid_topk_expr(
    df: DataFrame, id_col: str, vec_col: str, cent_rows: list, n_best: int
) -> DataFrame:
    """Reference for ``similarity.centroid_topk_udf``: (id, cent_id)
    rows, one per (input row, nearest cell), each id's cells emitted
    contiguously in rank order (score DESC, cent_id ASC)."""

    def _py_norm(vec) -> float:
        acc = 0.0
        for x in vec:
            acc += float(x) * float(x)
        return acc and math.sqrt(acc)

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("vn"),
    )
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(int(r["cent_id"])).cast("long").alias("cent_id"),
                F.array(*[F.lit(float(x)) for x in r["_cvec"]]).alias("cvec"),
                F.lit(_py_norm(r["_cvec"])).alias("cnorm"),
            )
            for r in cent_rows
        ]
    )
    scored = F.transform(
        cent_lit,
        lambda c: F.struct(
            (dot_exact(F.col("v"), c["cvec"]) / (F.col("vn") * c["cnorm"])).alias("s"),
            (-c["cent_id"]).alias("nid"),
        ),
    )
    # Struct sort is lexicographic (s DESC, then nid DESC = cent_id
    # ASC) — identical to the oracle's ORDER BY score DESC, cent_id
    # ASC with rn <= n_best.
    best = F.slice(F.sort_array(scored, asc=False), 1, n_best)
    return base.select("id", F.explode(best).alias("_pc")).select(
        "id", (-F.col("_pc")["nid"]).alias("cent_id")
    )


def pq_query_lut_column(model: dict, vec_col: str = "embedding", dim: int = 64) -> Column:
    """Reference for ``pq.pq_query_lut_udf``: per subspace, a
    transform over the literal centroids of a 0.0-seeded left fold of
    per-component squares (0.0 + t == t exactly for t >= 0)."""
    m, k = model["m"], model["k"]
    books = model["codebooks"]
    sub = dim // m
    emb = F.col(vec_col)
    parts = []
    for s in range(m):
        cents = F.array(
            *[
                F.array(*[F.lit(float(books[s][c][j])) for j in range(sub)])
                for c in range(k)
            ]
        )
        subvec = F.slice(emb, s * sub + 1, sub)

        def _dist(cv):
            # ``subvec`` is bound via enclosing scope, NOT a default
            # arg (a default arg would make F.transform treat this as
            # the binary (element, index) lambda — see
            # hyperplane_bucket_expr's NB); the eager transform call
            # below freezes it per iteration.
            return F.aggregate(
                F.zip_with(
                    subvec,
                    cv,
                    lambda x, cc: (x.cast("double") - cc) * (x.cast("double") - cc),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )

        parts.append(F.transform(cents, lambda cv: _dist(cv)))  # noqa: B023
    return F.concat(*parts)


def pq_code_array_column(model: dict, emb_col: str = "embedding", dim: int = 64) -> Column:
    """Reference for ``pq.pq_code_array_udf``: the per-subspace
    ``array_min`` argmin the scan-side ``pq_code_columns`` encoder
    uses."""
    emb = F.col(emb_col)
    return F.array(
        *[_sub_argmin(model, s, emb, dim)["i"].cast("int") for s in range(model["m"])]
    )
