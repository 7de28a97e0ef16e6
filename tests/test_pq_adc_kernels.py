"""Bit-equality of every exact-fold Arrow kernel with its expression form.

The similarity and PQ kernels (``cosine``, ``hyperplane_bucket``,
``centroid_topk_udf``, ``pq_query_lut_udf``, ``pq_code_array_udf``)
all fold through ``operators.similarity._fold``: component-sequential
numpy ufuncs over float64-widened batches. tests/exact_fold_reference.py
spells the same folds as Catalyst higher-order functions — the IEEE op
chain the oracle SQL mirrors. The hash gate only stays sound if the two
are bit-identical: numpy must not fuse or reassociate the folds. Pin it
per element over the real embeddings fixture.

The centroid top-k check covers the probe's list SELECTION (same
scores, same DESC/cent_id ASC tie-break), which is part of the hashed
output, at both committed centroid tiers: k=32 and the 448-centroid
sf10 tier. It also pins the BLAS shortlist: a cell the shortlist drops
would change the selection.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_pq_code_udf_matches_expression_form(spark):
    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        load_pq_artifact,
        pq_code_array_udf,
    )
    from tests.exact_fold_reference import pq_code_array_column

    model = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select(
        "vec_id",
        pq_code_array_column(model).alias("expr"),
        pq_code_array_udf(model)(F.col("embedding")).alias("udf"),
    ).collect()
    assert rows
    for r in rows:
        assert list(r["expr"]) == list(r["udf"]), r["vec_id"]


def test_pq_lut_udf_matches_expression_form_bitwise(spark):
    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        load_pq_artifact,
        pq_query_lut_udf,
    )
    from tests.exact_fold_reference import pq_query_lut_column

    model = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(64)
    rows = emb.select(
        "vec_id",
        pq_query_lut_column(model).alias("expr"),
        pq_query_lut_udf(model)(F.col("embedding")).alias("udf"),
    ).collect()
    assert rows
    for r in rows:
        # repr-level equality == bit equality for finite doubles
        assert [repr(x) for x in r["expr"]] == [repr(x) for x in r["udf"]], (
            r["vec_id"]
        )


def test_centroid_topk_exact_udf_matches_literal_assignment(spark):
    from dss_nlp_ingestion_spark.operators.similarity import (
        DEFAULT_IVF_CENTROIDS,
        SCALE_IVF_CENTROIDS,
        centroid_topk_udf,
        load_ivf_centroids,
    )
    from tests.exact_fold_reference import centroid_topk_expr

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for path, n_cents in ((DEFAULT_IVF_CENTROIDS, 32), (SCALE_IVF_CENTROIDS, 448)):
        cents = [
            {"cent_id": int(c), "_cvec": [float(x) for x in v]}
            for c, v in load_ivf_centroids(path)
        ]
        assert len(cents) == n_cents
        for n_best in (1, 4):
            # The explode emits each id's cells contiguously in rank
            # order within its scan partition and collect() preserves
            # partition order — group consecutively driver-side (a
            # groupBy/collect_list would scramble the order across the
            # shuffle).
            lits: dict[int, list[int]] = {}
            for r in centroid_topk_expr(
                emb, "vec_id", "embedding", cents, n_best
            ).collect():
                lits.setdefault(r["id"], []).append(r["cent_id"])
            uds = {
                r["id"]: list(r["uds"])
                for r in emb.select(
                    F.col("vec_id").alias("id"),
                    centroid_topk_udf(cents, n_best)(F.col("embedding")).alias(
                        "uds"
                    ),
                ).collect()
            }
            assert lits and set(lits) == set(uds)
            for vid, ordered in lits.items():
                assert ordered == uds[vid], (n_cents, n_best, vid)


def test_cosine_arrow_matches_expression_form_bitwise(spark):
    from dss_nlp_ingestion_spark.operators.similarity import cosine
    from tests.exact_fold_reference import cosine_expr

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("ia") % 13 == F.col("ib") % 13).limit(4000)
    rows = pairs.select(
        "ia",
        "ib",
        cosine(F.col("va"), F.col("vb")).alias("arrow"),
        cosine_expr(F.col("va"), F.col("vb")).alias("expr"),
    ).collect()
    assert rows
    for r in rows:
        assert repr(r["arrow"]) == repr(r["expr"]), (r["ia"], r["ib"])


def test_hyperplane_bucket_arrow_matches_expression_form(spark):
    from dss_nlp_ingestion_spark.operators.similarity import hyperplane_bucket
    from tests.exact_fold_reference import hyperplane_bucket_expr

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select(
        "vec_id",
        hyperplane_bucket(F.col("embedding")).alias("arrow"),
        hyperplane_bucket_expr(F.col("embedding")).alias("expr"),
    ).collect()
    assert rows
    for r in rows:
        assert r["arrow"] == r["expr"], r["vec_id"]
