"""Mirror of the driver's correctness gate: every registered query is
run through Spark AND its DuckDB oracle on sf0.001; results must match
exactly (column names, row count, values) after order-insensitive
normalization. Catching a mismatch here is far cheaper than in
CORRECTNESS_r{N}.json."""

from __future__ import annotations

import pytest

from dss_nlp_ingestion_spark.plans import ORACLES, QUERIES
from tests.conftest import SF_DIR
from tools.oracle_sweep import _normalize


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    s_cols, s_norm = _normalize(scols, srows)
    d_cols, d_norm = _normalize(dcols, drows)
    assert len(s_norm) == len(d_norm), (
        f"{name}: row count {len(s_norm)} (spark) != {len(d_norm)} (duckdb)"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"
    )


def test_all_queries_have_callable():
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0
