"""Multi-table atomic transactions: one top-level txn log pinning a
consistent (table -> version) vector across several tx-log tables.

Single-table logs (sources/txlog.py) give ACID per table; a consumer
joining orders@head with lineitem@head can still observe a TORN pair
when one table has committed an ingest batch the other hasn't (the
classic dual-write anomaly).  This module adds the coordination layer
Delta/Iceberg leave to external catalogs: a txn entry is a JSON file,
published put-if-absent like a table log entry (temp file + fsync +
``os.link``, see ``txlog._publish``), recording the exact per-table
versions that belong together, so readers resolve one txn id and read
every table AT its pinned version — all-or-nothing visibility without table locks.
Writers: commit each table FIRST (their own logs make that atomic),
then publish the vector; a crash between the two leaves the last
published vector valid (readers never see the half-ingested pair).

Reference parity: the reference writes articles to ES and state rows
to Mongo with no cross-store atomicity (src/res/models/datamodels.py
bulk writers + src/utils/mongo_utils.py) — the torn-pair anomaly is
exactly what its consumers can observe; this layer is the Spark-side
fix the extra surface provides."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from dss_nlp_ingestion_spark.sources import txlog


class TornCommitError(RuntimeError):
    """A txn vector references a table version that does not exist."""


def _txn_dir(root: str) -> str:
    return os.path.join(root, "_txns")


def _txn_ids(root: str) -> list[int]:
    d = _txn_dir(root)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.endswith(".json"):
            try:
                out.append(int(f[:-5]))
            except ValueError:
                continue
    return sorted(out)


def commit_txn(root: str, table_versions: dict[str, int]) -> int:
    """Publish a consistent version vector; returns the txn id.
    The put-if-absent publish gives last-writer-loses on id collision
    (the loser retries at the next id), the same optimistic protocol
    the per-table logs use.  Every referenced version must already be
    committed in its table log — the vector is metadata only."""
    for name, version in table_versions.items():
        path = os.path.join(root, name)
        if version not in txlog._versions(path):
            raise TornCommitError(
                f"table {name!r} has no committed v{version}"
            )
    txn = (_txn_ids(root) or [-1])[-1] + 1
    while not txlog._publish(
        _txn_dir(root), f"{txn}.json", {"txn": txn, "tables": table_versions}
    ):
        txn += 1
    return txn


def txn_vector(root: str, txn: int | None = None) -> dict[str, int]:
    """The (table -> version) vector of ``txn`` (default: latest)."""
    ids = _txn_ids(root)
    if not ids:
        raise TornCommitError(f"no transactions at {root}")
    if txn is None:
        txn = ids[-1]
    if txn not in ids:
        raise TornCommitError(f"unknown txn {txn} at {root}")
    with open(os.path.join(_txn_dir(root), f"{txn}.json")) as f:
        return dict(json.load(f)["tables"])


def read_consistent(
    spark: SparkSession, root: str, txn: int | None = None
) -> dict[str, DataFrame]:
    """Every table of the txn vector AT its pinned version — the
    all-or-nothing read.  Per-table time travel does the heavy
    lifting; this layer only resolves versions, so the read costs
    exactly what the per-table snapshot reads cost."""
    return {
        name: txlog.read(spark, os.path.join(root, name), version=v)
        for name, v in txn_vector(root, txn).items()
    }
