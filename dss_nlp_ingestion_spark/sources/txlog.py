"""Minimal transaction-log table format (ACID-lite over raw parquet).

The reference gets write idempotence from Elasticsearch's
``_op_type='create'`` (src/res/models/datamodels.py:32) and has no
multi-writer table story at all. A 100 TB Spark pipeline needs one:
Delta/Iceberg aren't in this container, so this module implements the
log-structured core those formats share, pure stdlib + Spark:

- A table is ``<path>/data/*.parquet`` plus an append-only log
  ``<path>/_txlog/{version:08d}.json``. Each log entry lists data
  files ADDED and REMOVED by that commit. The table's state at
  version V is the fold of entries 0..V — data files are immutable
  and INVISIBLE until a log entry references them.
- Commit = write data files first, then publish the next numbered log
  entry put-if-absent (Delta's commit protocol): the complete JSON is
  written and fsynced under a temp name in ``_txlog/``, then
  ``os.link``-ed to ``{version:08d}.json`` — the filesystem arbitrates
  exactly one winner per version (EEXIST = race lost), and losers
  RETRY against the new snapshot instead of failing: blind appends
  always merge cleanly. :func:`_publish` is the only code that
  creates an entry file.
- Rewrites (compaction / COW merge) declare the files they replace;
  if a concurrent commit touched any of them the rewrite raises
  ``TxConflictError`` (optimistic concurrency, writer must re-read).
- Readers are never blocked and never see partial writes: an entry
  name appears only once its content is complete, and a reader folds
  whatever log prefix exists. A writer killed mid-commit leaves at
  most orphan data files and an unpublished temp entry (both cleaned
  by ``vacuum``), never a torn table.
- ``read(..., version=N)`` is time travel; ``history`` lists commits.

Scale note: the log is O(commits) tiny JSON files; state folding is
driver-side metadata work (like Delta's log replay), while data stays
distributed parquet — readers hand Spark an explicit file list, so
partition pruning/pushdown behave exactly as for plain parquet.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession


class TxConflictError(RuntimeError):
    """A concurrent commit invalidated this transaction's base
    snapshot (rewrite/replace of files another commit removed)."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_txlog")


def _entry_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:08d}.json")


def _stored_name(path: str, abs_file: str) -> str:
    """The name under which the log references ``abs_file``: relative
    to <path>/data for this table's own files, the absolute path for
    files referenced across tables (shallow clones). Rewrite/remove
    planning MUST use this, not a raw relpath — a '../..'-style
    relpath never matches the logged absolute name and the 'removed'
    file would silently stay live."""
    rel = os.path.relpath(abs_file, os.path.join(path, "data"))
    return abs_file if rel.startswith("..") else rel


def _versions(path: str) -> list[int]:
    try:
        names = os.listdir(_log_dir(path))
    except FileNotFoundError:
        return []
    return sorted(
        int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
    )


def _read_entry(path: str, version: int) -> dict:
    with open(_entry_path(path, version)) as fh:
        return json.load(fh)


def snapshot_files(path: str, version: int | None = None) -> list[str]:
    """Data files visible at ``version`` (latest when None): fold the
    log's add/remove sets in commit order."""
    versions = _versions(path)
    if version is not None:
        versions = [v for v in versions if v <= version]
        if not versions or versions[-1] != version:
            raise ValueError(f"version {version} does not exist at {path}")
    live: dict[str, None] = {}
    ck = _latest_checkpoint(path, versions[-1] if versions else None)
    if ck is not None:
        live = dict.fromkeys(ck[1]["live"])
        versions = [v for v in versions if v > ck[0]]
    for v in versions:
        e = _read_entry(path, v)
        for f in e.get("add", []):
            live[f] = None
        for f in e.get("remove", []):
            live.pop(f, None)
    return [os.path.join(path, "data", f) for f in live]


def history(path: str) -> list[dict]:
    """Commit log, oldest first (op, add/remove counts, version)."""
    out = []
    for v in _versions(path):
        e = _read_entry(path, v)
        out.append(
            {
                "version": v,
                "op": e.get("op", "?"),
                "n_add": len(e.get("add", [])),
                "n_remove": len(e.get("remove", [])),
            }
        )
    return out


def _write_data_files(df: DataFrame, path: str) -> list[str]:
    """Stage the DataFrame as parquet under data/<txn>/ — invisible
    until a log entry references the files."""
    txn = uuid.uuid4().hex[:12]
    staged = os.path.join(path, "data", txn)
    df.write.mode("errorifexists").parquet(staged)
    return [
        os.path.join(txn, n)
        for n in sorted(os.listdir(staged))
        if n.endswith(".parquet")
    ]


def _collect_file_stats(path: str, files: list[str], cols: list[str]) -> dict:
    """Per-file [min, max] for ``cols`` from the parquet footers the
    writer just produced — logged with the commit (Delta/Iceberg's
    data-skipping stats), so later readers plan file pruning from the
    LOG alone, without touching any footer."""
    import pyarrow.parquet as pq

    stats: dict[str, dict] = {}
    for rel in files:
        md = pq.ParquetFile(os.path.join(path, "data", rel)).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        per: dict[str, list] = {}
        for col in cols:
            if col not in names:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names[col]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok and lo is not None:
                per[col] = [lo, hi]
        if per:
            stats[rel] = per
    return stats


def _publish(dirpath: str, name: str, payload: dict) -> bool:
    """Put-if-absent: create ``dirpath/name`` holding ``payload`` as
    JSON, or return False when the name already exists. The JSON is
    written and fsynced under a temp name first, then ``os.link``
    publishes it in one atomic step, so the name never exists with
    partial content; a writer killed at any point leaves at most the
    temp file (``.<name>.<hex>.tmp``, ignored by every entry listing
    and reclaimed by :func:`vacuum`). Used for txlog entries and
    multitxn vectors alike."""
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.{uuid.uuid4().hex[:12]}.tmp")
    try:
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.link(tmp, os.path.join(dirpath, name))
    except FileExistsError:
        return False
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
    return True


def _try_commit(path: str, version: int, entry: dict) -> bool:
    """Publish ``entry`` as log ``version``; False when another writer
    won it (the caller retries on a fresh snapshot)."""
    # Commit wall-clock for AS OF reads, clamped monotone against the
    # current head so a stalled winner cannot stamp an EARLIER version
    # with a LATER time than its successors (version_at stays sane).
    prev_ts = 0.0
    earlier = [v for v in _versions(path) if v < version]
    if earlier:
        try:
            prev_ts = float(_read_entry(path, earlier[-1]).get("ts", 0.0))
        except (OSError, ValueError):
            prev_ts = 0.0
    return _publish(
        _log_dir(path), f"{version:08d}.json", dict(entry, ts=max(time.time(), prev_ts))
    )


def _commit(path: str, op: str, entry, max_retries: int = 10) -> int:
    """The blind-commit loop: publish at head+1 and, on a lost race,
    retry on the new head. ``entry`` is the log entry, or a function
    of the head version that builds it (and may raise to abort).
    Returns the committed version."""
    for _ in range(max_retries):
        head = (_versions(path) or [-1])[-1]
        if _try_commit(path, head + 1, entry(head) if callable(entry) else entry):
            return head + 1
    raise TxConflictError(f"{op} lost {max_retries} commit races at {path}")


def create_table(
    df: DataFrame, path: str, stats_cols: list[str] | None = None
) -> int:
    """Initialize a tx table at ``path`` with ``df`` as version 0.
    ``stats_cols`` (numeric/string) logs per-file min/max with the
    commit for data skipping (see :func:`read_pruned`)."""
    if _versions(path):
        raise FileExistsError(f"tx table already exists at {path}")
    files = _write_data_files(df, path)
    entry: dict = {"op": "create", "add": files, "remove": []}
    if stats_cols:
        entry["stats"] = _collect_file_stats(path, files, stats_cols)
    if not _try_commit(path, 0, entry):
        raise FileExistsError(f"concurrent create at {path}")
    return 0


def append(
    df: DataFrame,
    path: str,
    max_retries: int = 10,
    stats_cols: list[str] | None = None,
) -> int:
    """Append rows. Blind appends commute, so on version contention
    the commit retries against the new head (no data rewrite needed —
    the staged files are version-independent).

    ``df`` and ``stats_cols`` use the LOGICAL (post-rename) schema;
    both are folded back to the physical column names before the
    write, preserving the invariant that every data file carries the
    PHYSICAL (pre-rename) schema all snapshot readers resolve from
    (r6 advisor finding: a read()->append() round trip after
    rename_column otherwise mixes generations and breaks
    _apply_renames with duplicate columns)."""
    renames = _folded_renames(path)  # ONE metadata walk per append
    df = _unapply_renames_checked(df, path, renames=renames)
    files = _write_data_files(df, path)
    entry: dict = {"op": "append", "add": files, "remove": []}
    if stats_cols:
        entry["stats"] = _collect_file_stats(
            path, files, _physical_stats_cols(path, stats_cols, renames=renames)
        )
    return _commit(path, "append", entry, max_retries)


def rewrite(
    df: DataFrame,
    path: str,
    replace: list[str],
    expect_version: int,
    op: str = "rewrite",
    stats_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Replace ``replace`` (relative file names from the snapshot the
    caller read) with ``df`` — the COW-merge/compaction commit. NOT
    retryable: if any concurrent commit advanced the table past
    ``expect_version`` AND removed one of the files being replaced,
    the base snapshot is stale -> TxConflictError (caller re-reads).
    Concurrent APPENDS don't conflict (disjoint files) — the rewrite
    commits on top of them, up to 10 lost races. ``txn`` =
    (app_id, epoch) stamps the commit for :func:`last_committed_txn`
    replay detection."""
    files = _write_data_files(df, path)
    entry: dict = {"op": op, "add": files, "remove": list(replace)}
    if txn is not None:
        entry["txn"] = {"app": txn[0], "epoch": int(txn[1])}
    if stats_cols:
        entry["stats"] = _collect_file_stats(path, files, stats_cols)

    def unless_stale(head: int) -> dict:
        if head > expect_version:
            # someone committed since our snapshot: conflict iff they
            # removed any file we're replacing
            still_live = {
                _stored_name(path, f) for f in snapshot_files(path)
            }
            gone = [f for f in replace if f not in still_live]
            if gone:
                raise TxConflictError(
                    f"rewrite base is stale: {gone} removed by a concurrent commit"
                )
        return entry

    return _commit(path, op, unless_stale)


def _rewrite_retry(path: str, op: str, max_retries: int, attempt):
    """The copy-on-write retry loop: ``attempt(head)`` plans against
    the snapshot at ``head`` and commits through the module-level
    :func:`rewrite`; a ``TxConflictError`` (a concurrent commit removed
    a file the plan replaces) re-plans on the fresh head."""
    last_err: TxConflictError | None = None
    for _ in range(max_retries):
        head = (_versions(path) or [-1])[-1]
        if head < 0:
            raise ValueError(f"no tx table at {path}")
        try:
            return attempt(head)
        except TxConflictError as exc:
            last_err = exc
    raise TxConflictError(
        f"{op} lost {max_retries} commit races at {path}: {last_err}"
    )


def _touched_files(
    spark, path: str, head: int, candidates: list[str], match
) -> list[str]:
    """The files among ``candidates`` holding at least one row that
    ``match`` (a DataFrame -> DataFrame filter or semi-join over the
    candidates' rows plus their file name ``_f``) keeps: one pass over
    the candidates. Rows carry the LOGICAL schema (rename chain at
    ``head`` resolved), which predicates and merge keys target."""
    from pyspark.sql import functions as F

    if not candidates:
        return []
    rows = _apply_renames(
        spark.read.option("mergeSchema", "true").parquet(*candidates)
        .withColumn("_f", F.input_file_name()),
        path,
        head,
    )
    # input_file_name() yields file: URIs; the log stores plain paths
    # — normalize before diffing against it.
    return [
        re.sub(r"^file:/{0,2}(?=/)", "", r["_f"])
        for r in match(rows).select("_f").distinct().collect()
    ]


def _summary(version, touched: int, total: int, pruned: int, **extra) -> dict:
    """The summary dict the COW operations return."""
    return {
        "version": version,
        "files_touched": touched,
        "files_total": total,
        "files_skipped_by_stats": pruned,
        **extra,
    }


def read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = True,
) -> DataFrame:
    """Snapshot (or time-travel) read: hand Spark the exact file
    list, so pushdown/pruning work as on plain parquet.

    ``merge_schema`` (default on) unions the live files' footers, so
    a snapshot spanning an additive schema change (see :func:`append`)
    reads as the widest schema with NULLs for pre-evolution rows —
    the same reader-side resolution Delta/Iceberg perform from their
    logged schemas. Footer merging is a metadata job over the live
    file list only, not a data scan."""
    if version is not None and version < _vacuum_horizon(path):
        raise ValueError(
            f"version {version} is below the vacuum horizon "
            f"{_vacuum_horizon(path)} at {path}: its data files were reclaimed"
        )
    files = snapshot_files(path, version)
    if not files:
        raise ValueError(f"empty snapshot at {path} version={version}")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return _apply_renames(reader.parquet(*files), path, version)


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    max_retries: int = 3,
) -> int:
    """OPTIMIZE: rewrite the current snapshot's (typically many,
    small) data files into ``target_files`` compacted ones in ONE
    atomic commit — readers see either the old file set or the new
    one, never both, and time travel to pre-compaction versions keeps
    working (replaced files stay on disk, reachable via the log).

    Small files are the tax every log-structured table pays for
    streaming/trickle appends; at 100 TB an uncompacted table turns
    scans into open()-bound metadata storms. Concurrent APPENDS
    commute with the rewrite (disjoint files); a concurrent rewrite
    of the same base raises ``TxConflictError`` and is retried here
    against the fresh snapshot."""

    def attempt(head: int) -> int:
        rel = [_stored_name(path, f) for f in snapshot_files(path, head)]
        # read() yields the LOGICAL schema; fold back so compacted
        # files keep the physical-schema invariant (a concurrent
        # append of a pre-rename producer would otherwise mix
        # generations under mergeSchema).
        df = _unapply_renames(
            read(spark, path, version=head), path, head
        ).coalesce(target_files)
        return rewrite(df, path, rel, expect_version=head, op="compact")

    return _rewrite_retry(path, "compaction", max_retries, attempt)


def vacuum(path: str, grace_seconds: float = 3600.0) -> list[str]:
    """Delete orphan data files no log entry references (crashed
    writers' staging leftovers). Never touches referenced files, so
    time travel to every committed version keeps working.

    ``grace_seconds`` (default 1 h, Delta-style retention guard):
    unreferenced files YOUNGER than the window are kept — a concurrent
    writer stages its data files BEFORE committing the log entry, so
    an ungraced vacuum racing an in-flight append/rewrite would delete
    files the winning commit then references, tearing the table (r5
    advisor finding). The window makes the common race safe; running
    with ``grace_seconds=0`` requires the caller to guarantee no
    writer is active (same precondition as :func:`vacuum_retain`).

    Unpublished log-entry temp files (a writer killed inside
    :func:`_publish`) are removed by the same age rule; the returned
    list names data files only."""
    referenced: set[str] = set()
    for v in _versions(path):
        e = _read_entry(path, v)
        referenced.update(e.get("add", []))
    data_root = os.path.join(path, "data")
    now = time.time()

    def expired(full: str) -> bool:
        try:
            return now - os.path.getmtime(full) >= grace_seconds
        except OSError:
            return False  # racing writer renamed/removed it — skip

    removed = []
    for dirpath, _dirs, names in os.walk(data_root):
        for n in names:
            full = os.path.join(dirpath, n)
            rel = os.path.relpath(full, data_root)
            if n.endswith(".parquet") and rel not in referenced and expired(full):
                os.remove(full)
                removed.append(rel)
    log_dir = _log_dir(path)
    for n in os.listdir(log_dir) if os.path.isdir(log_dir) else []:
        full = os.path.join(log_dir, n)
        if n.startswith(".") and n.endswith(".tmp") and expired(full):
            with contextlib.suppress(FileNotFoundError):
                os.remove(full)
    return removed


def added_files_between(path: str, v_from: int, v_to: int) -> list[str]:
    """Data files added by commits in (v_from, v_to] and still live at
    v_to — the delta an incremental refresh scans instead of the whole
    table (incremental view maintenance over the log)."""
    before = set(snapshot_files(path, v_from))
    after = snapshot_files(path, v_to)
    return [f for f in after if f not in before]


def removed_files_between(path: str, v_from: int, v_to: int) -> list[str]:
    """Data files live at v_from but no longer live at v_to — the
    complement of :func:`added_files_between`; together they are the
    file-level change feed between two snapshots."""
    after = set(snapshot_files(path, v_to))
    return [f for f in snapshot_files(path, v_from) if f not in after]


def net_changes(
    spark: SparkSession, path: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Row-level NET change feed between two versions (Delta's change
    data feed in its merge-on-read form): scan ONLY the files the log
    says changed, count each row value +1 per added-file occurrence
    and -1 per removed-file occurrence, and keep the non-zero net —
    rows a rewrite merely copied from an old file to a new one cancel
    out, so compactions produce an EMPTY feed and a rewrite-with-
    delete produces exactly its deletions.

    Output: ``change`` ('insert'/'delete'), the row columns, and
    ``n`` (|net| multiplicity). Cost is O(changed files), not
    O(table) — at 100 TB an incremental consumer reads the commit
    delta, never the snapshot; the groupBy shuffles only changed-file
    rows on their full row value."""
    from pyspark.sql import functions as F

    if v_to is None:
        v_to = (_versions(path) or [-1])[-1]
    added = added_files_between(path, v_from, v_to)
    removed = removed_files_between(path, v_from, v_to)
    parts = []
    # Rename resolution (as in read()): a pre-rename removed file and
    # a post-rename added file carry different PHYSICAL names for the
    # same logical column; fold the chain on each side so copied rows
    # align under unionByName and cancel, and the feed exposes the
    # logical schema consumers filter on.
    if added:
        parts.append(
            _apply_renames(
                spark.read.option("mergeSchema", "true").parquet(*added),
                path,
                v_to,
            ).withColumn("_sign", F.lit(1).cast("long"))
        )
    if removed:
        parts.append(
            _apply_renames(
                spark.read.option("mergeSchema", "true").parquet(*removed),
                path,
                v_to,
            ).withColumn("_sign", F.lit(-1).cast("long"))
        )
    if not parts:
        raise ValueError(f"no changes between v{v_from} and v{v_to} at {path}")
    delta = parts[0]
    for p in parts[1:]:
        # Additive schema evolution: a pre-evolution removed file and a
        # post-evolution added file differ in columns; NULL-pad so the
        # widened row value is what nets (a copied row with extra=NULL
        # on both sides still cancels).
        delta = delta.unionByName(p, allowMissingColumns=True)
    cols = [c for c in delta.columns if c != "_sign"]
    net = (
        delta.groupBy(*cols)
        .agg(F.sum("_sign").alias("_net"))
        .filter(F.col("_net") != 0)
    )
    return net.select(
        F.when(F.col("_net") > 0, F.lit("insert"))
        .otherwise(F.lit("delete"))
        .alias("change"),
        *cols,
        F.abs(F.col("_net")).cast("long").alias("n"),
    )


def snapshot_row_count(path: str, version: int | None = None) -> int:
    """Metadata-only COUNT(*): sum the parquet footers' row counts
    over the snapshot's file list — no Spark job, no data pages read.
    This is the aggregate-pushdown-to-statistics path every lakehouse
    format serves count/min/max from; at 100 TB it answers in
    O(files) footer reads instead of a full scan."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in snapshot_files(path, version)
    )


def _fold_live_and_stats(
    path: str, version: int | None = None
) -> tuple[list[str], dict]:
    """ONE pass over the log reading each entry once: (live relative
    files in commit order, {rel -> {col: [min, max]}} for live files).
    snapshot_files + snapshot_file_stats separately would read every
    entry three times — on a long-lived table that triples the
    driver's metadata I/O per planned query."""
    versions = _versions(path)
    if version is not None:
        versions = [v for v in versions if v <= version]
        if not versions or versions[-1] != version:
            raise ValueError(f"version {version} does not exist at {path}")
    live: dict[str, None] = {}
    stats: dict[str, dict] = {}
    ck = _latest_checkpoint(path, versions[-1] if versions else None)
    if ck is not None:
        live = dict.fromkeys(ck[1]["live"])
        stats = dict(ck[1].get("stats", {}))
        versions = [v for v in versions if v > ck[0]]
    for v in versions:
        e = _read_entry(path, v)
        for f in e.get("add", []):
            live[f] = None
        for f in e.get("remove", []):
            live.pop(f, None)
        for rel, per in e.get("stats", {}).items():
            stats[rel] = per
    return list(live), {rel: per for rel, per in stats.items() if rel in live}


def snapshot_file_stats(path: str, version: int | None = None) -> dict:
    """{relative file -> {col: [min, max]}} for the snapshot's live
    files, folded from the log entries' logged stats (files committed
    without stats simply have no entry — they can never be pruned)."""
    return _fold_live_and_stats(path, version)[1]


def plan_pruned_files(
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Data skipping from the LOG's per-file stats: keep a file iff
    its [min, max] for ``col`` can overlap [lo, hi] — files without
    logged stats are always kept, so pruning has NO false negatives.
    Returns (files to scan, files skipped). Pure driver-side metadata
    work: at 100 TB this turns a point/range query on a clustered
    commit pattern into an O(matching files) scan, the same plan step
    Delta/Iceberg data skipping performs.

    ``col`` may be a LOGICAL (post-rename) or physical name: stats
    are consulted under every physical name that folds to it, so
    pruning keeps working across ``rename_column``."""
    live, stats = _fold_live_and_stats(path, version)
    cands = _physical_candidates(path, col, version)
    keep, skipped = [], 0
    for rel in live:
        per_file = stats.get(rel, {})
        disjoint = any(
            per is not None
            and (
                (hi is not None and per[0] > hi)
                or (lo is not None and per[1] < lo)
            )
            for per in (per_file.get(name) for name in cands)
        )
        if disjoint:
            skipped += 1
            continue
        keep.append(os.path.join(path, "data", rel))
    return keep, skipped


def read_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read planned through :func:`plan_pruned_files`. The
    range predicate is ALSO applied as a real filter (pruning is a
    superset guarantee, the filter is the semantics).

    ``col`` is the LOGICAL (post-rename) name: pruning consults the
    logged stats under every physical name that folds to it, and the
    returned DataFrame carries the same rename-resolved schema as
    :func:`read`."""
    from pyspark.sql import functions as F

    files, _ = plan_pruned_files(path, col, lo, hi, version)
    if not files:
        raise ValueError(f"no files overlap [{lo}, {hi}] at {path}")
    df = _apply_renames(
        spark.read.option("mergeSchema", "true").parquet(*files), path, version
    )
    if lo is not None:
        df = df.filter(F.col(col) >= lo)
    if hi is not None:
        df = df.filter(F.col(col) <= hi)
    return df


def version_at(path: str, ts: float) -> int:
    """Latest version committed at or before wall-clock ``ts`` — the
    ``AS OF TIMESTAMP`` resolution step (commit timestamps are logged
    with each entry; pre-timestamp legacy entries count as t=0)."""
    best = None
    running = 0.0
    for v in _versions(path):
        running = max(running, float(_read_entry(path, v).get("ts", 0.0)))
        if running <= ts:
            best = v
    if best is None:
        raise ValueError(f"no commit at or before ts={ts} at {path}")
    return best


def read_as_of(spark: SparkSession, path: str, ts: float) -> DataFrame:
    """Time travel by TIMESTAMP: snapshot as of wall-clock ``ts``."""
    return read(spark, path, version=version_at(path, ts))


class TxCheckViolation(RuntimeError):
    """A CHECK constraint rejected the rows of an attempted commit."""


def append_checked(
    df: DataFrame,
    path: str,
    check: str,
    max_retries: int = 10,
    stats_cols: list[str] | None = None,
) -> int:
    """Constraint-enforced append (Delta's CHECK constraints / write-path
    expectations): the commit is REFUSED — nothing staged, nothing
    logged — unless every incoming row satisfies the SQL predicate
    ``check``. Validation is one distributed count of violations
    (predicate pushdown applies), so the gate costs a scan of the
    DELTA only, never the table."""
    from pyspark.sql import functions as F

    n_bad = df.filter(~F.expr(check)).count()
    if n_bad:
        raise TxCheckViolation(
            f"{n_bad} row(s) violate CHECK ({check}); commit refused"
        )
    return append(df, path, max_retries=max_retries, stats_cols=stats_cols)


def optimize_zorder(
    spark: SparkSession,
    path: str,
    zorder_cols: list[str],
    target_files: int = 8,
    max_retries: int = 3,
) -> int:
    """OPTIMIZE ZORDER BY: one atomic rewrite that re-clusters the
    snapshot along the Morton curve of ``zorder_cols`` AND logs
    per-file min/max for them — after it, range predicates on ANY of
    the clustered dimensions prune files from the log (a 1-d sort
    only serves its leading column). Same optimistic-concurrency
    story as ``compact``: concurrent appends commute, a lost rewrite
    race retries on the fresh snapshot, and time travel to the
    pre-optimize layout keeps working.

    This is the recluster job a 100 TB table runs periodically so
    that the dominant 2-3 predicate columns all get file-level
    skipping; cost is one full read + range-partitioned write, all
    distributed (the min/max normalization is a one-row aggregate)."""
    from dss_nlp_ingestion_spark.sources.layout import (
        ZORDER_BITS,
        _normalize_to_bits,
        morton_interleave,
    )
    from pyspark.sql import functions as F

    def attempt(head: int) -> int:
        rel = [_stored_name(path, f) for f in snapshot_files(path, head)]
        df = read(spark, path, version=head)
        stats = df.agg(
            *[F.min(c).alias(f"_min_{c}") for c in zorder_cols],
            *[F.max(c).alias(f"_max_{c}") for c in zorder_cols],
        ).collect()[0]
        normed = [
            _normalize_to_bits(
                F.col(c),
                F.lit(stats[f"_min_{c}"]),
                F.lit(stats[f"_max_{c}"]),
                ZORDER_BITS,
            )
            for c in zorder_cols
        ]
        clustered = (
            df.withColumn("_z", morton_interleave(normed, ZORDER_BITS))
            .repartitionByRange(target_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        return rewrite(
            _unapply_renames(clustered, path, head),
            path,
            rel,
            expect_version=head,
            op="zorder",
            stats_cols=_physical_stats_cols(path, list(zorder_cols), head),
        )

    return _rewrite_retry(path, "zorder", max_retries, attempt)


def vacuum_retain(path: str, horizon_version: int) -> dict:
    """Retention VACUUM (the Delta `VACUUM RETAIN` semantics, by
    version rather than wall-clock): physically delete data files
    that are not live in ANY snapshot >= ``horizon_version``, and
    record the horizon so time travel below it fails loudly instead
    of returning a torn snapshot. Commits (the log itself) are kept —
    history/audit stays readable; only pre-horizon DATA reachability
    is given up. Returns {"removed": [...], "horizon": v}.

    This is the storage-reclaim lever a 100 TB log-structured table
    must have: without it every rewrite/compaction doubles storage
    forever. Driver-side metadata fold + unlink; never touches files
    any retained snapshot references."""
    versions = _versions(path)
    if horizon_version not in versions:
        raise ValueError(f"horizon {horizon_version} is not a version at {path}")
    keep: set[str] = set()
    for v in versions:
        if v >= horizon_version:
            keep.update(
                _stored_name(path, f) for f in snapshot_files(path, v)
            )
    # Only files the LOG references are candidates: a staged-but-not-
    # yet-committed file of an in-flight writer is invisible to the
    # log and MUST survive (deleting it would tear the table the
    # moment that writer wins its commit). Orphan cleanup remains
    # vacuum()'s job, to be run only when no writers are active.
    referenced: set[str] = set()
    for v in versions:
        referenced.update(_read_entry(path, v).get("add", []))
    removed = []
    data_root = os.path.join(path, "data")
    for rel in sorted(referenced - keep):
        # A shallow clone logs ANOTHER table's files by absolute path;
        # os.path.join passes those through untouched, so without this
        # guard a clone's vacuum would delete the SOURCE table's live
        # data. Reclaim only files physically under THIS table's root.
        if os.path.isabs(rel):
            continue
        full = os.path.join(data_root, rel)
        try:
            os.remove(full)
            removed.append(rel)
        except FileNotFoundError:
            pass
    # persist the horizon (not put-if-absent: monotone max, last writer wins)
    hpath = os.path.join(_log_dir(path), "_vacuum_horizon")
    prev = -1
    try:
        with open(hpath) as fh:
            prev = int(fh.read().strip() or -1)
    except (OSError, ValueError):
        pass
    effective = max(prev, horizon_version)
    with open(hpath, "w") as fh:
        fh.write(str(effective))
    return {"removed": sorted(removed), "horizon": effective}


def _vacuum_horizon(path: str) -> int:
    try:
        with open(os.path.join(_log_dir(path), "_vacuum_horizon")) as fh:
            return int(fh.read().strip() or -1)
    except (OSError, ValueError):
        return -1


def tag(path: str, name: str, version: int | None = None) -> int:
    """Create/overwrite a named TAG pointing at ``version`` (default
    head) — the lakeFS/Nessie-style stable ref ('prod', 'eval-v2')
    that decouples consumers from version numbers. Tags are tiny
    files under _txlog/tags/; resolution is one read."""
    import re

    if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
        raise ValueError(f"invalid tag name {name!r}")
    if version is None:
        version = (_versions(path) or [-1])[-1]
    if version < 0 or version not in _versions(path):
        raise ValueError(f"version {version} does not exist at {path}")
    tags_dir = os.path.join(_log_dir(path), "tags")
    os.makedirs(tags_dir, exist_ok=True)
    tmp = os.path.join(tags_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(tags_dir, name))  # atomic overwrite
    return version


def resolve_tag(path: str, name: str) -> int:
    try:
        with open(os.path.join(_log_dir(path), "tags", name)) as fh:
            return int(fh.read().strip())
    except OSError as exc:
        raise ValueError(f"no tag {name!r} at {path}") from exc


def read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Snapshot read through a named tag."""
    return read(spark, path, version=resolve_tag(path, name))


def snapshot_col_minmax(path: str, col: str, version: int | None = None):
    """Metadata-only MIN/MAX over the snapshot, served from the
    commit-logged file stats (falling back to parquet footers for
    statless files) — the other aggregate the lakehouse answers
    without scanning data pages. Returns (min, max)."""
    import pyarrow.parquet as pq

    stats = snapshot_file_stats(path, version)
    lo = hi = None
    for f in snapshot_files(path, version):
        rel = _stored_name(path, f)
        per = stats.get(rel, {}).get(col)
        if per is None:
            if pq.ParquetFile(f).metadata.num_rows == 0:
                continue  # empty part file: contributes nothing
            per_map = _collect_file_stats(path, [rel], [col]).get(rel, {})
            per = per_map.get(col)
            if per is None:
                raise ValueError(
                    f"no min/max statistics derivable for {col!r} in {rel}"
                )
        lo = per[0] if lo is None else min(lo, per[0])
        hi = per[1] if hi is None else max(hi, per[1])
    if lo is None:
        raise ValueError(f"empty snapshot at {path}")
    return lo, hi


def register_catalog(spark: SparkSession, tables: dict) -> None:
    """SQL front door for tx tables: register each {view_name: path}
    as a temp view through the format('txlog') data source, so
    ``spark.sql`` consumers query log-structured tables by name with
    snapshot isolation."""
    from dss_nlp_ingestion_spark.sources.txlog_datasource import TxLogDataSource

    spark.dataSource.register(TxLogDataSource)
    for name, p in tables.items():
        spark.read.format("txlog").option("path", p).load().createOrReplaceTempView(
            name
        )


def append_feed_files_between(path: str, v_from: int, v_to: int) -> list[str]:
    """Files carrying NEW rows committed in (v_from, v_to]: the add
    sets of create/append/overwrite entries only. Rewrite-family
    commits (compact / zorder / delete / COW merge) reshuffle or
    remove EXISTING rows — walking the raw file diff would re-deliver
    every copied row (the compaction-replay bug); an append feed must
    walk the LOG's operations instead. Files here may already be
    replaced in the latest snapshot but remain on disk and readable
    until a retention vacuum passes them — the same CDF-retention
    coupling Delta documents."""
    out = []
    for v in _versions(path):
        if v_from < v <= v_to:
            e = _read_entry(path, v)
            if e.get("op") in ("create", "append", "overwrite"):
                out.extend(os.path.join(path, "data", f) for f in e.get("add", []))
    return out


def merge_into_table(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
    insert_only: bool = False,
    stats_cols: list[str] | None = None,
    max_retries: int = 3,
    txn: tuple[str, int] | None = None,
    null_safe: bool = False,
) -> dict:
    """ACID ``MERGE INTO`` on a tx table — the Delta/Iceberg merge
    plan re-expressed over this log: (1) PRUNE candidate files from
    the commit-logged key stats (driver-side metadata, no scan),
    (2) FIND the exact touched files with one semi-join of candidates
    against the source keys (files whose rows can never match are
    never rewritten), (3) rewrite ONLY the touched files through the
    COW join in :mod:`..operators.merge`, committed atomically with
    ``rewrite``; a source with no matches anywhere degrades to a
    blind (retryable) append. Cost is O(files holding matched keys) +
    O(source), not O(table) — the property that makes MERGE usable at
    100 TB (reference's upsert analog: ES ``_id``-keyed bulk index,
    src/base.py:239-253, which rewrites documents, never the store).

    Isolation matches Delta's default WriteSerializable: concurrent
    blind appends commute with the merge commit (their rows were not
    in our snapshot and no file conflicts arise); a concurrent rewrite
    of a touched file raises ``TxConflictError`` and the merge retries
    against the fresh snapshot, recomputing its file plan.

    ``delete_col`` names a boolean tombstone column on ``source``
    (WHEN MATCHED AND <flag> THEN DELETE); ``insert_only`` keeps
    matched target rows (replicate-if-absent). ``null_safe`` compares
    keys with ``<=>`` — for GROUP-BY-keyed callers (matview refresh)
    where NULL is an ordinary key value; it also disables stat
    pruning when the source carries a NULL key, because parquet
    min/max stats ignore NULLs, so a file holding NULL-keyed rows can
    sit outside every stats range. Returns a summary dict:
    version committed, files touched/total/stat-skipped, and whether
    the commit degraded to an append."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from dss_nlp_ingestion_spark.operators.merge import (
        merge_into,
        merge_into_with_delete,
    )

    def semi_join(rows: DataFrame) -> DataFrame:
        cand = rows.select(*key_cols, "_f")
        src_keys = source.select(
            *[F.col(k).alias(f"_sk_{k}") for k in key_cols]
        ).distinct()
        eq = [(cand[k], src_keys[f"_sk_{k}"]) for k in key_cols]
        sem = reduce(
            lambda a, b: a & b,
            [t.eqNullSafe(s) if null_safe else t == s for t, s in eq],
        )
        return cand.join(src_keys, sem, "left_semi")

    def attempt(head: int) -> dict:
        if txn is not None and last_committed_txn(path, txn[0]) >= txn[1]:
            return _summary(head, 0, 0, 0, appended=False, skipped=True)
        live = snapshot_files(path, head)
        pruned = 0
        candidates = live
        if len(key_cols) == 1:
            key = key_cols[0]
            # One aggregate job yields the pruning bounds AND (for the
            # null-safe path) whether any source key is NULL — min/max
            # ignore NULLs, so NULL presence needs its own flag.
            bounds = source.agg(
                F.min(key).alias("lo"),
                F.max(key).alias("hi"),
                F.max(F.col(key).isNull().cast("int")).alias("has_null"),
            ).collect()[0]
            source_has_null_key = bool(bounds["has_null"])
            if bounds["lo"] is not None and not (
                null_safe and source_has_null_key
            ):
                candidates, pruned = plan_pruned_files(
                    path, key, bounds["lo"], bounds["hi"], version=head
                )
        # Source keys target the LOGICAL schema — the touched-file scan
        # resolves the rename chain before matching (r6 review finding).
        touched = _touched_files(spark, path, head, candidates, semi_join)
        if not touched:
            # No key matches anywhere: pure insert, commutes with
            # every concurrent commit -> blind retryable append.
            # Fold back to the PHYSICAL schema so appended data files
            # keep the invariant every snapshot reader resolves from.
            inserts = _unapply_renames(source, path, head)
            if delete_col is not None:
                inserts = inserts.filter(
                    ~F.coalesce(F.col(delete_col), F.lit(False))
                ).drop(delete_col)
            if inserts.isEmpty():
                v = head
                if txn is not None:
                    # the watermark must still advance: commit a
                    # metadata-only stamped entry, else CDC/matview
                    # consumers re-scan an ever-growing source window
                    v = append_txn(inserts.limit(0), path, txn[0], txn[1])
                return _summary(
                    head if v is None else v, 0, len(live), pruned,
                    appended=False, skipped=v is None,
                )
            phys_stats = _physical_stats_cols(path, stats_cols, head)
            if txn is not None:
                v = append_txn(
                    inserts, path, txn[0], txn[1], stats_cols=phys_stats
                )
            else:
                v = append(inserts, path, stats_cols=phys_stats)
            return _summary(
                v, 0, len(live), pruned, appended=True, skipped=v is None
            )
        target_touched = _apply_renames(
            spark.read.option("mergeSchema", "true").parquet(*touched), path, head
        )
        if delete_col is not None:
            merged = merge_into_with_delete(
                target_touched, source, key_cols, delete_col,
                null_safe=null_safe,
            )
        else:
            merged = merge_into(
                target_touched, source, key_cols, insert_only=insert_only,
                null_safe=null_safe,
            )
        v = rewrite(
            _unapply_renames(merged, path, head),
            path,
            [_stored_name(path, f) for f in touched],
            expect_version=head,
            op="merge",
            stats_cols=_physical_stats_cols(path, stats_cols, head),
            txn=txn,
        )
        return _summary(
            v, len(touched), len(live), pruned, appended=False, skipped=False
        )

    # r12 (guide §5): the merge consumes ``source`` three times —
    # the pruning-bounds aggregate, the touched-file semi-join, and
    # the COW rewrite itself — and for incremental callers (CDC
    # replication, matview refresh) ``source`` is a whole
    # net-changes pipeline (changed-file scan + full-row groupBy)
    # that re-ran per consumer. Persist it for the duration of the
    # merge: it is O(commit delta) by the operator's own cost model,
    # never O(table), and the split timer showed the re-computation
    # was ~70% of the CDC probe where the tag said "write IO".
    # A source the caller already cached is used as is and stays
    # cached; only a cache this call made is released below.
    cache_here = source.storageLevel == StorageLevel.NONE
    if cache_here:
        source.persist()
    try:
        return _rewrite_retry(path, "merge", max_retries, attempt)
    finally:
        if cache_here:
            source.unpersist()


def last_committed_txn(path: str, app_id: str) -> int:
    """Highest ``epoch`` committed for ``app_id`` — the reader half of
    Delta's txnAppId/txnVersion idempotent-writer protocol. -1 when
    the app never committed. O(log) driver-side metadata walk."""
    best = -1
    for v in _versions(path):
        t = _read_entry(path, v).get("txn")
        if t and t.get("app") == app_id:
            best = max(best, int(t.get("epoch", -1)))
    return best


def append_txn(
    df: DataFrame,
    path: str,
    app_id: str,
    epoch: int,
    stats_cols: list[str] | None = None,
    max_retries: int = 10,
) -> int | None:
    """Idempotent append: commit ``df`` tagged (app_id, epoch); if a
    commit from ``app_id`` with epoch >= ``epoch`` already exists the
    write is SKIPPED (returns None) — a replayed micro-batch lands
    zero rows. Assumes one live writer per app_id at a time (the
    streaming-driver contract Delta documents for txnAppId); the data
    staging happens only after the skip check, so replays cost one
    metadata walk, no parquet write. Like :func:`append`, ``df`` and
    ``stats_cols`` are logical-schema and folded to the physical
    column names before the write."""
    if last_committed_txn(path, app_id) >= epoch:
        return None
    renames = _folded_renames(path)  # ONE metadata walk per append
    df = _unapply_renames_checked(df, path, renames=renames)
    files = _write_data_files(df, path)
    entry: dict = {
        "op": "append",
        "add": files,
        "remove": [],
        "txn": {"app": app_id, "epoch": int(epoch)},
    }
    if stats_cols:
        entry["stats"] = _collect_file_stats(
            path, files, _physical_stats_cols(path, stats_cols, renames=renames)
        )
    return _commit(path, "append_txn", entry, max_retries)


def delete_from_table(
    spark: SparkSession,
    path: str,
    predicate: str,
    prune_col: str | None = None,
    prune_lo=None,
    prune_hi=None,
    stats_cols: list[str] | None = None,
    max_retries: int = 3,
) -> dict:
    """SQL ``DELETE FROM t WHERE predicate`` on a tx table, the Delta
    COW plan: (1) prune candidate files from commit-logged stats when
    the caller supplies the predicate's column range (no false
    negatives — statless files always scan), (2) one pass finds the
    exact files CONTAINING matching rows, (3) only those files are
    rewritten without their matching rows, atomically. Files with no
    matches are never read again, never rewritten. ``predicate`` is a
    SQL expression string evaluated by Spark (same text can run in
    the oracle)."""
    from pyspark.sql import functions as F

    return _rewrite_where(
        spark, path, "delete", predicate, (prune_col, prune_lo, prune_hi),
        stats_cols, max_retries,
        lambda tgt: tgt.filter(~F.expr(predicate)),
    )


def update_table(
    spark: SparkSession,
    path: str,
    predicate: str,
    set_exprs: dict[str, str],
    prune_col: str | None = None,
    prune_lo=None,
    prune_hi=None,
    stats_cols: list[str] | None = None,
    max_retries: int = 3,
) -> dict:
    """SQL ``UPDATE t SET col = expr WHERE predicate``: same
    file-pruned COW plan as :func:`delete_from_table`, but touched
    files are rewritten with matching rows transformed (non-matching
    rows in those files are carried unchanged)."""
    from pyspark.sql import functions as F

    def updated(tgt: DataFrame) -> DataFrame:
        unknown = set(set_exprs) - set(tgt.columns)
        if unknown:
            raise ValueError(
                f"UPDATE SET refers to non-existent columns {sorted(unknown)} "
                f"(table has {tgt.columns})"
            )
        match = F.expr(predicate)
        return tgt.select(
            *[
                (
                    F.when(match, F.expr(set_exprs[c])).otherwise(F.col(c))
                    if c in set_exprs
                    else F.col(c)
                ).alias(c)
                for c in tgt.columns
            ]
        )

    return _rewrite_where(
        spark, path, "update", predicate, (prune_col, prune_lo, prune_hi),
        stats_cols, max_retries, updated,
    )


def _rewrite_where(
    spark, path, op, predicate, prune, stats_cols, max_retries, transform
) -> dict:
    """The file-pruned COW plan shared by DELETE and UPDATE: the files
    holding a row that matches ``predicate`` (after stats pruning on
    ``prune`` = (col, lo, hi) when col is set) are rewritten as
    ``transform`` of their rows. Predicates and ``transform`` target
    the LOGICAL schema (r5 advisor — raw parquet exposes physical
    names)."""
    from pyspark.sql import functions as F

    prune_col, prune_lo, prune_hi = prune

    def attempt(head: int) -> dict:
        live = snapshot_files(path, head)
        pruned = 0
        candidates = live
        if prune_col is not None:
            candidates, pruned = plan_pruned_files(
                path, prune_col, prune_lo, prune_hi, version=head
            )
        touched = _touched_files(
            spark, path, head, candidates,
            lambda rows: rows.filter(F.expr(predicate)),
        )
        if not touched:
            return _summary(head, 0, len(live), pruned)
        tgt = _apply_renames(
            spark.read.option("mergeSchema", "true").parquet(*touched), path, head
        )
        v = rewrite(
            _unapply_renames(transform(tgt), path, head),
            path,
            [_stored_name(path, f) for f in touched],
            expect_version=head,
            op=op,
            stats_cols=_physical_stats_cols(path, stats_cols, head),
        )
        return _summary(v, len(touched), len(live), pruned)

    return _rewrite_retry(path, op, max_retries, attempt)


# ---------------------------------------------------------------------------
# Log checkpointing: O(entries-since-checkpoint) state replay
# ---------------------------------------------------------------------------

_CKPT_RE = re.compile(r"^(\d{8})\.checkpoint\.json$")


def _latest_checkpoint(path: str, version: int | None = None):
    """(checkpoint_version, payload) of the newest checkpoint at or
    below ``version`` (head when None), or None. Unreadable/partial
    checkpoints are skipped — a checkpoint is ALWAYS a pure
    optimization, never required for correctness."""
    try:
        names = os.listdir(_log_dir(path))
    except FileNotFoundError:
        return None
    cands = sorted(
        (int(m.group(1)) for n in names if (m := _CKPT_RE.match(n))),
        reverse=True,
    )
    for v in cands:
        if version is not None and v > version:
            continue
        try:
            with open(os.path.join(_log_dir(path), f"{v:08d}.checkpoint.json")) as fh:
                payload = json.load(fh)
            if payload.get("version") == v:
                return v, payload
        except (OSError, ValueError):
            continue
    return None


def checkpoint_log(path: str) -> int:
    """Write a checkpoint of the CURRENT head's folded state (live
    file set + their stats) — Delta's 10-commit checkpoint mechanism:
    afterwards every snapshot/stats fold replays only entries NEWER
    than the checkpoint, so planning cost stays O(recent commits)
    instead of O(table lifetime) on a long-lived streaming table.
    Written to a temp file + atomic rename; readers that race the
    rename simply use the previous checkpoint. Returns the
    checkpointed version."""
    head = (_versions(path) or [-1])[-1]
    if head < 0:
        raise ValueError(f"no tx table at {path}")
    live, stats = _fold_live_and_stats(path, head)
    payload = {
        "version": head,
        "live": live,
        "stats": stats,
        # Folded rename chain at the checkpoint: lets _folded_renames
        # (on EVERY snapshot read and rename-folding write) replay
        # only post-checkpoint entries instead of the whole log —
        # same O(recent) bound the live-set fold already has.
        "renames": [list(t) for t in _folded_renames(path, head)],
    }
    final = os.path.join(_log_dir(path), f"{head:08d}.checkpoint.json")
    tmp = final + f".tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, final)
    return head


def restore_table(path: str, version: int, max_retries: int = 10) -> int:
    """Delta ``RESTORE TABLE t TO VERSION AS OF v``: commit a new
    entry whose live set is exactly the target snapshot's (add files
    live then but not now, remove files live now but not then). Pure
    metadata — NO data is copied or rewritten; history is preserved
    (the restore is itself a commit, so it can be restored away).
    Fails if the target is below the vacuum horizon (its files may be
    reclaimed)."""
    if version < _vacuum_horizon(path):
        raise ValueError(
            f"cannot restore to {version}: below vacuum horizon "
            f"{_vacuum_horizon(path)} at {path}"
        )
    # raises ValueError when ``version`` (so the table) does not exist
    target = {_stored_name(path, f) for f in snapshot_files(path, version)}

    def entry(head: int) -> dict:
        current = {
            _stored_name(path, f) for f in snapshot_files(path, head)
        }
        return {
            "op": "restore",
            "add": sorted(target - current),
            "remove": sorted(current - target),
            "restore_of": version,
        }

    return _commit(path, "restore", entry, max_retries)


def clone_table(src_path: str, dst_path: str, version: int | None = None) -> int:
    """Delta SHALLOW CLONE: create a NEW tx table whose version 0
    references the source snapshot's data files by absolute path —
    zero data copied, O(files) metadata. The clone then evolves
    independently (its own log; appends/merges land under its own
    data/ dir). Contract (same as Delta): the source must not VACUUM
    past the cloned version while the clone lives — document-level
    coupling, checked lazily at read time by the missing-file error."""
    if _versions(dst_path):
        raise FileExistsError(f"tx table already exists at {dst_path}")
    if version is not None and version < _vacuum_horizon(src_path):
        raise ValueError(
            f"cannot clone {src_path} at version {version}: below its "
            f"vacuum horizon {_vacuum_horizon(src_path)} (data reclaimed)"
        )
    src_files = snapshot_files(src_path, version)
    # store absolute paths: snapshot_files only path-joins relative
    # names, and os.path.join passes absolute components through.
    entry = {"op": "clone", "add": src_files, "remove": [],
             "clone_of": {"path": src_path, "version": version}}
    stats_src = snapshot_file_stats(src_path, version)
    data_root = os.path.join(src_path, "data")
    stats = {
        os.path.join(data_root, rel): per for rel, per in stats_src.items()
    }
    if stats:
        entry["stats"] = stats
    if not _try_commit(dst_path, 0, entry):
        raise FileExistsError(f"concurrent create at {dst_path}")
    return 0


def replicate_incremental(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key_cols: list[str],
    stats_cols: list[str] | None = None,
) -> dict:
    """Incremental CDC replication between tx tables: apply the
    SOURCE's net row changes since the replica's last applied source
    version, through the file-pruned ACID merge. The applied-version
    watermark needs no side store — it IS the idempotent-writer stamp
    (app = 'cdc', epoch = source version) in the REPLICA's own log,
    so replication is exactly-once under retries and crash-replays by
    the same mechanism as the streaming sink. Cost per cycle:
    O(source commit delta) + O(replica files holding changed keys) —
    a 100 TB replica follows a busy source by reading neither table
    in full. The replica must be initialized from the source (clone
    or create from a snapshot read) so the watermark baseline is the
    cloned version."""
    from pyspark.sql import functions as F

    app = "cdc"
    v_to = (_versions(src_path) or [-1])[-1]
    v_from = last_committed_txn(dst_path, app)
    if v_from < 0:
        # baseline: the version the replica was initialized from
        e0 = _read_entry(dst_path, 0)
        clone_of = e0.get("clone_of") or {}
        if clone_of.get("path") != src_path:
            raise ValueError(
                f"replica {dst_path} was not initialized from {src_path}; "
                "clone_table it first or seed a cdc txn stamp"
            )
        v_from = clone_of.get("version")
        if v_from is None:
            v_from = 0
    if v_from >= v_to:
        return {"applied_from": v_from, "applied_to": v_from, "skipped": True}
    try:
        ch = net_changes(spark, src_path, v_from, v_to)
    except ValueError:
        # commits in the window touched no files (restore-to-self,
        # empty micro-batch append): advance the watermark only
        append_txn(
            txlog_empty_like(spark, dst_path), dst_path, app, v_to
        )
        return {"applied_from": v_from, "applied_to": v_to, "skipped": False}
    cols = [c for c in ch.columns if c not in ("change", "n")]
    ins = ch.filter(F.col("change") == "insert").select(*cols).withColumn(
        "_cdc_del", F.lit(False)
    )
    dels = (
        ch.filter(F.col("change") == "delete")
        .join(
            ch.filter(F.col("change") == "insert").select(*key_cols),
            key_cols,
            "left_anti",
        )
        .select(*cols)
        .withColumn("_cdc_del", F.lit(True))
    )
    res = merge_into_table(
        spark,
        dst_path,
        ins.unionByName(dels),
        key_cols,
        delete_col="_cdc_del",
        stats_cols=stats_cols,
        txn=(app, v_to),
    )
    return {"applied_from": v_from, "applied_to": v_to, "skipped": res["skipped"]}


def maybe_compact(
    spark: SparkSession, path: str, max_live_files: int = 16
) -> int | None:
    """Compaction POLICY: OPTIMIZE only when the live file count
    exceeds ``max_live_files`` (the small-file tax a streaming sink
    accrues). Returns the commit version or None if under threshold.
    Call after drains/refresh cycles; the check is one metadata fold."""
    if len(snapshot_files(path)) <= max_live_files:
        return None
    return compact(spark, path, target_files=max(1, max_live_files // 4))


def maybe_checkpoint(path: str, every_n_commits: int = 10) -> int | None:
    """Checkpoint POLICY (Delta's default cadence): write a log
    checkpoint when >= ``every_n_commits`` entries accumulated since
    the newest one. Returns the checkpointed version or None."""
    head = (_versions(path) or [-1])[-1]
    if head < 0:
        return None
    ck = _latest_checkpoint(path)
    since = head - (ck[0] if ck else -1)
    if since < every_n_commits:
        return None
    return checkpoint_log(path)


def txlog_empty_like(spark: SparkSession, path: str) -> DataFrame:
    """Zero-row DataFrame with ``path``'s current schema — the body of
    a metadata-only (watermark-advancing) commit."""
    return read(spark, path).limit(0)


def rename_column(path: str, old: str, new: str, max_retries: int = 10) -> int:
    """Delta column-mapping-style RENAME without rewriting a byte:
    commit a metadata entry recording physical->logical name mapping;
    :func:`read` applies the folded mapping after the parquet scan.
    Chained renames compose (a->b then b->c reads physical a as c);
    time travel below the rename sees the old name. O(1) metadata."""
    if not _versions(path):
        raise ValueError(f"no tx table at {path}")
    entry = {"op": "rename", "add": [], "remove": [], "rename": [old, new]}
    return _commit(path, "rename", entry, max_retries)


def _folded_renames(path: str, version: int | None = None) -> list[tuple[str, str]]:
    """Rename chain up to ``version`` in commit order. Resumes from
    the latest checkpoint's folded chain when one exists (pre-r7
    checkpoints lack the "renames" key and fall back to a full log
    replay), so the per-read/per-append metadata cost stays O(recent
    commits) on long-lived streaming tables."""
    versions = _versions(path)
    if version is not None:
        versions = [v for v in versions if v <= version]
    out: list[tuple[str, str]] = []
    ck = _latest_checkpoint(path, versions[-1] if versions else None)
    if ck is not None and "renames" in ck[1]:
        out = [tuple(r) for r in ck[1]["renames"]]
        versions = [v for v in versions if v > ck[0]]
    for v in versions:
        r = _read_entry(path, v).get("rename")
        if r:
            out.append((r[0], r[1]))
    return out


def _apply_renames(df: DataFrame, path: str, version: int | None = None) -> DataFrame:
    """Fold the rename chain onto a raw-parquet DataFrame — the same
    logical-schema resolution :func:`read` performs; every other
    snapshot reader must apply it too or it exposes physical column
    names (r5 advisor finding on read_pruned/net_changes)."""
    for old_name, new_name in _folded_renames(path, version):
        df = df.withColumnRenamed(old_name, new_name)
    return df


def _unapply_renames(
    df: DataFrame,
    path: str,
    version: int | None = None,
    renames: list | None = None,
) -> DataFrame:
    """Inverse of :func:`_apply_renames`: fold a LOGICAL-schema
    DataFrame back to the physical column names, so COW rewrites
    (delete/update) keep data files in the physical schema every
    snapshot reader resolves from. ``renames`` short-circuits the
    metadata walk when the caller already folded the chain."""
    chain = _folded_renames(path, version) if renames is None else renames
    for old_name, new_name in reversed(chain):
        df = df.withColumnRenamed(new_name, old_name)
    return df


def _unapply_renames_checked(
    df: DataFrame, path: str, renames: list | None = None
) -> DataFrame:
    """:func:`_unapply_renames` for PUBLIC write entry points: rejects
    a DataFrame carrying MORE THAN ONE name from the same rename
    chain (folding would create duplicate physical columns). The
    guard walks the TRANSITIVE closure — after v->label->tag, a frame
    carrying 'v' and 'tag' collides even though no single rename
    entry pairs them (r7 review finding). No-op for already-physical
    input, so internal pre-folded callers stay idempotent."""
    chain = _folded_renames(path) if renames is None else renames
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for old_name, new_name in chain:
        parent[find(new_name)] = find(old_name)
    groups: dict[str, set[str]] = {}
    for name in parent:
        groups.setdefault(find(name), set()).add(name)
    cols = set(df.columns)
    for g in groups.values():
        hit = sorted(g & cols)
        if len(hit) > 1:
            raise ValueError(
                f"append to {path}: DataFrame carries {hit} — multiple "
                f"generations of the same renamed column; drop or "
                f"rename all but one before writing"
            )
    return _unapply_renames(df, path, renames=chain)


def _physical_stats_cols(
    path: str,
    stats_cols: list[str] | None,
    version: int | None = None,
    renames: list | None = None,
) -> list[str] | None:
    """Map LOGICAL stats column names to the PHYSICAL names the data
    files (and so the parquet footers) actually carry — a rename-
    unaware lookup would silently log no stats and disable pruning."""
    if not stats_cols:
        return stats_cols
    return [
        _physical_candidates(path, c, version, renames=renames)[-1]
        for c in stats_cols
    ]


def _physical_candidates(
    path: str, col: str, version: int | None = None, renames: list | None = None
) -> list[str]:
    """Every physical column name that folds to LOGICAL ``col`` at
    ``version``, newest first: a file written before rename a->b
    stores (and logged stats under) ``a``; one written after stores
    ``b``. Pruning must consult whichever name the file actually
    carries."""
    names = [col]
    cur = col
    chain = _folded_renames(path, version) if renames is None else renames
    for old_name, new_name in reversed(chain):
        if cur == new_name:
            cur = old_name
            names.append(old_name)
    return names


def read_pruned_multi(
    spark: SparkSession,
    path: str,
    ranges: dict,
    version: int | None = None,
) -> DataFrame:
    """Multi-column data skipping: keep a file only if EVERY
    ``{col: (lo, hi)}`` range can overlap its logged stats (AND of
    per-column pruning — the multi-dimensional planning step Z-ordered
    layouts exist to serve). Statless files/columns are always kept
    (no false negatives); the ranges are also applied as real
    filters. Columns are LOGICAL names: stats are consulted under
    every physical name that folds to each, and the result carries
    :func:`read`'s rename-resolved schema."""
    from pyspark.sql import functions as F

    live, stats = _fold_live_and_stats(path, version)
    cands = {col: _physical_candidates(path, col, version) for col in ranges}
    keep = []
    for rel in live:
        ok = True
        for col, (lo, hi) in ranges.items():
            disjoint = any(
                per is not None
                and (
                    (hi is not None and per[0] > hi)
                    or (lo is not None and per[1] < lo)
                )
                for per in (
                    stats.get(rel, {}).get(name) for name in cands[col]
                )
            )
            if disjoint:
                ok = False
                break
        if ok:
            keep.append(os.path.join(path, "data", rel))
    if not keep:
        raise ValueError(f"no files overlap {ranges} at {path}")
    df = _apply_renames(
        spark.read.option("mergeSchema", "true").parquet(*keep), path, version
    )
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
    return df
