"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytics,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from
``--seed``, sets up a session with ``session.get_spark`` on
``local[<nproc>]`` (timed as ``setup_s``), runs one cold pass, then
steady passes for ``--seconds`` with one closed-loop client, checks
every delivered result outside the timed region, and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced steady passes and reports the per-layer metrics of
the traced ones (spans, Spark job/stage/SQL metrics joined by job
group, txlog counters), their self time per layer and the tracing
overhead. A full record (host, input shape, every operation, spans)
is written to ``.perfbench/out/``. Scratch data lives under
``.perfbench/work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.workloads import WORKLOADS, Op  # noqa: E402
PACKAGE = "dss_nlp_ingestion_spark"

#: Units of every reported metric.
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "store_bytes_per_input_byte": "ratio",
    "ok_share": "ratio",
}
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "pyudf.start_ms": "ms",
    "pyudf.init_ms": "ms",
    "pyudf.run_ms": "ms",
    "pyudf.bytes_sent": "bytes",
    "pyudf.bytes_returned": "bytes",
    "pyudf.nodes": "count",
    "txlog.merge_s": "s",
    "txlog.read_s": "s",
    "txlog.commits": "count",
    "txlog.log_entries": "count",
    "txlog.files_added": "count",
    "txlog.files_touched": "count",
    "txlog.files_skipped": "count",
    "txlog.files_total": "count",
    "txlog.skip_ratio": "ratio",
    "txlog.table_bytes": "bytes",
    "mem.peak_rss_mb": "MB",
    "self.pass_s": "s",
    "self.op_s": "s",
    "self.plans_s": "s",
    "self.exec_s": "s",
    "self.txlog_s": "s",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.reconcile_error": "ratio",
}
#: Span name -> self-time bucket.
SELF_BUCKET = {
    "pass": "self.pass_s",
    "op": "self.op_s",
    "plans.build": "self.plans_s",
    "exec.collect": "self.exec_s",
    "txlog.create": "self.txlog_s",
    "txlog.merge": "self.txlog_s",
    "txlog.read": "self.txlog_s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_record() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "git_revision": git_revision(),
    }


def git_revision() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples above it. Below 21 samples that percentile is not above
    the median, so the maximum (percentile 100) is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return 100.0, xs[-1]
    return 100.0 * (n - 10) / n, xs[n - 11]


def setup(app: str):
    """Fresh process -> first operation ready: package import,
    session (ships the package), and a warmup touching the JVM SQL
    path and a Python worker."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from dss_nlp_ingestion_spark.session import get_spark

    spark = get_spark(app_name=app, master=f"local[{nproc()}]")
    spark.sparkContext.setLogLevel("ERROR")

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(64).select(plus_one(F.col("id")).alias("x")).groupBy(
        (F.col("x") % 4).alias("k")
    ).count().collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers; wait
    until every descendant process has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        rest = [p for p in trace.tree_pids() if p != os.getpid()]
        if not rest:
            return
        time.sleep(0.2)
    for pid in rest:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def run(args, options: dict | None = None, plant_wrong: bool = False) -> dict:
    """One benchmark run; ``options`` overrides the workload's input
    shape and ``plant_wrong`` corrupts one delivered result before the
    check (both for the self-check)."""
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "spark-local"))
    # Every file the session, its workers and the queries write stays
    # inside the checkout: temp dirs, shuffle/spill, the warehouse.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = None
    os.chdir(work)

    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed, **(options or {}))  # writes inputs
        t0 = time.perf_counter()
        spark = setup(f"perfbench-{args.workload}")
        tracer = trace.Tracer(spark)
        wl.prepare(spark, tracer)
        setup_s = time.perf_counter() - t0
        return measure(args, spark, tracer, wl, setup_s, plant_wrong)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spark, tracer, wl, setup_s: float, plant_wrong: bool = False) -> dict:
    from dss_nlp_ingestion_spark.session import release_cached

    ops: list = []
    passes: list[dict] = []

    def run_pass(index: int, traced: bool) -> None:
        items = wl.pass_items()
        tracer.enabled = traced
        cpu0 = trace.tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("pass"):
            for j, (name, item) in enumerate(items):
                op = Op(name, item, f"p{index}.{j}.{name}", index, traced)
                t = time.perf_counter()
                try:
                    wl.run_op(op)
                except Exception as exc:  # noqa: BLE001 — counted, run goes on
                    op.error = f"{type(exc).__name__}: {exc}"[:500]
                    traceback.print_exc(limit=4, file=sys.stderr)
                op.latency_s = time.perf_counter() - t
                release_cached(spark)
                ops.append(op)
        wall = time.perf_counter() - t0
        passes.append(
            {"index": index, "traced": traced, "wall_s": wall,
             "cpu_s": trace.tree_cpu_s() - cpu0}
        )
        tracer.enabled = False

    run_pass(0, False)
    t_win = time.perf_counter()
    k = 1
    while True:
        run_pass(k, args.trace == 1 and k % 2 == 1)
        k += 1
        done = time.perf_counter() - t_win >= args.seconds
        kinds = {p["traced"] for p in passes[1:]}
        if done and (args.trace == 0 or kinds == {True, False}):
            break
    window_s = time.perf_counter() - t_win
    peak_rss = trace.tree_peak_rss_mb()

    planted = None
    if plant_wrong:
        planted = next(o for o in ops if o.pass_index > 0 and o.error is None)
        planted.rows = planted.rows[:-1] if planted.rows else [("planted",)]
    layers = {}
    if args.trace:
        layers = layer_metrics(spark, tracer, wl, ops, passes)
        layers["mem.peak_rss_mb"] = peak_rss
    t_check = time.perf_counter()
    try:
        wl.check(ops)
    except Exception as exc:  # noqa: BLE001 — a check that cannot run fails every op
        traceback.print_exc(limit=4, file=sys.stderr)
        for op in ops:
            op.ok, op.error = False, op.error or f"check failed: {exc}"[:500]
    check_s = time.perf_counter() - t_check

    steady = [p for p in passes[1:] if not p["traced"]]
    steady_ops = [o for o in ops if o.pass_index > 0 and not o.traced]
    lat = [o.latency_s for o in steady_ops]
    tail_pct, tail = tail_percentile(lat)
    failed = sum(1 for o in ops if not o.ok)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in steady),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "rows_per_s": sum(wl.delivered(o) for o in steady_ops) / sum(lat),
        "cpu_s": statistics.median(p["cpu_s"] for p in steady),
        "store_bytes_per_input_byte": wl.output_bytes() / max(1, wl.input_bytes()),
        "ok_share": (len(ops) - failed) / len(ops),
    }
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host_record(),
        "shape": wl.shape(),
        "client": "closed loop, 1 client thread",
        "passes": passes,
        "window_s": window_s,
        "check_s": check_s,
        "op_tail_percentile": tail_pct,
        "planted_wrong_op": planted.op_id if planted else None,
        "op_samples": len(lat),
        "ops": [
            {"name": o.name, "id": o.op_id, "pass": o.pass_index, "traced": o.traced,
             "latency_s": o.latency_s, "rows": wl.delivered(o), "ok": o.ok,
             "error": o.error}
            for o in ops
        ],
        "end_to_end": e2e,
        "per_layer": layers,
        "peak_rss_mb": peak_rss,
        "spans": tracer.dump(),
        "attempted": len(ops),
        "failed": failed,
    }


def layer_metrics(spark, tracer, wl, ops, passes) -> dict:
    """Per-layer metrics per traced steady pass (see module docstring)."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    n = len(traced)
    t_ops = [o for o in ops if o.traced]
    ids = {o.op_id for o in t_ops}
    out = dict.fromkeys(PER_LAYER, 0.0)
    for name, v in trace.spark_layer_metrics(spark, ids).items():
        out[name] = v / n
    for o in t_ops:
        if o.df is not None:
            for name, v in trace.catalyst_phases_ms(o.df).items():
                out[name] += v / n
    span_totals: dict[str, float] = {}
    for s in tracer.spans:
        span_totals[s.name] = span_totals.get(s.name, 0.0) + (s.end - s.start)
    out["plans.build_s"] = span_totals.get("plans.build", 0.0) / n
    out["txlog.merge_s"] = span_totals.get("txlog.merge", 0.0) / n
    out["txlog.read_s"] = span_totals.get("txlog.read", 0.0) / n
    selfs = tracer.self_times()
    for name, v in selfs.items():
        out[SELF_BUCKET[name]] += v / n
    counts = wl.txlog_counts(t_ops)
    if counts:
        for name, v in counts.items():
            if name in ("txlog.log_entries", "txlog.table_bytes"):
                out[name] = v  # state of the log at the end of the run
            else:
                out[name] = v / n
        total = counts.get("txlog.files_total", 0)
        out["txlog.skip_ratio"] = counts.get("txlog.files_skipped", 0) / total if total else 0.0
    # Reconcile: layer self times (not the op span's own) vs the op timers.
    in_layers = sum(v for k, v in selfs.items() if k not in ("pass", "op"))
    op_wall = sum(o.latency_s for o in t_ops)
    out["trace.reconcile_error"] = abs(in_layers - op_wall) / op_wall
    out["trace.pass_s"] = statistics.median(p["wall_s"] for p in traced)
    out["trace.untraced_pass_s"] = statistics.median(p["wall_s"] for p in untraced)
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
    return out


#: Inputs of the self-check: small enough for a unit test.
SELF_CHECK_OPTIONS = {
    "analytics": {
        "sf": 0.001,
        "queries": ("q1_pricing_summary", "asof_last_click_before_purchase",
                    "flagship_doc_profile_txlog"),
    },
    "ingest": {"shape": {"newsfilter": 6, "pushshift": 6, "eastmoney": 6, "html": 4}},
}
#: Allowed gap between the layer self times inside operations and the
#: operations' own timers, as a share of operation time.
RECONCILE_TOLERANCE = 0.01


def self_check() -> list[str]:
    """Run both workloads traced on tiny inputs with one delivered
    result corrupted; return the problems found (empty when sound)."""
    problems = []
    for workload, options in SELF_CHECK_OPTIONS.items():
        args = argparse.Namespace(workload=workload, seed=1, seconds=0, trace=1)
        rec = run(args, options, plant_wrong=True)
        tag = f"{workload}:"
        if set(rec["end_to_end"]) != set(END_TO_END):
            problems.append(f"{tag} end-to-end metrics {sorted(rec['end_to_end'])}")
        if set(rec["per_layer"]) != set(PER_LAYER):
            problems.append(f"{tag} per-layer metrics {sorted(rec['per_layer'])}")
        bad = [o["id"] for o in rec["ops"] if not o["ok"]]
        if bad != [rec["planted_wrong_op"]]:
            problems.append(f"{tag} failed ops {bad}, planted {rec['planted_wrong_op']}")
        if rec["failed"] != 1 or not rec["end_to_end"]["ok_share"] < 1.0:
            problems.append(f"{tag} planted failure not counted: {rec['failed']}")
        if any(o["ok"] is None for o in rec["ops"]):
            problems.append(f"{tag} an operation was not checked")
        err = rec["per_layer"]["trace.reconcile_error"]
        if not 0.0 <= err <= RECONCILE_TOLERANCE:
            problems.append(f"{tag} self times off op wall time by {err:.4f}")
        for name, value in {**rec["end_to_end"], **rec["per_layer"]}.items():
            if not isinstance(value, (int, float)):
                problems.append(f"{tag} {name} = {value!r}")
    return problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("analytics", "ingest"))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true",
                    help="run both workloads on tiny inputs and verify the harness")
    args = ap.parse_args(argv)
    if not args.self_check and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(
        os.path.join(ROOT, "tools")
    ):
        print(f"perfbench: {PACKAGE}/ and tools/ not found under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    if args.self_check:
        problems = self_check()
        print(json.dumps({"self_check": "ok" if not problems else "failed",
                          "problems": problems}))
        return 1 if problems else 0
    record = run(args)

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "host": record["host"],
        "op_tail_percentile": record["op_tail_percentile"],
        "op_samples": record["op_samples"], "record": os.path.relpath(out, ROOT),
    }))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
