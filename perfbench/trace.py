"""Instruments the benchmark reads around the program, never inside it.

- :class:`Tracer` records spans (name, start, end, parent, operation)
  from the benchmark's own call sites and tags every Spark job an
  operation launches with a job group, ``pb/<op>/<span>``.
- :func:`spark_layer_metrics` reads, after the timed window, Spark's
  status REST API (jobs, stages, SQL node metrics) and joins it to the
  spans by job group.
- :func:`catalyst_phases_ms` reads Catalyst's phase tracker of a
  DataFrame that has run.
- :func:`tree_cpu_s` and :func:`tree_peak_rss_mb` read ``/proc`` for
  the process tree: the client process, the JVM it launched and the
  Python workers the JVM forks.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Process tree
# ---------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; split after its closing paren.
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children[int(st[1])].append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live tree, including children
    each process has already reaped (Python workers that exited)."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat.
            total += sum(int(v) for v in st[11:15])
    return total / _CLK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``): an upper bound on the tree's simultaneous peak."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Span recorder, off until ``enabled`` is set (it is flipped per
    pass). Off, it records nothing; on, it keeps spans in memory and
    tags Spark jobs with the span's job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record ``name`` around the body; ``op`` opens an operation,
        whose nested spans and Spark jobs carry its id."""
        if not self.enabled:
            yield
            return
        if op is not None:
            self._op = op
        self._stack.append(len(self.spans))
        self.spans.append(
            Span(name, time.perf_counter(), 0.0,
                 self._stack[-2] if len(self._stack) > 1 else None, self._op)
        )
        self._tag_jobs()
        try:
            yield
        finally:
            self.spans[self._stack.pop()].end = time.perf_counter()
            if op is not None:
                self._op = None
            self._tag_jobs()

    def _tag_jobs(self) -> None:
        if self._stack and self._op is not None:
            name = self.spans[self._stack[-1]].name
            self.sc.setJobGroup(f"pb/{self._op}/{name}", name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its children cover
        (children never overlap: the client is one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# Spark status API
# ---------------------------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def _sql_metric(value: str) -> float:
    """Total of a SQL UI metric string (``"total (...)\\n7.6 s (...)"``
    or ``"1,000"``), in ms for times and bytes for sizes."""
    line = value.split("\n")[-1] if "\n" in value else value
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


#: SQL node metrics of the Arrow Python boundary -> per-layer name.
PYUDF_METRICS = {
    "time to start Python workers": "pyudf.start_ms",
    "time to initialize Python workers": "pyudf.init_ms",
    "time to run Python workers": "pyudf.run_ms",
    "data sent to Python workers": "pyudf.bytes_sent",
    "data returned from Python workers": "pyudf.bytes_returned",
}
PYUDF_NODES = ("ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
               "FlatMapCoGroupsInPandas", "BatchEvalPython", "AggregateInPandas",
               "WindowInPandas")

EXEC_FIELDS = {
    "exec.run_ms": ("executorRunTime", 1.0),
    "exec.cpu_ms": ("executorCpuTime", 1e-6),
    "exec.gc_ms": ("jvmGcTime", 1.0),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "exec.spill_bytes": ("diskBytesSpilled", 1.0),
}


def spark_layer_metrics(spark, ops: set[str]) -> dict[str, float]:
    """Executor and Python-boundary totals of every job whose group
    belongs to one of ``ops``, plus the jobs launched from inside
    ``plans.build`` spans. Call once the jobs have finished."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    out: dict[str, float] = defaultdict(float)
    job_ids: set[int] = set()
    stage_ids: set[int] = set()
    for job in _get(f"{base}/jobs"):
        group = job.get("jobGroup") or ""
        parts = group.split("/")
        if len(parts) != 3 or parts[0] != "pb" or parts[1] not in ops:
            continue
        job_ids.add(job["jobId"])
        stage_ids.update(job["stageIds"])
        out["exec.jobs"] += 1
        if parts[2] == "plans.build":
            out["plans.build_jobs"] += 1
    for st in _get(f"{base}/stages"):
        if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += st["numTasks"]
        out["exec.failed_tasks"] += st["numFailedTasks"]
        for name, (field, scale) in EXEC_FIELDS.items():
            out[name] += st.get(field, 0) * scale
    for ex in _get(f"{base}/sql?details=true&planDescription=false&length=100000"):
        ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ex_jobs & job_ids:
            continue
        for node in ex.get("nodes", []):
            if not node["nodeName"].startswith(PYUDF_NODES):
                continue
            values = {
                PYUDF_METRICS[m["name"]]: _sql_metric(m["value"])
                for m in node.get("metrics", [])
                if m["name"] in PYUDF_METRICS
            }
            # A cached plan's nodes reappear, all zero, in every
            # execution that reads the cache; count the one that ran.
            if any(values.values()):
                out["pyudf.nodes"] += 1
                for name, v in values.items():
                    out[name] += v
    return dict(out)


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning ms from the phase tracker of
    a DataFrame that has been executed."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
