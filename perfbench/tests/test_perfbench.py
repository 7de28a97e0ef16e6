"""The benchmark's own tests: deterministic inputs, the reference
model, the result-reporting helpers, and the self-check (both
workloads on tiny inputs, traced, with one corrupted result).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, tail_percentile  # noqa: E402


def _digests(path: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(path, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(path))
    }


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    gen.write_tables(7, 0.002, str(tmp_path / "a"))
    gen.write_tables(7, 0.002, str(tmp_path / "b"))
    gen.write_tables(8, 0.002, str(tmp_path / "c"))
    a, b, c = (_digests(str(tmp_path / d)) for d in "abc")
    assert len(a) == 10
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_ingest_batches_are_identical_for_a_seed():
    def payloads(seed):
        s = gen.IngestStream(seed)
        return [json.dumps(s.batch().payloads, sort_keys=True) for _ in range(3)]

    assert payloads(5) == payloads(5)
    assert payloads(5) != payloads(6)


def test_reference_model_sees_every_planted_case():
    s = gen.IngestStream(11)
    batches = [s.batch() for _ in range(4)]
    accepted = gen.accepted(batches)
    keys = [d.key for docs in accepted for d in docs]
    assert len(keys) == len(set(keys)), "a key is stored twice"
    docs = [d for b in batches for d in b.docs]
    assert any(d.rejected for d in docs)
    assert any(gen.normalized_tokens(d.text) <= 5 for d in docs)
    assert any(any(ord(ch) > 0x2E80 for ch in d.text) for d in docs)
    later_ids = [d.source_id for b in batches[1:] for d in b.docs]
    first_ids = {d.source_id for d in batches[0].docs}
    assert any(i in first_ids for i in later_ids), "no re-delivered document"
    for b, acc in zip(batches, accepted):
        texts = [d.text for d in b.docs]
        assert len(acc) < len(b.docs)
        assert len(set(texts)) < len(texts), "no exact duplicate in a batch"


def test_universe_has_the_cited_size():
    assert len(set(gen.UNIVERSE)) == len(gen.UNIVERSE) == 556
    assert not {"DD", "ARE"} & set(gen._TICKERS), "a post would mention an excluded ticker"


def test_tail_percentile_has_ten_samples_beyond():
    pct, v = tail_percentile([float(i) for i in range(1, 41)])
    assert pct == 75.0 and v == 30.0
    assert sum(1 for x in range(1, 41) if x > v) == 10
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "analytics"]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_self_check():
    """Every metric appears with its unit, the oracle and reference
    checks run, a corrupted result is caught and counted, and layer
    self times reconcile with operation wall time."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--self-check"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    last = proc.stdout.strip().splitlines()[-1]
    assert proc.returncode == 0, last
    assert json.loads(last) == {"self_check": "ok", "problems": []}
