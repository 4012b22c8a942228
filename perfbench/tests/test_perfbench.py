"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The generator tests need no Spark. The run tests start one traced and
one untraced benchmark run (about two minutes on a 4-core host).
"""

from __future__ import annotations

import hashlib
import json
import re
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from gen import generate  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _digests(d: Path) -> dict[str, str]:
    return {
        str(p.relative_to(d)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(d.rglob("*.parquet"))
        if p.is_file()
    }


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    tables = WORKLOADS[workload].tables
    generate(7, str(tmp_path / "a"), tables)
    generate(7, str(tmp_path / "b"), tables)
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert a and a == b


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_other_seed_changes_content_not_row_counts(tmp_path, workload):
    tables = WORKLOADS[workload].tables
    rows_a = generate(7, str(tmp_path / "a"), tables)
    rows_b = generate(8, str(tmp_path / "b"), tables)
    assert rows_a == rows_b
    for t in tables:
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{t}.parquet")
        assert ta.schema == tb.schema
        assert ta.num_rows == tb.num_rows == rows_a[t]
        assert not ta.equals(tb)


def test_spec_metric_names():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) and len(n) <= 64 for n in names)


def _run(workload: str, trace: int, seed: int = 3) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def traced():
    return _run("event_stream_replay", 1)


def test_untraced_run_emits_every_end_to_end_metric():
    res = _run("reference_etl", 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(NAME.match(n) for n in res["metrics"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_emits_every_per_layer_metric(traced):
    assert traced["correct"]
    assert set(traced["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert all(NAME.match(n) for n in traced["metrics"])
    assert traced["metrics"]["operators.jobs"]["value"] > 0


def test_counters_repeat_across_passes(traced):
    doc = json.loads((ROOT / ".perfbench_traces" / "event_stream_replay-seed3.json").read_text())
    passes = doc["passes"]
    assert len(passes) >= 2
    for q in WORKLOADS["event_stream_replay"].queries:
        seen = {tuple(p["calls"][q][k] for k in ("jobs", "stages", "tasks")) for p in passes}
        assert len(seen) == 1, (q, seen)
    spans = doc["spans"]
    names = {s["name"] for s in spans}
    assert {"pass", "operators.stream_ab_test", "sources.load_table", "streaming.run_to_memory"} <= names
    assert all(s["end"] >= s["start"] for s in spans)
