"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

- metric names in BENCHMARK.json are valid and match what the harness emits;
- the span record of a traced run has the documented schema;
- every workload runs end to end at a tiny size, untraced and traced;
- a wrong expected answer shows up as a failed job (pass_ratio < 1).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_valid_and_emitted():
    b = _bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == trace.PER_LAYER
    assert all(w["name"] in WORKLOADS for w in b["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def _run(workload: str, traced: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0.1", "--trace", str(traced), "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


WORKLOAD_NAMES = [w["name"] for w in _bench()["workloads"]]


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_smoke_untraced(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1 + run.MIN_WARM_JOBS
    assert [k for k in out["metrics"]] == [n for n, _ in run.END_TO_END]
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_smoke_traced_record_schema(workload):
    out = _run(workload, 1)
    assert out["correct"]
    assert [k for k in out["metrics"]] == [n for n, _ in trace.PER_LAYER]
    with open(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed3.json")) as f:
        rec = json.load(f)
    assert {"context", "end_to_end", "traced_items_per_s", "per_layer", "spans"} <= set(rec)
    spans = rec["spans"]
    ids = {s["id"] for s in spans}
    for s in spans:
        assert set(s) == set(trace.SPAN_KEYS)
        assert s["end"] >= s["start"] and s["job_hi"] >= s["job_lo"]
        assert s["parent"] is None or s["parent"] in ids
        assert s["run_id"] == f"{workload}-3"
    jobs = [s for s in spans if s["name"] == "job"]
    assert jobs and all(s["parent"] is None for s in jobs)
    layers = {s["name"] for s in spans} - {"job", "input"}
    assert layers, "a traced job records its layer spans"


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(work)
    s = run.start_session()
    yield s
    run.stop_session(s)


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_wrong_expected_answer_counts_as_failure(spark, tmp_path, workload):
    w = WORKLOADS[workload](scale=0.02)
    w.prepare(spark, 5, str(tmp_path))
    ok = run.measure(spark, w, trace.NoTrace(), 0, 1)
    target = w.parts_[0] if hasattr(w, "parts_") else w
    if isinstance(target.expected, dict):   # one (zone, tile) count missing
        target.expected = dict(list(target.expected.items())[1:])
    else:                                   # one survivor missing
        target.expected = set(list(target.expected)[1:])
    bad = run.measure(spark, w, trace.NoTrace(), 0, 2, k0=1)
    e2e = run.end_to_end(w, ok[0], bad, 1.0, 1.0)
    assert ok[0]["ok"] and not any(r["ok"] for r in bad)
    assert e2e["pass_ratio"] == pytest.approx(1 / 3)
