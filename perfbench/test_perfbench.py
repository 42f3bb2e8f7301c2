"""Self-test of the benchmark harness on small inputs (about sf0.001).

    python3 -m pytest perfbench -q -p no:cacheprovider

Runs one row per batch workload and a few serving queries, untraced and
traced, and checks the harness itself rather than the library's speed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import PREFIX, Span, attribute  # noqa: E402
from workloads import WORKLOADS, row_order  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
#: the batch rows the self-test runs: one per layer family
ROWS = "pdf_to_download,chunk_documents,merge_upsert_tx"


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT, scale: float = 0.1):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--scale", str(scale), "--queries", "4", "--explain", "1",
    ]
    if "rows" in WORKLOADS[workload]:
        cmd += ["--rows", ROWS]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = [x for x in p.stdout.splitlines() if x.startswith("{")]
    return p, lines


_CACHE: dict = {}


def run(workload: str, seed: int = 1, trace: int = 0, scale: float = 0.1):
    key = (workload, seed, trace, scale)
    if key not in _CACHE:
        p, lines = _run(workload, seed, trace, scale=scale)
        assert p.returncode == 0, p.stderr[-3000:]
        _CACHE[key] = (json.loads(lines[-2]), json.loads(lines[-1]))
    return _CACHE[key]


def test_spec_names_every_workload():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_prints_every_metric_with_its_unit(workload, trace):
    _, result = run(workload, trace=trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in want)
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run_accounts_for_its_time(workload):
    info, result = run(workload, trace=1)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    d = info["detail"]
    # layer self times never exceed the wall time they were measured in
    assert sum(d["self_s"].values()) <= d["traced_wall_s"] + 1e-6
    # job time that no span claims is reported, and is a share of job time
    assert 0.0 <= m["unattributed.job_s"] <= m["spark.job_s"] + 1e-6
    assert 0.0 <= m["trace.attributed_share"] <= 1.0
    assert m["spark.jobs"] >= 1 and m["trace.overhead_ratio"] > 0


def test_only_repository_layers_count_as_attributed():
    spans = {0: Span(0, None, "operators.dedup", "f"), 1: Span(1, None, "entry", "row")}

    def job(desc):
        return {"desc": desc, "dur": 1.0, "cpu_s": 0.5, "sw_mb": 0.0}

    layers, unattributed, total = attribute(
        [job(f"{PREFIX}operators.dedup|0"), job("q\nid = x\nrunId = y\nbatch = 0")], spans
    )
    assert (unattributed, total) == (0.0, 2.0)
    assert set(layers) == {"operators.dedup", "streaming"}
    # a job under the benchmark's own entry span, or with no span, lowers the share
    _, unattributed, total = attribute(
        [job(f"{PREFIX}operators.dedup|0"), job(f"{PREFIX}entry|1"), job(None)], spans
    )
    assert (unattributed, total) == (2.0, 3.0)


def test_rare_term_queries_prune():
    # at the benchmark's own input size: on a small corpus the rare term
    # has fewer than k postings, so no score floor exists and nothing prunes
    info, _ = run("search_serving", scale=1.0)
    rare = [q for q in range(4) if q % 2 == 0]
    assert set(rare) <= set(info["meta"]["pruned_queries"])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tracing_does_not_change_outputs(workload):
    plain, _ = run(workload, trace=0)
    traced, _ = run(workload, trace=1)
    assert plain["detail"]["digests"] == traced["detail"]["digests"]
    assert plain["detail"]["digests"]


def test_seed_changes_queries_and_order_but_not_batch_outputs():
    a, _ = run("search_serving", seed=1)
    b, _ = run("search_serving", seed=2)
    assert a["detail"]["order"] != b["detail"]["order"]
    assert a["detail"]["digests"] != b["detail"]["digests"]
    for w in WORKLOADS:
        if "rows" in WORKLOADS[w]:
            assert row_order(w, 1) != row_order(w, 2)
            assert sorted(row_order(w, 1)) == sorted(WORKLOADS[w]["rows"])
    x, _ = run("pipeline_batch", seed=1)
    y, _ = run("pipeline_batch", seed=2)
    assert x["detail"]["digests"] == y["detail"]["digests"]


def test_refuses_to_run_without_the_library():
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p, lines = _run("pipeline_batch", 1, 0, cwd=bare)
        assert p.returncode != 0 and not lines
    finally:
        shutil.rmtree(bare, ignore_errors=True)
