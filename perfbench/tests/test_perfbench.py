"""Self-test of the benchmark at sf0.001.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The slow tests start the benchmark command four times (about two minutes
on four cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run  # noqa: E402
import spans  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SEED = 7


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", str(SEED), "--seconds", "1",
         "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture(scope="module")
def runs():
    """Result line and record of each (workload, trace) run."""
    out = {}
    for workload, trace in (("graph-artifacts", 0), ("graph-artifacts", 1), ("relational", 1)):
        proc = _run(workload, trace)
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        path = os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed{SEED}-trace{trace}.json")
        with open(path) as fh:
            out[workload, trace] = (result, json.load(fh))
    return out


def test_self_time_subtracts_children():
    s = [spans.Span("a", 0.0, 10.0), spans.Span("b", 1.0, 4.0, parent=0),
         spans.Span("c", 3.0, 6.0, parent=0), spans.Span("d", 1.5, 2.0, parent=1)]
    assert spans.self_times(s) == pytest.approx([5.0, 2.5, 3.0, 0.5])


def test_nested_memo_builds_count_once_exclusive():
    b = [spans.MemoBuild("w", 0.0, 9.5, "q"), spans.MemoBuild("weighted", 2.0, 7.2, "q"),
         spans.MemoBuild("other", 10.0, 11.0, "q")]
    excl, incl = spans.build_times(b)
    assert excl == pytest.approx(9.5 + 1.0)
    assert incl == pytest.approx(9.5 + 5.2 + 1.0)


def test_warm_pass_count_is_set_by_seconds_alone():
    """The number of timed passes, and so the quantile query_p75_s reads,
    does not change with the speed of the code measured."""
    assert [run.warm_passes(s, 3.8) for s in (1, 16, 40)] == [2, 4, 11]


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = _run("relational", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_prints_every_named_metric_with_its_unit(runs):
    for (workload, trace), (result, _) in runs.items():
        section = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert {m: (v["unit"]) for m, v in result["metrics"].items()} == {
            m["name"]: m["unit"] for m in section
        }
        for v in result["metrics"].values():
            assert isinstance(v["value"], (int, float))


def test_traced_and_untraced_job_counts_agree(runs):
    """Each query's warm job count in traced passes is one it also ran with
    in untraced passes (a loop's count may differ between passes)."""

    def warm_jobs(record, traced):
        counts = defaultdict(set)
        for p in record["passes"]:
            if p["label"].startswith("warm") and p["traced"] == traced:
                for q in p["queries"]:
                    counts[q["name"]].add(q["build_jobs"] + q["exec_jobs"])
        return counts

    untraced = warm_jobs(runs["graph-artifacts", 0][1], False)
    for name, counts in warm_jobs(runs["graph-artifacts", 1][1], False).items():
        untraced[name] |= counts
    traced = warm_jobs(runs["graph-artifacts", 1][1], True)
    assert traced.keys() == untraced.keys()
    for name, counts in traced.items():
        assert counts & untraced[name], (name, counts, untraced[name])


def test_spans_are_consistent_with_pass_walls(runs):
    for key in (("graph-artifacts", 1), ("relational", 1)):
        record = runs[key][1]
        s = [spans.Span(**d) for d in record["spans"]]
        assert s, key
        assert min(spans.self_times(s)) >= -1e-9
        top = defaultdict(float)
        for sp in s:
            if sp.parent < 0:
                top[sp.query.split("/", 1)[0]] += sp.end - sp.start
        for p in record["passes"]:
            if p["traced"]:
                wall = sum(q["latency_s"] for q in p["queries"])
                assert 0.0 <= wall - top[p["label"]] <= 0.05 * wall, (key, p["label"])


def test_layer_readings(runs):
    rel = runs["relational", 1][0]["metrics"]
    assert all(v["value"] == 0 for m, v in rel.items() if m.startswith("graph.") and m.endswith(".calls"))
    art = runs["graph-artifacts", 1][0]["metrics"]
    assert art["graph.pagerank.calls"]["value"] >= 1
    assert art["session.memo_hit_ratio_cold"]["value"] < art["session.memo_hit_ratio"]["value"]
    assert art["session.memo_build_excl_s"]["value"] <= art["session.memo_build_incl_s"]["value"]
