"""The benchmark's own tests: the spec's names, the helpers, and a smoke pass
of every workload at tiny size.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))

import compare  # noqa: E402
import run  # noqa: E402
from tracing import parse_sql_metric  # noqa: E402
from workloads import ID_MASK, WORKLOADS, crawl_sites, dense, lineitem_edges  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
LAYER_SPANS = {"crawl_pipeline": {"graph.build", "pagerank.rank"},
               "graph_algos": {"components", "labelprop", "triangles"}}


def test_spec_matches_the_benchmark():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    names = [w["name"] for w in SPEC["workloads"]] + [
        m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
        assert UNIT.fullmatch(m["unit"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.fullmatch(m["unit"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("text, value", [
    ("1,846", 1846.0), ("0 ms", 0.0), ("0.0 B", 0.0),
    ("total (min, med, max (stageId: taskId))\n1.9 s (372 ms, 433 ms, 667 ms (stage 55.0: task 156))", 1.9),
    ("total (min, med, max (stageId: taskId))\n255.0 KiB (62.6 KiB, 64.0 KiB, 64.7 KiB (stage 55.0: task 157))",
     255.0 * 1024),
])
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_seed_renames_ids_without_changing_the_graph():
    base = dense(*lineitem_edges(3000, 0))
    for seed in (1, 2, 97):
        src, dst = lineitem_edges(3000, seed)
        assert src.max() <= ID_MASK and dst.max() <= ID_MASK
        ids, s, d = dense(src, dst)
        assert len(ids) == len(base[0]) and not np.array_equal(ids, base[0])
        # same edges between the same ranks of ids: isomorphic, order kept
        assert np.array_equal(s, base[1]) and np.array_equal(d, base[2])
    assert crawl_sites(1) != crawl_sites(2)


def _record(workload, trace, values):
    return json.dumps({"workload": workload, "seed": 0, "trace": trace, "result": {
        "correct": True, "attempted": 1, "failed": 0,
        "metrics": {k: {"value": v, "unit": "s"} for k, v in values.items()}}})


def test_compare_flags_only_regressions_past_the_bound(tmp_path):
    spec = {"workloads": [{"name": "w", "why": ""}],
            "end_to_end": [{"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1},
                           {"name": "eps", "unit": "1/s", "better": "higher", "bound": 0.1}],
            "per_layer": [{"name": "a.task_s", "unit": "s", "better": "lower"},
                          {"name": "b.task_s", "unit": "s", "better": "lower"}]}
    base, new = tmp_path / "base.jsonl", tmp_path / "new.jsonl"
    base.write_text("\n".join([_record("w", 0, {"wall_s": x, "eps": 100.0}) for x in (10, 11, 12)]
                              + [_record("w", 1, {"a.task_s": 1.0, "b.task_s": 5.0})]))
    new.write_text("\n".join([_record("w", 0, {"wall_s": x, "eps": 95.0}) for x in (13, 14, 15)]
                             + [_record("w", 1, {"a.task_s": 1.1, "b.task_s": 2.0})]))
    lines, flagged = compare.compare(base, new, spec)
    assert flagged == 1
    assert "REGRESSED" in next(line for line in lines if "wall_s" in line)
    assert "REGRESSED" not in next(line for line in lines if "eps" in line)
    layers = [m.group(1) for line in lines if (m := re.match(r"  (\w+): task_s", line))]
    assert layers == ["b", "a"]  # ranked by task-time change


def _bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = _bench("--workload", "graph_algos", "--seed", "1", "--seconds", "1", "--trace", "0",
               cwd=tmp_path)
    assert p.returncode != 0 and '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_smoke_run(workload, tmp_path):
    out = tmp_path / "results.jsonl"
    p = _bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1",
               "--size", "tiny", "--out", str(out))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(metrics) == set(run.PER_LAYER)
    assert 0 < metrics["trace.overhead_pct"] < 100
    if workload == "crawl_pipeline":
        assert metrics["extract.udf_rows_per_page"] > 0
        assert metrics["checkpoint.files_per_superstep"] > 0
    else:
        assert metrics["extract.udf_rows_per_page"] == 0
    spans = json.loads((tmp_path / f"spans-{workload}-seed3.json").read_text())
    names = {s["name"] for s in spans}
    assert {"session.start", "sources.input", "rep"} | LAYER_SPANS[workload] <= names
    for s in spans:
        assert s["self_s"] <= s["dur_s"] + 1e-9
        if s["name"] in LAYER_SPANS[workload]:
            assert s["counters"]["jobs"] > 0 and s["counters"]["task_s"] > 0


def test_untraced_smoke_run(tmp_path):
    p = _bench("--workload", "graph_algos", "--seed", "4", "--seconds", "1", "--trace", "0",
               "--size", "tiny", "--out", str(tmp_path / "results.jsonl"))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"]
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(metrics) == set(run.END_TO_END)
    assert all(v > 0 for v in metrics.values())
