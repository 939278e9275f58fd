"""Tests of the benchmark itself, at sf 0.001.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and once traced as a subprocess, as the
benchmark is run; the wrong-reference check runs a zonal Bench in this
process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.spans import Tracer, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0.5", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "perfbench", "out", f"{workload}-seed7-trace{trace}.json")) as f:
        detail = json.load(f)
    return result, detail


@pytest.fixture(scope="module", params=[(w, t) for w in WORKLOADS for t in (0, 1)],
                ids=lambda p: f"{p[0]}-trace{p[1]}")
def bench_run(request):
    return request.param, run_bench(*request.param)


def test_every_metric_printed_with_its_unit(bench_run):
    (workload, trace), (result, detail) = bench_run
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    # the ray-cast reference agrees with the engine, so a point-in-polygon
    # call is counted failed only when the engine is wrong
    pip = [r for r in detail["calls"] if r["name"] == "points_in_polygons"]
    assert all("wrong" not in r and "error" not in r for r in pip)
    if workload == "zonal_raster":
        # the width defect is probed apart from the timed calls, and reported
        defect = detail["known_defect"]
        assert defect["width"] != detail["inputs"]["width"]
        assert defect["reproduced"] == bool(defect["problems"])


def test_spans_nest_and_cover_each_call(bench_run):
    (workload, trace), (_, detail) = bench_run
    if not trace:
        assert detail["spans"] == []
        return
    by_id = {s["id"]: s for s in detail["spans"]}
    roots = [s for s in detail["spans"] if s["parent"] is None]
    assert {s["name"] for s in roots} == {"warmup", "call"}
    warmups = sorted((s for s in roots if s["name"] == "warmup"), key=lambda s: s["start"])
    assert [s["attrs"]["key"] for s in warmups] == detail["provenance"]["warmup_calls"]
    calls = {s["id"]: s for s in roots if s["name"] == "call"}
    for s in detail["spans"]:
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]
            assert s["call"] == parent["call"]
    traced = [r for r in detail["calls"] if r["traced"]]
    assert len(traced) == len(calls)
    for rec, span in zip(traced, sorted(calls.values(), key=lambda s: s["start"])):
        assert rec["name"] == span["attrs"]["key"]
        assert span["end"] - span["start"] >= rec["wall_s"]
        # wall = plan build + plan + action + the call span's own remainder
        children = [s for s in detail["spans"] if s["parent"] == span["id"]]
        assert {c["name"] for c in children} >= {"operators.plan_build", "spark.action"}
        assert sum(c["end"] - c["start"] for c in children) <= span["end"] - span["start"]
    m = detail["metrics"]
    layers = sum(v["value"] for k, v in m.items() if k.startswith("self."))
    assert layers == pytest.approx(m["trace.call_wall_s"]["value"], rel=1e-9, abs=1e-12)


def test_self_times_sum_to_root_duration():
    tr = Tracer(enabled=True)
    with tr.span("call"):
        with tr.span("operators.plan_build"):
            with tr.span("loader.load_table"):
                pass
        with tr.span("spark.action"):
            pass
    root = next(s for s in tr.spans if s.name == "call")
    assert sum(self_times(tr.spans).values()) == pytest.approx(root.duration, abs=1e-12)
    assert all(s.call_id == root.span_id for s in tr.spans)


def test_wrong_reference_counts_as_failed(tmp_path):
    import argparse

    from perfbench import run

    work = tmp_path / "work"
    work.mkdir()
    run.configure_env(str(work))
    args = argparse.Namespace(workload="zonal_raster", seed=7, seconds=0.1, trace=0,
                              sf=0.001)
    bench = run.Bench(args, str(work))
    try:
        bench.make_inputs()
        true_counts = bench.references["points_in_polygons"]
        bench.references["points_in_polygons"] = {z: n + 1 for z, n in true_counts.items()}
        bench.setup()
        bench.measure()
        bench.check()
        result = bench.summarize()
    finally:
        bench.close()
    pip = [r for r in bench.records if r["name"] == "points_in_polygons"]
    assert pip and all("wrong" in r for r in pip)
    assert result["failed"] >= len(pip)
    assert bench.detail["summary"]["failed_frac"] == result["failed"] / result["attempted"]
