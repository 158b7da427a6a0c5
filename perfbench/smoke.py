#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size (a few minutes):

    python3 perfbench/smoke.py [workload ...]

For every workload (default: suite, hrv_batch, hrv_stream) it asserts that
  - an untraced run prints every end_to_end metric of BENCHMARK.json with
    its unit, non-zero, and passes every output check;
  - a traced run prints every per_layer metric with its unit;
  - with --perturb 1 every output check fails, so no check is vacuous;
and that run.py, copied without the engine sources, exits non-zero
without printing a result.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = sys.argv[1:] or ["suite", "hrv_batch", "hrv_stream"]


def run(workload, trace, perturb=0, cwd=ROOT, script=HERE / "run.py"):
    cmd = [sys.executable, str(script), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--size", "tiny",
           "--perturb", str(perturb)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def result(r):
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1, out
    return out


def check_lines(r):
    lines = [ln for ln in r.stderr.splitlines() if ln.startswith("[perfbench] check ")]
    assert lines, r.stderr[-3000:]
    return lines


def metrics_match(out, spec_metrics, nonzero):
    names = [m["name"] for m in spec_metrics]
    assert list(out["metrics"]) == names, (list(out["metrics"]), names)
    for m in spec_metrics:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), (m, got)
        assert not nonzero or got["value"] != 0, (m, got)


def main():
    for w in WORKLOADS:
        r = run(w, 0)
        out = result(r)
        metrics_match(out, SPEC["end_to_end"], nonzero=True)
        assert out["correct"] and out["failed"] == 0, check_lines(r)
        print(f"ok   {w}: {len(out['metrics'])} end-to-end metrics, checks pass")

        r = run(w, 1, perturb=1)
        out = result(r)
        metrics_match(out, SPEC["per_layer"], nonzero=False)
        lines = check_lines(r)
        passing = [ln for ln in lines if not ln.startswith("[perfbench] check FAIL")]
        assert not passing, f"checks that passed a wrong expectation: {passing}"
        assert not out["correct"] and out["failed"] >= len(lines), out
        print(f"ok   {w}: {len(out['metrics'])} per-layer metrics, "
              f"all {len(lines)} checks fail on a wrong expectation")

    bare = ROOT / ".bench_build" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    r = run(WORKLOADS[0], 0, cwd=bare, script=bare / HERE.name / "run.py")
    shutil.rmtree(bare, ignore_errors=True)
    assert r.returncode != 0 and not r.stdout.strip(), (r.returncode, r.stdout)
    print("ok   without the engine sources: exit", r.returncode, "and no result")


if __name__ == "__main__":
    main()
