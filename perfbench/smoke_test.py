#!/usr/bin/env python3
"""Smoke test of the benchmark harness itself, at a tiny size (two scenes,
four tiles, two queries). For each of the four workloads, untraced and traced, it
checks that the run passes all its output checks and that the last line
carries exactly the metrics BENCHMARK.json names, each with its unit. It
also checks that the benchmark refuses to run without graft's sources.

    python3 perfbench/smoke_test.py
"""
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from run import ROOT, WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RECORD_KEYS = {"workload", "seed", "k", "heap_max_mb", "git_head", "generated_at",
               "op_samples", "op_s_tail_percentile", "metrics", "layers"}


def run(workload, trace):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--smoke", "1"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check(workload, trace):
    record, last = run(workload, trace)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
    assert last["correct"] is True and last["failed"] == 0, (record["errors"], record["oracle_mismatches"])
    assert isinstance(last["attempted"], int) and last["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in last["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metrics {got} != BENCHMARK.json {want}"
    for k, v in last["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)
    assert RECORD_KEYS <= set(record), RECORD_KEYS - set(record)
    extra = {"op_s_tail", "ops_failed"} | ({"queries_per_s"} if workload == "query_mix" else {"cells_per_s"})
    assert extra <= set(record["metrics"]), extra - set(record["metrics"])
    assert record["metrics"]["ops_failed"]["value"] == 0
    print(f"ok  {workload:18s} trace={trace} attempted={last['attempted']}")


def refuses_without_sources():
    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
        shutil.copy(ROOT / "BENCHMARK.json", d)
        for p in SPEC["paths"]:
            shutil.copytree(ROOT / p, Path(d) / p,
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
        cmd = SPEC["command"] + ["--workload", "scene_ndvi", "--seed", "1",
                                 "--seconds", "1", "--trace", "0"]
        p = subprocess.run(cmd, cwd=d, capture_output=True, text=True, timeout=180)
        assert p.returncode != 0 and "correct" not in p.stdout, (p.returncode, p.stdout)
    print("ok  refuses to run without graft's sources")


def main():
    (ROOT / ".bench_build").mkdir(exist_ok=True)
    refuses_without_sources()
    # every workload the harness has, also those BENCHMARK.json leaves out
    for w in WORKLOADS:
        for trace in (0, 1):
            check(w, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
