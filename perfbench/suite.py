#!/usr/bin/env python3
"""Runs the benchmark's workloads over several seeds and summarises each
metric as its median and spread (the distance between the first and third
quartile as a share of the median, from statistics.quantiles(n=4)).

    python3 perfbench/suite.py --seeds 1-10 [--trace 0|1] [--workloads a,b] [--out FILE]

Workloads default to those BENCHMARK.json lists, run interleaved (seed 1
of every workload, then seed 2, ...). Each run's last two stdout lines
(full record, result line) are appended to --out as JSON lines.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--out", type=Path, default=ROOT / ".bench_build" / "suite.jsonl")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    results = {w: [] for w in workloads}
    args.out.parent.mkdir(parents=True, exist_ok=True)
    for seed in args.seeds:
        for w in workloads:
            cmd = SPEC["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(args.seconds), "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            record, last = p.stdout.strip().splitlines()[-2:]
            with open(args.out, "a") as f:
                f.write(record + "\n" + last + "\n")
            results[w].append((json.loads(record), json.loads(last)))
            print(f"{w} seed {seed}: correct={json.loads(last)['correct']}", file=sys.stderr)

    bounds = {m["name"]: m.get("bound") for m in SPEC["end_to_end"]}
    ok = True
    for w, runs in results.items():
        lasts = [last for _, last in runs]
        failed = sum(last["failed"] for last in lasts)
        print(f"{w}: {len(runs)} runs, failed ops {failed}, all correct "
              f"{all(last['correct'] for last in lasts)}")
        ok &= failed == 0 and len(runs) == len(args.seeds)
        if not lasts:
            continue
        for m in lasts[0]["metrics"]:
            vals = [last["metrics"][m]["value"] for last in lasts]
            sp = spread(vals) if len(vals) > 1 and statistics.median(vals) else 0.0
            b = bounds.get(m) if not args.trace else None
            flag = "" if b is None else ("  ok" if sp < b / 3 else "  WIDE" if sp > b else "  >b/3")
            print(f"  {m:36s} median {statistics.median(vals):14.6g}  spread {sp:7.4f}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
