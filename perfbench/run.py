#!/usr/bin/env python3
"""Raster benchmark of graft: builds the harness from this checkout's
sources, runs one workload in one JVM and prints the result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--smoke 1]

Workloads: scene_ndvi, scene_focal_write, tile_zonal, query_mix (see
perfbench/README.md). Every input is generated from --seed. The last
stdout line is one JSON object {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The line before it is the full record (workload, seed,
k, heap, git HEAD, generated_at and every metric with its unit); a copy
goes to .bench_build/records/.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "target" / "scala-2.13" / "classes"
WORKLOADS = ("scene_ndvi", "scene_focal_write", "tile_zonal", "query_mix")
DEADLINE_S = 170

END_TO_END = {
    "op_s_p50": "s", "ops_per_s": "1/s", "cpu_s_per_op": "s",
    "setup_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "geotiff.bytes_read": "B/op", "geotiff.read_amplification": "ratio",
    "geotiff.read_window_us": "us", "geotiff.read_info_us": "us",
    "geotiff.write_tile_us": "us",
    "datasource.scan_partitions": "count/op", "datasource.tiles_out": "count/op",
    "udt.encode_us": "us", "udt.decode_us": "us",
    "core.ndvi_us": "us", "core.focal_mean_us": "us", "core.resample_us": "us",
    "core.stats_us": "us",
    "expressions.generate_rows": "count/op",
    "entry.build_ms": "ms/op", "entry.build_jobs": "count/op",
    "catalyst.analysis_ms": "ms/op", "catalyst.optimization_ms": "ms/op",
    "catalyst.planning_ms": "ms/op",
    "scheduler.jobs": "count/op", "scheduler.stages": "count/op",
    "scheduler.tasks": "count/op", "scheduler.driver_only_ms": "ms/op",
    "executor.run_ms": "ms/op", "executor.cpu_ms": "ms/op",
    "executor.slot_utilisation": "ratio",
    "shuffle.write_bytes": "B/op", "shuffle.read_bytes": "B/op",
    "shuffle.spill_bytes": "B/op",
    "blockmanager.rdd_block_peak_bytes": "B",
    "jvm.gc_ms": "ms/op",
    "trace.overhead_s": "s",
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """The Spark install graft builds and runs against: $SPARK_HOME, else
    the first spark-submit on PATH that sits in an install with jars/."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home)
    fail("no Spark install found: set SPARK_HOME or put Spark's spark-submit on PATH")


def source_digest():
    """Hash of everything the harness build compiles."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT / 'src/main/scala'}; run from a graft checkout")
    stamp = BUILD / "build.stamp"
    digest = source_digest()
    if stamp.exists() and stamp.read_text() == digest and CLASSES.is_dir():
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += (" -Dsbt.override.build.repos=true -Dsbt.repository.config="
                 f"{Path.home() / '.sbt' / 'repositories'} -Dsbt.offline=true")
    env["SBT_OPTS"] = (opts + " -Xmx2g -XX:-UsePerfData").strip()
    env["SPARK_HOME"] = str(spark_home())
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile / copyResources"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness build failed (exit {rc}); log in {log}", 3)
    stamp.write_text(digest)


def run_jvm(args, work, out):
    cp = f"{CLASSES}:{spark_home() / 'jars'}/*"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = (["java", *opens, "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(out), "--smoke", str(args.smoke)])
    log = work / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("interrupted", 4)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - START)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness timed out; log in {log}", 5)
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness exited {rc}; log in {log}", 6)
    return json.loads(out.read_text())


def oracle_check(work, queries):
    """Compares each dumped query result with its SparkEntry.oracleSql in
    DuckDB: columns sorted by name, rows sorted, values compared exactly."""
    import duckdb
    con = duckdb.connect()
    tables = work / "inputs" / "tables"
    for t in ("lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables / (t + '.parquet')}/*.parquet'")
    oracles = json.loads((work / "verify" / "oracle_sql.json").read_text())
    bad = {}
    for q in queries:
        try:
            srel = con.sql(f"SELECT * FROM '{work / 'verify' / q}/*.parquet'")
            orel = con.sql(oracles[q])
            scols, ocols = sorted(srel.columns), sorted(orel.columns)
            if scols != ocols:
                bad[q] = f"columns {scols} != oracle {ocols}"
                continue
            sel = ", ".join(f'"{c}"' for c in scols)
            srows = con.sql(f"SELECT {sel} FROM srel ORDER BY ALL").fetchall()
            orows = con.sql(f"SELECT {sel} FROM orel ORDER BY ALL").fetchall()
            if len(srows) != len(orows):
                bad[q] = f"{len(srows)} rows != oracle {len(orows)}"
                continue
            for i, (a, b) in enumerate(zip(srows, orows)):
                same = all(x == y or (isinstance(x, float) and isinstance(y, float)
                                      and math.isnan(x) and math.isnan(y)) for x, y in zip(a, b))
                if not same:
                    bad[q] = f"row {i}: {a} != oracle {b}"
                    break
        except Exception as e:  # an unreadable dump or failing oracle is a wrong output
            bad[q] = f"{type(e).__name__}: {e}"
    return bad


def tail(times):
    """The highest whole percentile with at least ten samples above it."""
    s = sorted(times)
    n = len(s)
    for p in range(99, 0, -1):
        v = s[max(0, math.ceil(p / 100 * n) - 1)]
        if sum(1 for x in s if x > v) >= 10:
            return p, v
    return 100, s[-1]


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", type=int, default=0, choices=(0, 1),
                    help="tiny inputs and one set-up, for the harness's own test")
    args = ap.parse_args()

    build()
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        rec = run_jvm(args, work, work / "record.json")
        bad = oracle_check(work, sorted(set(rec["op_labels"]))) if args.workload == "query_mix" else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = rec["op_s"]
    labels = rec["op_labels"]
    traced_ops = rec.get("traced_op_s", [])
    errors = rec["warmup_errors"] + rec["errors"] + rec.get("traced_errors", [])
    # a query whose output disagrees with its oracle fails every op it ran
    wrong = sum(1 for lb in labels + rec.get("traced_op_labels", []) if lb in bad)
    attempted = len(rec["setup_s_runs"]) + rec["warmup_ops"] + len(ops) + len(traced_ops)
    failed = min(attempted, len(errors) + wrong)

    wall = sum(ops)
    p, tail_v = tail(ops)
    metrics = {
        "op_s_p50": statistics.median(ops),
        "ops_per_s": len(ops) / wall,
        "cpu_s_per_op": sum(rec["op_cpu_s"]) / len(ops),
        "setup_s": statistics.median(rec["setup_s_runs"]),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    extra = {"op_s_tail": (tail_v, "s"), "ops_failed": (failed / attempted, "ratio")}
    if rec["cells_per_op"] > 0:
        extra["cells_per_s"] = (rec["cells_per_op"] * len(ops) / wall, "1/s")
    if args.workload == "query_mix":
        extra["queries_per_s"] = (len(ops) / wall, "1/s")
    layers = {}
    if args.trace:
        layers = dict(rec["layers"])
        layers["trace.overhead_s"] = statistics.median(traced_ops) - statistics.median(ops)

    full = {
        "workload": args.workload, "seed": args.seed, "k": rec["k"],
        "heap_max_mb": rec["heap_max_mb"], "git_head": git_head(),
        "generated_at": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "seconds": args.seconds, "trace": args.trace, "smoke": bool(args.smoke),
        "op_samples": len(ops), "op_s_tail_percentile": p,
        "setup_s_runs": rec["setup_s_runs"], "op_s": ops, "steal_share": rec["steal_share"],
        "metrics": {**{k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
                    **{k: {"value": v, "unit": u} for k, (v, u) in extra.items()}},
        "layers": {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()},
        "errors": errors[:5], "oracle_mismatches": bad,
    }
    if args.workload == "query_mix":
        per_q = {}
        for lb, t in zip(labels, ops):
            per_q.setdefault(lb, []).append(t)
        full["query_s_p50"] = {q: statistics.median(v) for q, v in sorted(per_q.items())}
    line = json.dumps(full)
    records = BUILD / "records"
    records.mkdir(exist_ok=True)
    (records / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(line + "\n")
    print(line)

    shown = ({k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER} if args.trace
             else {k: {"value": metrics[k], "unit": END_TO_END[k]} for k in END_TO_END})
    print(json.dumps({"correct": failed == 0 and not bad, "attempted": attempted, "failed": failed,
                      "metrics": shown}))


START = time.time()
if __name__ == "__main__":
    main()
