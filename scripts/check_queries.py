#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: compare the parquet
dumps written by `graft.Verify <sfDir> <outDir> [q_a,q_b,...]` against
their DuckDB oracle rows (columns sorted by name, rows sorted, exact
value compare). A query with an oracle but no parquet dump (Verify could
not run it) is a named failure; the other queries are still checked.
Usage:
  python3 scripts/check_queries.py OUTDIR [SFDIR] [--json OUT.json]

--json writes a driver-format per-query record (rows/schema/hash match)
so each round carries a committed CORRECTNESS_SELF_r*.json even when
the driver's own artifact goes missing (round 13 shipped `{}`).

Each oracle's DuckDB wall time is measured; the ten slowest are printed
as `slowest oracle <s> s <name>` lines and kept in the record's
`__meta__.slowest_oracles_s`.
"""
import json, math, sys, time
from pathlib import Path

import duckdb

argv = list(sys.argv[1:])
json_out = None
if "--json" in argv:
    i = argv.index("--json")
    json_out = Path(argv[i + 1])
    del argv[i:i + 2]
outdir = Path(argv[0])
sfdir = Path(argv[1] if len(argv) > 1 else "/root/testdata/sf0.01")

con = duckdb.connect()
for p in sfdir.glob("*.parquet"):
    con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")

oracles = json.loads((outdir / "oracle_sql.json").read_text())


# The driver hashes results through pandas: HUGEINT/DECIMAL lose their
# integer dtype (-> float64/object) and LIST/STRUCT columns crash
# sort_values ("unhashable type"). Reject them here so an uncast oracle
# column can never ship green locally and fail the driver's gate.
BAD_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL", "STRUCT", "MAP", "[]")


def dtype_offenders(rel):
    return [
        f"{c}:{t}"
        for c, t in zip(rel.columns, rel.types)
        if any(bad in str(t).upper() for bad in BAD_TYPES)
    ]


fail = 0
records = {}
oracle_s = {}
for name, sql in sorted(oracles.items()):
    if not any((outdir / name).glob("*.parquet")):
        print(f"[FAIL] {name}: no parquet dump")
        fail += 1
        records[name] = {"rows_match": False, "schema_match": False,
                         "hash_match": False, "spark_rows": None,
                         "oracle_rows": None, "err": "no parquet dump"}
        continue
    spark_rel = con.sql(f"SELECT * FROM '{outdir / name}/*.parquet'")
    cols = sorted(spark_rel.columns)
    sel = ", ".join(f'"{c}"' for c in cols)
    srows = con.sql(f'SELECT {sel} FROM spark_rel ORDER BY ALL').fetchall()
    t0 = time.perf_counter()
    orel = con.sql(sql)
    bad = [("oracle", o) for o in dtype_offenders(orel)]
    bad += [("spark", o) for o in dtype_offenders(spark_rel)]
    if bad:
        for side, o in bad:
            print(f"[FAIL] {name}: {side} column {o} is not driver-hashable "
                  f"(CAST to BIGINT/DOUBLE or posexplode)")
        fail += 1
        records[name] = {"rows_match": False, "schema_match": False,
                         "hash_match": False, "spark_rows": len(srows),
                         "oracle_rows": None,
                         "err": "non-hashable dtype: " + ", ".join(o for _, o in bad)}
        continue
    ocols = sorted(orel.columns)
    orows = con.sql(f'SELECT {", ".join(chr(34)+c+chr(34) for c in ocols)} FROM orel ORDER BY ALL').fetchall()
    oracle_s[name] = time.perf_counter() - t0
    ok = cols == ocols and len(srows) == len(orows)
    if ok:
        for a, b in zip(srows, orows):
            for x, y in zip(a, b):
                if isinstance(x, float) and isinstance(y, float):
                    if not (x == y or (math.isnan(x) and math.isnan(y))):
                        ok = False
                elif x != y:
                    ok = False
            if not ok:
                break
    status = "OK " if ok else "FAIL"
    print(f"[{status}] {name}: spark={len(srows)} cols={cols} oracle={len(orows)} cols={ocols}")
    records[name] = {"rows_match": len(srows) == len(orows),
                     "schema_match": cols == ocols, "hash_match": ok,
                     "spark_rows": len(srows), "oracle_rows": len(orows),
                     "err": None}
    if not ok:
        fail += 1
        for i, (a, b) in enumerate(zip(srows, orows)):
            if a != b:
                print(f"  first diff at row {i}:\n    spark : {a}\n    oracle: {b}")
                break
slowest = dict(sorted(oracle_s.items(), key=lambda kv: -kv[1])[:10])
for name, s in slowest.items():
    print(f"slowest oracle {s:9.2f} s {name}")
if json_out is not None:
    # Gate-record coverage assert (r18 lesson: a query landed after the
    # gate refresh and the committed record silently covered 319/320):
    # the record's key set must EQUAL SparkEntry.queries.keySet as
    # dumped by the same Verify run. A missing queries.json means a
    # partial/stale dump — also a gate failure.
    qj = outdir / "queries.json"
    if not qj.exists():
        print("[FAIL] gate-record coverage: queries.json missing from the "
              "dump — run graft.Verify without a name list")
        fail += 1
    else:
        all_queries = set(json.loads(qj.read_text()))
        missing = sorted(all_queries - set(records))
        extra = sorted(set(records) - all_queries)
        if missing or extra:
            print(f"[FAIL] gate-record coverage: record != "
                  f"SparkEntry.queries.keySet (missing={missing}, "
                  f"extra={extra}) — every query needs an oracleSql entry "
                  f"and a green row")
            fail += 1
        else:
            print(f"[OK ] gate-record coverage: {len(records)} records == "
                  f"queries.keySet")
    # Stamp the gate record (r19 verdict: a byte-identical refresh leaves
    # no git trace — generated_at + tree hash make freshness provable).
    import datetime, subprocess
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              cwd=Path(__file__).parent).stdout.strip()
    except OSError:
        head = None
    records["__meta__"] = {
        "generated_at": datetime.datetime.now(datetime.timezone.utc)
            .isoformat(timespec="seconds"),
        "git_head_at_generation": head or "unknown",
        "n_records": len(records),
        "slowest_oracles_s": {n: round(s, 2) for n, s in slowest.items()},
    }
    json_out.write_text(json.dumps(records, indent=2) + "\n")
    print(f"[json] wrote {len(records) - 1} records to {json_out}")
sys.exit(1 if fail else 0)
