#!/usr/bin/env python
"""Local emulation of the driver's correctness gate: run graft.Verify at a
scale factor, then replay each oracle_sql.json query in DuckDB over the same
parquet tables and compare (columns sorted by name, rows sorted, exact).

Usage: python tools/check.py [sfDir] [outDir] [--skip-verify] [only_query ...]
Driver-side tooling only (duckdb/pandas/pyarrow) — the Scala library never
depends on this.
"""
import sys, os, json, glob, subprocess

# the checkout this script belongs to: Verify runs on its sources
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
rest = sys.argv[3:]
skip = "--skip-verify" in rest
# --json PATH: also write a driver-style per-query JSON record
jout = None
if "--json" in rest:
    jout = rest[rest.index("--json") + 1]
    rest = [a for i, a in enumerate(rest)
            if a != "--json" and (i == 0 or rest[i - 1] != "--json")]
# --timeout SECS: bound each DuckDB oracle via con.interrupt() from a
# watchdog; a timed-out oracle is recorded explicitly, not hung on.
otimeout = None
if "--timeout" in rest:
    otimeout = float(rest[rest.index("--timeout") + 1])
    rest = [a for i, a in enumerate(rest)
            if a != "--timeout" and (i == 0 or rest[i - 1] != "--timeout")]
only = [a for a in rest if not a.startswith("--")]

if not skip:
    # forward query-name filters so Verify dumps only the requested queries
    names = (" " + " ".join(only)) if only else ""
    r = subprocess.run(["sbt", "-batch", f'runMain graft.Verify {sf} {out}{names}'],
                       cwd=ROOT, capture_output=True, text=True)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:]); sys.exit(1)

import duckdb, pandas as pd, numpy as np
import threading

def fresh_con():
    c = duckdb.connect()
    # bound memory so a pathological oracle (recursive CTEs at sf1)
    # spills to disk instead of drawing the kernel OOM-killer
    mem = os.environ.get("CHECK_DUCKDB_MEM")
    if mem:
        c.execute(f"SET memory_limit='{mem}'")
        # pid-suffixed: concurrent check.py instances sharing one spill
        # dir remove each other's temp files (duckdb IOException abort)
        c.execute(f"SET temp_directory='/tmp/duckdb_spill_{os.getpid()}'")
    for t in glob.glob(f"{sf}/*.parquet"):
        n = os.path.basename(t).replace(".parquet", "")
        c.execute(f"CREATE VIEW {n} AS SELECT * FROM '{t}'")
    return c

con = fresh_con()

def run_oracle(sql):
    """Run an oracle, optionally bounded by --timeout; returns (df, err)."""
    global con
    if otimeout is None:
        return con.execute(sql).df(), None
    box = {}
    def work():
        try:
            box["df"] = con.execute(sql).df()
        except Exception as e:
            box["err"] = e
    th = threading.Thread(target=work, daemon=True)
    th.start()
    th.join(otimeout)
    if th.is_alive():
        con.interrupt()
        th.join(60)
        if th.is_alive():
            # interrupt not honored: close the orphaned connection outright
            # so the stuck query cannot keep holding per-connection memory
            try:
                con.close()
            except Exception:
                pass
        con = fresh_con()
        return None, f"oracle timeout (> {otimeout:.0f}s)"
    if "err" in box:
        return None, str(box["err"])[:300]
    return box["df"], None

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = []
checked = 0
record = {}
for name in sorted(oracle):
    if only and name not in only:
        continue
    checked += 1
    pdir = f"{out}/{name}"
    if not os.path.isdir(pdir):
        print(f"FAIL {name}: no spark output"); fails.append(name)
        record[name] = {"rows_match": False, "schema_match": False,
                        "hash_match": False, "err": "no spark output"}
        continue
    try:
        got = pd.read_parquet(pdir)
        exp, oerr = run_oracle(oracle[name])
    except Exception as e:
        exp, oerr = None, str(e)[:300]
    if exp is None:
        print(f"FAIL {name}: {oerr}"); fails.append(name)
        record[name] = {"rows_match": False, "schema_match": False,
                        "hash_match": False, "err": oerr}
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        print(f"FAIL {name}: cols {list(got.columns)} vs {list(exp.columns)}")
        fails.append(name)
        record[name] = {"rows_match": len(got) == len(exp),
                        "schema_match": False, "hash_match": False,
                        "spark_rows": len(got), "oracle_rows": len(exp),
                        "err": None}
        continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); fails.append(name)
        record[name] = {"rows_match": False, "schema_match": True,
                        "hash_match": False, "spark_rows": len(got),
                        "oracle_rows": len(exp), "err": None}
        continue
    g = got.sort_values(by=list(got.columns), ignore_index=True)
    e = exp.sort_values(by=list(exp.columns), ignore_index=True)
    ok = True
    for c in g.columns:
        a, b = g[c], e[c]
        # Dtype-STRICT: the driver's hash is dtype/format-sensitive (int64 "5"
        # vs float64 "5.0" hash differently), so a kind mismatch is a failure
        # here too — no astype coercion (it masked the round-1 HUGEINT fails).
        if a.dtype.kind != b.dtype.kind:
            print(f"FAIL {name}: col {c} dtype kind mismatch "
                  f"spark={a.dtype} duck={b.dtype}")
            ok = False
            continue
        eq = (a.isna() & b.isna()) | (a == b)
        if not eq.all():
            bad = (~eq).idxmax()
            print(f"FAIL {name}: col {c} row {bad}: spark={a[bad]!r} duck={b[bad]!r} "
                  f"(dtype {a.dtype}/{b.dtype}, {int((~eq).sum())} diffs)")
            ok = False
    if ok:
        print(f"PASS {name} ({len(got)} rows)")
    else:
        fails.append(name)
    record[name] = {"rows_match": True, "schema_match": True,
                    "hash_match": ok, "spark_rows": len(got),
                    "oracle_rows": len(exp), "err": None}
if jout:
    json.dump(record, open(jout, "w"), indent=1)
    print(f"[json] {jout}: {len(record)} records")
print(f"\n{checked - len(fails)}/{checked} pass"
      + (f" (of {len(oracle)} oracles)" if checked != len(oracle) else "")
      + (f"; FAILING: {fails}" if fails else ""))
sys.exit(1 if fails or checked == 0 else 0)
