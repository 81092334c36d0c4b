#!/usr/bin/env python3
"""Record perfbench/expected.json: the outputs every benchmark run is
checked against, and the reference cost gate_mix stratifies by.

    python3 perfbench/record.py VERIFY_OUT [GATE ...]

VERIFY_OUT is the output directory of `graft.Verify perfbench/data/sf0.1
VERIFY_OUT` (the same tables as the sf0.1 test data), after
`tools/check.py <sf0.1 dir> VERIFY_OUT --skip-verify` passed. This script

1. fingerprints each gate's Verify output (row count + order-free hash);
2. runs every non-streaming gate (batch and loop gates) once through the
   benchmark's own sink in one warm JVM, and requires the same
   fingerprints: the timed run checks exactly what the oracle compare
   checked. Its single-run times become the reference costs (`ref_s`);
3. runs one Curate chain and records its stage row counts and manifest
   fingerprint.

With GATE names it re-records only those gates (steps 1 and 2) and keeps
everything else expected.json holds.
"""
import hashlib
import json
import os
import subprocess
import sys

import run
import workloads


def jvm(cp, args, work):
    cmd, env = run.jvm(cp, work, args)
    r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, env=env)
    line = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if r.returncode != 0 or not line:
        sys.exit(f"JVM failed: {' '.join(args[:3])}")
    return json.loads(line[-1][len("PERFBENCH_RESULT "):])


def write(expected):
    with open(run.EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    verify_out = os.path.abspath(sys.argv[1])
    only = sys.argv[2:]
    cp = run.build()
    work = os.path.join(run.WORK, "record")
    gates = only or workloads.timed_gates(
        q for q in os.listdir(verify_out) if os.path.isdir(os.path.join(verify_out, q)))
    oracle = jvm(cp, ["fingerprint"] + [os.path.join(verify_out, q) for q in gates], work)

    live = jvm(cp, ["run", "--workload", "record", "--data", run.DATA, "--work", work,
                    "--seconds", "0", "--trace", "0", "--passes", ",".join(gates)], work)
    out, bad = {}, []
    for u in live["units"]:
        o = oracle[u["name"]]
        if u["error"] or u["rows"] != o["rows"] or u["fp"] != o["fp"]:
            bad.append(f"{u['name']}: live {u['rows']}/{u['fp']} {u['error'][:200]} "
                       f"vs Verify {o['rows']}/{o['fp']}")
        out[u["name"]] = {"rows": o["rows"], "fp": o["fp"], "ref_s": round(u["sec"], 4)}
    if bad:
        sys.exit("live outputs differ from Verify's:\n" + "\n".join(bad))
    if only:
        with open(run.EXPECTED) as fh:
            expected = json.load(fh)
        expected["gates"].update(out)
        write(expected)
        print(f"re-recorded {len(out)} gates into {run.EXPECTED}")
        return

    chain = jvm(cp, ["run", "--workload", "curate", "--data", run.DATA, "--work", work,
                     "--seconds", "0", "--trace", "0"], work)
    stages = [u for u in chain["units"] if u["pass"] == 0]
    if [u["name"] for u in stages] != list(workloads.CURATE_STAGES):
        sys.exit(f"unexpected Curate stages {[u['name'] for u in stages]}")

    data = {}
    for f in sorted(os.listdir(run.DATA)):
        with open(os.path.join(run.DATA, f), "rb") as fh:
            data[f] = hashlib.sha256(fh.read()).hexdigest()
    expected = {
        "data": data,
        "gates": out,
        "curate": {
            "stage_rows": [u["rows"] for u in stages],
            "manifest_fp": chain["curate"][0]["manifest_fp"],
            "input_bytes": os.path.getsize(os.path.join(run.DATA, "documents.parquet")),
        },
    }
    write(expected)
    print(f"recorded {len(out)} gates and the Curate chain into {run.EXPECTED}")


if __name__ == "__main__":
    main()
