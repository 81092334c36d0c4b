#!/usr/bin/env python3
"""Benchmark command for the graft engine.

    python3 perfbench/run.py --workload gate_mix|curate --seed N \
        --seconds S --trace 0|1

Run from the repository root. It compiles the engine (src/main/scala) and
the benchmark's JVM side (perfbench/src) with the Scala compiler that ships
in Spark's jars, then runs one workload in a fresh JVM on one
local[<cores>] session over the tables in perfbench/data/sf0.1, one client
thread, closed loop. It checks every query's row count and fingerprint (and
Curate's stage row counts and manifest) against perfbench/expected.json and
prints, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones, and the spans of the run are written to
perfbench/.work/spans-<workload>-<seed>.json.

Environment: SPARK_HOME names the Spark install whose jars/ holds Spark and
the Scala compiler (unset: the install of a spark-submit on PATH); java
must be on PATH.
"""
import argparse
import glob
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import workloads  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected.json")
HEAP = "4g"
RUN_LIMIT_S = 170  # the whole run, build excluded

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def cores():
    return len(os.sched_getaffinity(0))


def spark_jars():
    """jars/ of the Spark install: $SPARK_HOME, else the first directory on
    PATH holding a spark-submit whose install has Spark's jars."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise BenchError("no Spark install with jars/ found; set SPARK_HOME")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BenchError(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile engine + benchmark into perfbench/.build/classes unless the
    sources are unchanged since the last build. Returns the classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for jar in sorted(os.listdir(jars)):
        h.update(jar.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", tmp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("build failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def check_data(expected):
    """The input tables must be the recorded ones, byte for byte."""
    for name, digest in expected["data"].items():
        path = os.path.join(DATA, name)
        if not os.path.isfile(path):
            raise BenchError(f"missing input table {path}")
        with open(path, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise BenchError(f"input table {path} differs from the recorded one")


def jvm(cp, work, args):
    """The command and environment that run perfbench.Main with `args`,
    keeping the JVM's temporary files under `work`. Without UsePerfData
    the JVM writes no hsperfdata file into the system's temporary
    directory."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    env.pop("SPARK_GRAFT_MASTER", None)
    return cmd + ["-cp", cp, "perfbench.Main"] + args, env


def run_jvm(cp, workload, passes, seconds, trace, work):
    """Run one workload in a fresh JVM. Returns (setup seconds, result)."""
    cmd, env = jvm(cp, work, [
        "run", "--workload", workload, "--data", DATA, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace),
        "--passes", ";".join(",".join(p) for p in passes)])
    log = open(os.path.join(work, "jvm.log"), "w")
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            cwd=work, env=env, start_new_session=True)
    setup_s, setup_parts, result = None, None, None

    def kill(_signum=None, _frame=None):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGALRM, kill)
    signal.alarm(RUN_LIMIT_S)
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_EVENT setup_done "):
                setup_s = time.monotonic() - t0
                setup_parts = json.loads(line[len("PERFBENCH_EVENT setup_done "):])
            elif line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
        rc = proc.wait()
    finally:
        signal.alarm(0)
        kill()
        proc.wait()
        log.close()
    if rc != 0 or result is None or setup_s is None:
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(WORK, "failed-jvm.log"))
        raise BenchError(f"JVM run failed (exit {rc}); its log is {WORK}/failed-jvm.log")
    result["setup_parts"] = setup_parts
    return setup_s, result


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def tail(values):
    """(value, percentile, samples beyond) of the highest percentile that
    has at least 10 samples beyond it; the maximum if there are <= 10."""
    s = sorted(values)
    if len(s) <= 10:
        return s[-1], 100, 0
    i = len(s) - 11
    return s[i], math.floor(100 * (i + 1) / len(s)), 10


def check(workload, result, expected):
    """One message per failed unit: an error, or an output that differs
    from the record."""
    failures = []
    if workload == "curate":
        want = expected["curate"]
        for p, chain in enumerate(result["curate"]):
            names = tuple(u["name"] for u in result["units"] if u["pass"] == p)
            if names != workloads.CURATE_STAGES:
                failures.append(f"chain {p}: stages {list(names)}, "
                                f"expected {list(workloads.CURATE_STAGES)}")
        for u in result["units"]:
            if u["name"] not in workloads.CURATE_STAGES:
                continue
            i = workloads.CURATE_STAGES.index(u["name"])
            chain = result["curate"][u["pass"]]
            if u["rows"] != want["stage_rows"][i]:
                failures.append(f"chain {u['pass']} {u['name']}: rows {u['rows']}, "
                                f"expected {want['stage_rows'][i]}")
            elif u["name"] == "manifest" and chain["manifest_fp"] != want["manifest_fp"]:
                failures.append(f"chain {u['pass']} manifest: fingerprint "
                                f"{chain['manifest_fp']}, expected {want['manifest_fp']}")
        return failures
    for u in result["units"]:
        e = expected["gates"][u["name"]]
        if u["error"]:
            failures.append(f"{u['name']}: {u['error'][:300]}")
        elif u["rows"] != e["rows"] or u["fp"] != e["fp"]:
            failures.append(f"{u['name']}: rows {u['rows']} fp {u['fp']}, "
                            f"expected rows {e['rows']} fp {e['fp']}")
    return failures


def wall_clock(result):
    """Wall-clock figures of the timed part. They are reported but not
    gated: see NOTES.md for their spread."""
    secs = [u["sec"] for u in result["units"]]
    t, pct, beyond = tail(secs)
    return {"wall_s": statistics.median(result["pass_walls"]),
            "query_p50_s": statistics.median(secs),
            "query_tail_s": t, "query_tail_percentile": pct, "query_tail_beyond": beyond,
            "queries_per_s": len(secs) / sum(result["pass_walls"]),
            "samples": len(secs)}


def end_to_end(result):
    """The gated metrics. Both are CPU seconds of the JVM (all threads):
    set-up from JVM launch, and the median pass. On a shared host, wall
    time follows how much CPU the host withholds; see NOTES.md."""
    return {
        "setup_s": (result["setup_parts"]["cpu_s"], "s"),
        "cpu_s": (statistics.median(result["pass_cpu_s"]), "s"),
    }


def compiles_per_job(units):
    jobs = sum(u["jobs"] for u in units)
    return sum(u["compiles"] for u in units) / jobs if jobs else 0.0


def per_layer(workload, result, expected, costs):
    layers = result["layers"]
    units = result["units"]
    secs = [u["sec"] for u in units]
    loops = workloads.loop_set(costs) if workload == "gate_mix" else []
    m = {"query.p50_s": (statistics.median(secs), "s"),
         "query.tail_s": (tail(secs)[0], "s"),
         "tables.open_s": (result["tables_open_s"], "s"),
         "trace.wall_s": (statistics.median(result["pass_walls"]), "s"),
         "jvm.retained_heap_mb": (result["heap_mb"], "MB")}
    for k, v in sorted(layers.items()):
        unit = ("s" if k.endswith("_s") else "bytes" if "_bytes" in k
                else "ratio" if k.endswith("_ratio") else "count")
        m[k] = (v if v is not None else 0.0, unit)
    m["codegen.compiles_per_pass"] = (
        sum(u["compiles"] for u in units) / len(result["pass_walls"]), "count")
    m["codegen.loop_compiles_per_job"] = (
        compiles_per_job([u for u in units if u["name"] in loops]), "count")
    m["codegen.other_compiles_per_job"] = (
        compiles_per_job([u for u in units if u["name"] not in loops]), "count")
    for q in workloads.loop_set(costs):
        xs = [u["sec"] for u in units if u["name"] == q]
        m[f"loops.{q}_s"] = (statistics.median(xs) if xs else 0.0, "s")
    for st in workloads.CURATE_STAGES:
        xs = [u["sec"] for u in units if u["name"] == st] if workload == "curate" else []
        m[f"curate.{st}_s"] = (statistics.median(xs) if xs else 0.0, "s")
    if workload == "curate":
        docs = expected["curate"]["stage_rows"][0]
        written = statistics.median(c["bytes_written"] for c in result["curate"])
        m["curate.docs_per_s"] = (docs / statistics.median(result["pass_walls"]), "1/s")
        m["curate.write_amp"] = (written / expected["curate"]["input_bytes"], "ratio")
    else:
        m["curate.docs_per_s"] = (0.0, "1/s")
        m["curate.write_amp"] = (0.0, "ratio")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        cp = build()
        with open(EXPECTED) as fh:
            expected = json.load(fh)
        check_data(expected)
        costs = {q: e["ref_s"] for q, e in expected["gates"].items()}
        passes = workloads.passes(a.workload, a.seed, costs)
        work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        spans = os.path.join(WORK, f"spans-{a.workload}-{a.seed}.json")
        steal0, total0 = cpu_ticks()
        try:
            setup_s, result = run_jvm(cp, a.workload, passes, a.seconds, a.trace, work)
            if a.trace:
                shutil.copy(os.path.join(work, "spans.json"), spans)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    failures = check(a.workload, result, expected)
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    steal1, total1 = cpu_ticks()
    report = dict(wall_clock(result), passes=len(result["pass_walls"]),
                  host_steal_share=(steal1 - steal0) / max(1, total1 - total0),
                  setup_parts_s=result["setup_parts"],
                  units_s=[[u["name"], round(u["sec"], 4)] for u in result["units"]])
    report["setup_wall_s"] = setup_s
    m = end_to_end(result)
    if a.trace:
        m = per_layer(a.workload, result, expected, costs)
        report["spans"] = os.path.relpath(spans, ROOT)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": not failures,
        "attempted": len(result["units"]),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
