#!/usr/bin/env python3
"""lnxspark benchmark: the serve and ingest workloads.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

The harness is its own sbt build in this directory (build.sbt), depending
on the engine's build one directory up. The first run compiles both; later
runs reuse the build while no source changed. Each run starts one JVM
(local[nproc]), generates its inputs from --seed, sets up, measures for
--seconds, checks every answer, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json under --trace 0 and its
per-layer metrics under --trace 1. The line before it holds the run's
context (host markers, sizes). `--size smoke` runs a tiny size of the same
workload in seconds (test_bench.py uses it).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
STAMP = os.path.join(HERE, "target", "build-stamp")
HEAP = "3g"
RUN_LIMIT_S = 170  # one run, build excluded: under 3 minutes
BUILD_LIMIT_S = 700  # build plus one run: under 15 minutes

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless the sources are unchanged."""
    want = digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "perfbench/writeClasspath"],
                           HERE, env, log, BUILD_LIMIT_S)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (exit {code})")
    with open(STAMP, "w") as f:
        f.write(want)
    with open(CLASSPATH) as c:
        return c.read().strip()


def run_bounded(cmd, cwd, env, log, limit_s):
    """Run cmd in its own process group; kill the group past limit_s.
    Returns the exit code (None on timeout), after the process has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def live_spark_jvms():
    """Other live JVMs with Spark on their command line."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java") and any(b"spark" in a.lower() for a in argv):
            found.append(int(pid))
    return found


def host_context():
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    ctx = {"mem_available_mb": mem.get("MemAvailable", 0) // 2**20}
    try:
        st = os.statvfs("/dev/shm")
        ctx["shm_free_mb"] = st.f_bavail * st.f_frsize // 2**20
        ctx["shm_used_mb"] = (st.f_blocks - st.f_bfree) * st.f_frsize // 2**20
    except OSError:
        pass
    return ctx


def cpu_times():
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def duck_check(work, failures):
    """Compare the curation leg's outputs with the operators' DuckDB twins.
    Returns the number of failed operations."""
    import duckdb
    with open(os.path.join(work, "curate_check.json")) as f:
        check = json.load(f)
    con = duckdb.connect()
    for rel in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {rel} AS SELECT * FROM read_parquet('{os.path.join(work, rel)}/*.parquet')")
    failed = 0
    for name, c in check.items():
        want = [list(r) for r in con.execute(c["sql"]).fetchall()]
        if want != c["rows"]:
            diff = next((i for i, (a, b) in enumerate(zip(want, c["rows"])) if a != b), min(len(want), len(c["rows"])))
            failures.append(f"curate {name} differs from DuckDB at row {diff} "
                            f"({len(c['rows'])} rows vs {len(want)})")
            failed += c["passes"]
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die(f"engine sources not found next to {os.path.relpath(HERE)} (run from a full checkout)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kind = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    cp = build()

    others = live_spark_jvms()
    if others:
        die(f"another Spark JVM is live (pids {others}); refusing to time", 3)
    host = host_context()
    heap_mb = int(HEAP[:-1]) * 1024
    if host["mem_available_mb"] < heap_mb + 1024:
        die(f"only {host['mem_available_mb']} MB of RAM available; need {heap_mb + 1024}", 3)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "outcome.json")
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--size", a.size, "--work", run_dir,
           "--local", os.path.join(WORK, "spark-local"), "--out", out]
    log_path = os.path.join(run_dir, "jvm.log")
    t0 = time.time()
    steal0, total0 = cpu_times()
    with open(log_path, "w") as log:
        code = run_bounded(cmd, ROOT, dict(os.environ), log, RUN_LIMIT_S)
    steal1, total1 = cpu_times()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die("benchmark JVM " + ("timed out" if code is None else f"failed (exit {code})"))
    with open(out) as f:
        res = json.load(f)

    failures = res["failures"]
    failed = res["failed"]
    if a.workload == "ingest" and a.trace:  # the curation leg runs in traced runs
        failed += duck_check(run_dir, failures)
    metrics = res["metrics"]
    unknown = set(metrics) - set(units)
    missing = set(units) - set(metrics)
    # each workload names the layers it does not exercise and reports them
    # as 0, so a missing name is a harness fault; only an operation that
    # failed (the run is then not correct) may leave its metric out
    if unknown or (missing and failed == 0):
        die(f"metrics {sorted(unknown or missing)} do not match BENCHMARK.json {kind}")
    metrics = {k: metrics.get(k, 0.0) for k in units}
    bad = [k for k, v in metrics.items() if not isinstance(v, (int, float)) or
           (kind == "end_to_end" and v <= 0)]
    if bad:
        die(f"metrics without a valid value: {bad}")
    context = dict(res["context"], **host, workload=a.workload, seed=a.seed, size=a.size,
                   trace=a.trace, heap=HEAP, run_wall_s=round(time.time() - t0, 2),
                   cpu_steal_frac=round((steal1 - steal0) / max(1, total1 - total0), 4))
    for msg in failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(res["attempted"]),
        "failed": int(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
