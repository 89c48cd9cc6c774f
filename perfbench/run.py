#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload suite_sf001 --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The first run builds the library and
the harness (perfbench/harness) from source with sbt; later runs reuse the
build while the sources are unchanged. Build output, generated inputs and
run artifacts go to .bench_build/ in the checkout.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer ones.
The full run artifact (operations, host load and steal per pass, spans,
jobs) is written to .bench_build/runs/.

    python3 perfbench/run.py --record   rewrites the suite's expected values
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("suite_sf001", "etl_narrow")
BUILD_LIMIT_S = 700
RUN_LIMIT_S = 170
KEEP_ARTIFACTS = 120

# Spark on JDK 17 needs these outside spark-submit (as the root build.sbt).
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group at the limit, or
    when this process is told to stop."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        for s, h in old.items():
            signal.signal(s, h)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compile with sbt unless this exact source tree was built already."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    cp_file = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    print("perfbench: building with sbt (log: .bench_build/build.log)", file=sys.stderr)
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_LIMIT_S, cwd=HARNESS, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "classes" in l and os.pathsep in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 3)
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return cps[-1]


def java_cmd(cp, tmp):
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [
        "-Xms2g", "-Xmx2g", "-Djava.awt.headless=true", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        f"-Dderby.system.home={BUILD}",
        "-cp", cp, "graftbench.Main",
    ]


def prune(directory, keep):
    files = sorted((os.path.join(directory, f) for f in os.listdir(directory)),
                   key=os.path.getmtime)
    for f in files[:-keep]:
        os.remove(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite perfbench/data/expected/suite_sf001.tsv")
    args = ap.parse_args()
    if not args.record and (args.workload is None or args.seed is None or args.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the graft sources (build.sbt, src/main/scala/graft) are not in this checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    os.makedirs(BUILD, exist_ok=True)
    cp = build()

    cpus = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_MASTER"}
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    runs = os.path.join(BUILD, "runs")
    work = os.path.join(BUILD, "work")
    for d in (tmp, local, runs, work):
        os.makedirs(d, exist_ok=True)
    env.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=local)
    data = os.path.join(HERE, "data")

    if args.record:
        out = os.path.join(data, "expected", "suite_sf001.tsv")
        code = run_group(java_cmd(cp, tmp) + ["--record", out, "--data", data,
                                                     "--work", work],
                         3600, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
        sys.exit(0 if code == 0 else 1)

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    result = os.path.join(runs, name + ".result.json")
    artifact = os.path.join(runs, name + ".json")
    log = os.path.join(runs, name + ".log")
    # Inputs are cached by seed; other seeds' inputs go before they are
    # written back. Then flush what earlier runs left to write back, so
    # that it does not compete with the sinks' fsyncs in timed operations.
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs, exist_ok=True)
    for f in os.listdir(inputs):
        if f"-s{args.seed}-" not in f:
            os.remove(os.path.join(inputs, f))
    os.sync()
    started_ms = time.time() * 1000.0
    cmd = java_cmd(cp, tmp) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--started-ms", repr(started_ms), "--data", data, "--work", work,
        "--result", result, "--artifact", artifact]
    with open(log, "w") as out:
        code = run_group(cmd, RUN_LIMIT_S, cwd=ROOT, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    if code is None:
        fail(f"the run exceeded {RUN_LIMIT_S} s (log: {os.path.relpath(log, ROOT)})", 4)
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"the benchmark process failed with exit code {code}", 5)

    with open(result) as fh:
        res = json.load(fh)
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in listed:
        v = res["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} is missing or not a number: {v!r}", 6)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    prune(runs, KEEP_ARTIFACTS)
    print(f"perfbench: {args.workload} seed {args.seed}: artifact "
          f"{os.path.relpath(artifact, ROOT)}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
