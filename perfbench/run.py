#!/usr/bin/env python3
"""Benchmark of the HTA store: ingest, history serving, reads beside
writes, and the pipeline registry.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program from
../src together with the harness (sbt, offline) into .bench_build/ and
reuses that build while the sources are unchanged. The last line of
standard output is one JSON object; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "history", "mixed", "pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

sys.path.insert(0, HERE)
import report  # noqa: E402


def jvm_opts():
    """The program's own JVM settings, read from its build (../build.sbt):
    the JDK 17 --add-opens list, the -D flags, and the default -Xmx."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            sbt = fh.read()
    except OSError:
        fail("program build not found at %s/build.sbt" % ROOT)
    opens = re.search(r"val jdk17AddOpens = Seq\(([^)]*)\)", sbt)
    xmx = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("SPARK_DRIVER_MEM", "(\w+)"\)\}', sbt)
    if not opens or not xmx:
        fail("no --add-opens list or -Xmx setting in %s/build.sbt" % ROOT)
    return (["--add-opens=%s=ALL-UNNAMED" % p for p in re.findall(r'"([^"]+)"', opens.group(1))]
            + re.findall(r'"(-D[^"]+)"', sbt) + ["-Xmx" + xmx.group(1)])


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True,
                         universal_newlines=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    """Build (when the sources changed) and return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources not found under %s/src/main/scala" % ROOT)
    cp_file = os.path.join(BUILD, "classpath.txt")
    st = stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_st, cp = fh.read().split("\n", 1)
        if old_st == st:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                               "export Runtime/fullClasspath"],
                              BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=lf)
    with open(log, "a") as lf:
        lf.write(out)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        fail("build failed (rc=%s), see %s" % (rc, log))
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(st + "\n" + cp + "\n")
    return cp


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="pipeline: write results, oracle SQL and "
                    "digests to this directory instead of checking digests")
    a = ap.parse_args()
    e2e_spec, layer_spec = benchmark_spec()
    cp = classpath()

    work = os.path.join(BUILD, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, "%s-%d-trace%d.log" % (a.workload, a.seed, a.trace))
    cmd = (["java"] + jvm_opts() + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                  "-Dderby.system.home=" + work,
                                  "-cp", cp, "perfbench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--work", work,
                                  "--tables", os.path.join(HERE, "data", "sf0.1"),
                                  "--digests", os.path.join(HERE, "digests.json")])
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    t0 = time.time()
    try:
        with open(log, "w") as lf:
            rc, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stderr=lf)
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
                shutil.copy(spans, os.path.join(BUILD, "trace", "%s-%d.jsonl"
                                                % (a.workload, a.seed)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    last = [l for l in out.splitlines() if l.startswith("{")]
    if rc != 0 or not last:
        fail("run failed (rc=%s) after %.0f s, see %s" % (rc, time.time() - t0, log), 1)
    res = json.loads(last[-1])
    with open(log[:-4] + ".json", "w") as fh:
        fh.write(last[-1] + "\n")

    print("# workload=%s seed=%d seconds=%g trace=%d" % (a.workload, a.seed, a.seconds, a.trace))
    if a.trace:
        metrics, lines = report.layers(res, layer_spec)
    else:
        metrics, lines = report.e2e(res)
        metrics = {n: metrics[n] for n, _ in e2e_spec}
    for l in lines:
        print(l)
    for f in res["failures"]:
        print("FAILED " + f)
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
