#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload serve_dashboards --seed 1 --seconds 12 --trace 0

From the root of a checkout of the repository. The first run builds the
program and the harness (sbt, offline) and generates the input tables; both
are cached under perfbench/.work and rebuilt when a source file changes.
The human report goes to stderr; the last line of stdout is
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.
The exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("serve_dashboards", "pipeline_batch", "ingest_live")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
# what `java` needs to run Spark outside spark-submit on JDK 17; the same
# list as the program's build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

sys.path.insert(0, HERE)
import datagen  # noqa: E402
import digest  # noqa: E402


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if not os.path.isfile(f):
            raise SystemExit(f"perfbench: missing build input {os.path.relpath(f, ROOT)}; "
                             "run from the root of a checkout of the repository")
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    log("perfbench: building the program and the harness (sbt) ...")
    t = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        with open(os.path.join(WORK, "build.log"), "a") as out:
            out.write(p.stdout)
        raise SystemExit(f"perfbench: build failed (exit {p.returncode}); see perfbench/.work/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t:.0f} s")
    return cp


def metric_names(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m for m in json.load(f)[kind]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    data = os.path.join(WORK, "data")
    datagen.generate(data)
    # only the latest run's files are kept
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, f"{a.workload}-{a.seed}-{a.trace}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(out)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # a fixed-size heap: no resizing after the harness's full collections
    # no hsperfdata file: the JVM would write it under /tmp, outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--out", out, "--t0-ms", str(int(time.time() * 1000))])
    with open(os.path.join(out, "jvm.log"), "w") as jl:
        try:
            p = subprocess.run(cmd, cwd=run_dir, env=env, stdout=jl, stderr=subprocess.STDOUT,
                               timeout=RUN_TIMEOUT_S, stdin=subprocess.DEVNULL)
            code = p.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    result_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_file):
        with open(os.path.join(out, "jvm.log")) as jl:
            tail = jl.read()[-3000:]
        log(tail)
        raise SystemExit(f"perfbench: the harness JVM failed ({code}); log: {out}/jvm.log")
    with open(result_file) as f:
        res = json.load(f)

    checks = list(res["checks"])
    if a.workload == "pipeline_batch":
        checks += digest.check_batch(os.path.join(out, "check"),
                                     os.path.join(HERE, "expected.json"))
    correct = all(c["ok"] for c in checks)

    log(f"perfbench: {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    log(res["report"].rstrip())
    for c in checks:
        log(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}" + (f": {c['detail']}" if c["detail"] else ""))
    log("  end-to-end metrics:" if not a.trace else "  per-layer metrics (value, unit):")

    metrics = {}
    for m in metric_names("per_layer" if a.trace else "end_to_end"):
        got = res["metrics"].get(m["name"])
        # a traced workload reports 0 for the layers it does not exercise
        value = got["value"] if got else 0.0
        if value is None:  # no operation to take it from
            value = 0.0
            correct = correct and bool(a.trace)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        if not a.trace:
            log(f"    {m['name']:<16} {value:>14.4f} {m['unit']:<6} n={got['n'] if got else 0}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
