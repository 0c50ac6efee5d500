#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result line.

    python3 perfbench/run.py --workload eth_export --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (the benchmark's own build under perfbench/ compiles the
engine from the checkout's sources); later runs reuse the build while the
sources are unchanged. Everything a run writes goes under .bench_build/.

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. The line before it stamps
the run's environment (host steal and load). A traced run also leaves its
spans in .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("eth_export", "suite")
RUN_TIMEOUT_S = 170
# a fixed heap and young generation keep peak RSS steady between runs
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
BUILD_TIMEOUT_S = 700
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                os.path.join(ROOT, "project", "build.properties"),
                os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no engine build.sbt in the checkout root")
    stamp = os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            old_digest, cp = f.read().split("\n", 1)
        if old_digest == digest:
            return cp.strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout)
        raise SystemExit(f"perfbench: build failed ({out.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *ADD_OPENS, *JVM_MEMORY, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
           work, os.path.join(HERE, "data")]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: {a.workload} exceeded {RUN_TIMEOUT_S}s")
    try:
        if rc != 0:
            raise SystemExit(f"perfbench: benchmark exited with {rc}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.loads(f.read())
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            for t in os.listdir(work):
                if t.startswith("trace-"):
                    shutil.copy(os.path.join(work, t), traces)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m = res["metrics"]
    for fail in res["failures"]:
        log(f"failed key: {fail}")
    print(json.dumps({"env": {k: m[k]["value"] for k in ("host.steal_pct", "host.loadavg")},
                      "passes": m["bench.passes"]["value"], "calls": m["bench.calls"]["value"]}))
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {w["name"]: {"value": m[w["name"]]["value"], "unit": w["unit"]} for w in wanted},
    }))


if __name__ == "__main__":
    main()
