#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the benchmark from source
(once per source state) and runs one workload in one JVM.

    python3 perfbench/run.py --workload extract|chain --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Build outputs, scratch tables and span files
live under .bench_build/. The last line of standard output is the result JSON;
the exit code is non-zero when the build fails, the run fails or times out, or
an output check fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

T0_MS = int(time.time() * 1000)
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 175

# the module opens Spark needs on JDK 17 outside spark-submit (the program's
# build.sbt passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def build():
    """Compiles with sbt when the sources changed; returns (classpath, built)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no program sources under src/main/scala; run from a checkout root")
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's global state, sockets and temp files stay inside the checkout,
    # also those of the JVMs its launcher script starts
    env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir=%s -Djna.tmpdir=%s" % (tmp, tmp))
    cmd = ["sbt", "-batch", "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Dsbt.server.forcestart=false", "-error", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                       stdin=subprocess.DEVNULL)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout)
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["extract", "chain"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    cp, built = build()
    # set-up time starts after a build: only the first run in a checkout builds
    started = time.time() if built else T0_MS / 1000
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--t0-ms", str(int(started * 1000))])
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    budget = RUN_TIMEOUT_S - (time.time() - started)
    try:
        out, _ = p.communicate(timeout=max(budget, 30))
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        sys.exit("perfbench: run timed out")
    lines = out.splitlines()
    body = lines[:-1] if lines and lines[-1].startswith("{") else lines
    sys.stdout.write("".join(ln + "\n" for ln in body))
    if p.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        sys.exit("perfbench: run failed with exit code %d" % p.returncode)
    result = json.loads(lines[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]}
    if set(result["metrics"]) != want:
        sys.exit("perfbench: reported metrics differ from BENCHMARK.json: %s" % sorted(
            set(result["metrics"]) ^ want))
    print(lines[-1], flush=True)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
