#!/usr/bin/env python3
"""Steadiness check: runs the benchmark on every workload of BENCHMARK.json
over ten seeds, in two sets (seeds 1-10, then 11-20), and checks the spread
and drift of each end-to-end metric against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--out FILE]

For each set and workload it reports every metric's median and the distance
between its first and third quartile as a share of the median
(statistics.quantiles(values, n=4)). The check fails when a spread exceeds the
metric's bound, when the second set's median is worse than the first set's by
more than the bound, or when a run fails. Run from the root of a checkout;
--out writes every value and verdict as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SEEDS = 10
SETS = 2
FIRST_SEED = 1


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    r = json.loads(lines[-1])
    # the host sentinel is printed beside the result: keep it as a diagnostic
    for ln in lines[:-1]:
        if ln.startswith("host.sentinel_docs_per_s"):
            r["sentinel"] = float(ln.split()[1])
    return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    values = {}  # (set, workload, metric) -> [values]
    failures = []
    for s in range(SETS):
        for i in range(SEEDS):
            seed = FIRST_SEED + s * SEEDS + i
            for w in workloads:
                t0 = time.time()
                r = run(w, seed, bench["run_seconds"])
                ok = r is not None and r["correct"]
                print("set %d %-8s seed %3d  %5.1f s  %s" % (
                    s + 1, w, seed, time.time() - t0,
                    " ".join("%s=%.4g" % (k, v["value"]) for k, v in r["metrics"].items())
                    if r else "FAILED"), flush=True)
                if not ok:
                    failures.append("set %d %s seed %d: run failed or incorrect" % (s + 1, w, seed))
                    continue
                for m, v in r["metrics"].items():
                    values.setdefault((s, w, m), []).append(v["value"])
                values.setdefault((s, w, "sentinel"), []).append(r.get("sentinel"))
    report = []
    for w in workloads:
        for m, spec in e2e.items():
            meds = []
            for s in range(SETS):
                xs = values.get((s, w, m), [])
                if len(xs) < 2:
                    failures.append("%s %s set %d: fewer than 2 values" % (w, m, s + 1))
                    meds.append(None)
                    continue
                q1, med, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med
                meds.append(med)
                row = {"workload": w, "metric": m, "set": s + 1, "n": len(xs), "median": med,
                       "q1": q1, "q3": q3, "spread": spread, "bound": spec["bound"],
                       "values": xs, "host_sentinel": values.get((s, w, "sentinel"))}
                if spread > spec["bound"]:
                    failures.append("%s %s set %d: spread %.3f > bound %.3f" % (w, m, s + 1, spread, spec["bound"]))
                if s > 0 and meds[0]:
                    worse = (med - meds[0]) / meds[0] if spec["better"] == "lower" else (meds[0] - med) / meds[0]
                    row["worse_than_set1"] = worse
                    if worse > spec["bound"]:
                        failures.append("%s %s set %d: median %.4g worse than set 1's %.4g by %.3f > %.3f" % (
                            w, m, s + 1, med, meds[0], worse, spec["bound"]))
                report.append(row)
                print("%-8s %-18s set %d  median %-12.5g spread %.4f  (bound %.2f, a third %.3f)%s" % (
                    w, m, s + 1, med, spread, spec["bound"], spec["bound"] / 3,
                    "  worse-than-set-1 %.4f" % row["worse_than_set1"] if "worse_than_set1" in row else ""))
    for f in failures:
        print("FAIL: " + f)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workloads": workloads, "seeds_per_set": SEEDS, "sets": SETS,
                       "first_seed": FIRST_SEED, "nproc": os.cpu_count(),
                       "rows": report, "failures": failures}, f, indent=1)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
