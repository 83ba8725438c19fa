#!/usr/bin/env python3
"""Interleaved A/B runs of the benchmark between a base checkout and this one.

    python3 scripts/bench_ab.py --base ../parent [--workload extract]
        [--pairs 10] [--trace 0] [--jsonl runs.jsonl]
    python3 scripts/bench_ab.py --report runs.jsonl

Pair i (i = 1..pairs) runs `perfbench/run.py --seed i --seconds <run_seconds
of BENCHMARK.json>` once in the base checkout and once in the working tree
that holds this script (the change), the base first on odd pairs and the
change first on even ones, so drift in the host's load falls on both sides
alike. A base checkout is made with e.g. `git worktree add ../parent HEAD~1`.

For every workload and metric (the end-to-end metrics of BENCHMARK.json with
--trace 0, the per-layer ones with --trace 1) it prints each side's median
and quartiles, the pairs the change won, and two verdicts:

  gain   the change won at least 9 of every 10 pairs run (a pair with a
         failed run is not won), its median beats the base median by more
         than the base's interquartile range, and it failed no more runs
         than the base
  bound  (end-to-end only) "ok" if the change median is not worse than the
         base median by more than the metric's bound in BENCHMARK.json,
         "WORSE" if it is, and "unresolved" if the base's interquartile range
         is wider than the bound and not every change run beats every base run

Failed or incorrect runs are counted and left out of the statistics. Every
run's result is appended to --jsonl when given; --report re-prints the
summary from such a file without running anything. Nothing under perfbench/
is changed.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

CHANGE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, stdin=subprocess.DEVNULL)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    return {"ok": result is not None and result["correct"], "result": result,
            "exit": p.returncode, "elapsed_s": round(time.time() - t0, 1)}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summarize(records, spec, trace):
    metrics = spec["per_layer" if trace == 1 else "end_to_end"]
    workloads = sorted({r["workload"] for r in records})
    for w in workloads:
        pairs = {}
        failed = {"base": 0, "change": 0}
        for r in records:
            if r["workload"] != w:
                continue
            pairs.setdefault(r["pair"], {})
            if not r["ok"]:
                failed[r["side"]] += 1
                continue
            pairs[r["pair"]][r["side"]] = {
                k: v["value"] for k, v in r["result"]["metrics"].items()}
        complete = [p for _, p in sorted(pairs.items()) if len(p) == 2]
        print("\n== %s: %d pairs run, %d complete; failed runs: base %d, change %d"
              % (w, len(pairs), len(complete), failed["base"], failed["change"]))
        if not complete:
            continue
        print("%-30s %24s %24s %6s %5s %10s" % ("metric", "base median [q1, q3]",
                                                "change median [q1, q3]", "won", "gain", "bound"))
        need = math.ceil(0.9 * len(pairs))
        for m in metrics:
            name = m["name"]
            if not all(name in p["base"] and name in p["change"] for p in complete):
                continue
            base = [p["base"][name] for p in complete]
            change = [p["change"][name] for p in complete]
            sign = 1 if m["better"] == "higher" else -1
            won = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
            bm, cm = statistics.median(base), statistics.median(change)
            bq1, bq3 = quartiles(base)
            cq1, cq3 = quartiles(change)
            gain = (won >= need and sign * (cm - bm) > (bq3 - bq1)
                    and failed["change"] <= failed["base"])
            bound = ""
            if "bound" in m:
                limit = m["bound"] * abs(bm)
                dominates = min(sign * c for c in change) > max(sign * b for b in base)
                if bq3 - bq1 > limit and not dominates:
                    bound = "unresolved"
                else:
                    bound = "ok" if sign * (cm - bm) >= -limit else "WORSE"
            print("%-30s %24s %24s %3d/%-2d %5s %10s" % (
                name, "%.4g [%.4g, %.4g]" % (bm, bq1, bq3), "%.4g [%.4g, %.4g]" % (cm, cq1, cq3),
                won, len(pairs), "yes" if gain else "no", bound))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", help="checkout of the parent")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: every workload of BENCHMARK.json)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--jsonl", help="append every run's result to this file")
    ap.add_argument("--report", help="summarize an existing --jsonl file and exit")
    a = ap.parse_args()
    with open(os.path.join(CHANGE, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.report:
        with open(a.report) as f:
            records = [json.loads(ln) for ln in f if ln.strip()]
        for t in sorted({r["trace"] for r in records}):
            summarize([r for r in records if r["trace"] == t], spec, t)
        return
    if not a.base:
        ap.error("--base is required unless --report is given")
    sides = {"base": os.path.abspath(a.base), "change": CHANGE}
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    records = []
    for w in workloads:
        for seed in range(1, a.pairs + 1):
            order = ["base", "change"] if seed % 2 == 1 else ["change", "base"]
            for side in order:
                r = run_once(sides[side], w, seed, spec["run_seconds"], a.trace)
                rec = dict(r, workload=w, pair=seed, seed=seed, side=side, trace=a.trace)
                records.append(rec)
                if a.jsonl:
                    with open(a.jsonl, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                print("%s seed %d %-6s %s (%.0f s)" % (w, seed, side, "ok" if r["ok"] else
                      "FAILED (exit %d)" % r["exit"], r["elapsed_s"]), file=sys.stderr, flush=True)
    summarize(records, spec, a.trace)


if __name__ == "__main__":
    main()
