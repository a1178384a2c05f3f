#!/usr/bin/env python3
"""Run one workload on several seeds and report, per end-to-end metric,
the median and the spread (interquartile range over median) that the
benchmark's bounds are judged against; with --sets 2, run the seeds twice
and also compare the second set's medians with the first's.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 --seconds 5 --sets 2
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_set(here, a, lo, hi):
    values = {}
    for seed in range(lo, hi + 1):
        p = subprocess.run([sys.executable, os.path.join(here, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
                           capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            r = json.loads(last)
        except ValueError:
            print("seed %d: no result (exit %d)\n%s" % (seed, p.returncode, p.stderr[-2000:]))
            continue
        print("seed %d: correct=%s %s" % (seed, r["correct"], " ".join(
            "%s=%.4g" % (k, v["value"]) for k, v in r["metrics"].items())), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    return values


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range a-b")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--sets", type=int, default=1,
                    help="run the seed range this many times and compare the sets' medians")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    medians = []
    for i in range(a.sets):
        print("set %d" % (i + 1), flush=True)
        values = run_set(here, a, lo, hi)
        medians.append({})
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            medians[-1][k] = med
            spread = (q[2] - q[0]) / med if med else float("nan")
            b = bounds.get(k)
            print("%-24s median %-12.5g spread %.4f  bound %s  %s" % (
                k, med, spread, b, "" if b is None else ("ok" if spread < b / 3 else
                                                         "WITHIN BOUND" if spread < b else "OVER")),
                  flush=True)
    # every metric here is lower-is-better: a later set is worse when higher
    for i in range(1, len(medians)):
        for k, m0 in medians[0].items():
            m1 = medians[i].get(k)
            if m1 is None or not m0:
                continue
            d = (m1 - m0) / m0
            b = bounds.get(k)
            print("set %d vs set 1: %-24s %.5g -> %.5g  change %+.4f  bound %s  %s" % (
                i + 1, k, m0, m1, d, b, "" if b is None else ("ok" if d <= b else "OVER")))


if __name__ == "__main__":
    main()
