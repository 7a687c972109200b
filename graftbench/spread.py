#!/usr/bin/env python3
"""Run one workload over several seeds and report, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median — the figure the
bounds in BENCHMARK.json are held against — plus the failed share.

    python3 graftbench/spread.py --workload ingest --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    runs = []
    for s in seeds(a.seeds):
        t = time.time()
        out = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(s),
                             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {s}: exit {out.returncode}", file=sys.stderr)
            return 1
        r = json.loads(lines[-1])
        runs.append(r)
        print(f"seed {s}: {time.time() - t:.1f}s correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']}", file=sys.stderr)
    for m in bench["end_to_end"]:
        v = [r["metrics"][m["name"]]["value"] for r in runs]
        q = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        print(f"{m['name']:>16} median {med:12.4f} {m['unit']:<5} spread {(q[2] - q[0]) / med:.4f} "
              f"(bound {m['bound']})")
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"{'failed share':>16} {sorted(shares)}  all correct: {all(r['correct'] for r in runs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
