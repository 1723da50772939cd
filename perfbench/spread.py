"""Steadiness check: run the benchmark once per seed and report, for each
end-to-end metric, the interquartile distance of its values as a share of
their median (statistics.quantiles(values, n=4)), next to the metric's
bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload chat_session --seeds 1-10 [--seconds S]

Run from the repository root; runs are sequential.
"""

import argparse
import json
import os
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
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    secs = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        out = subprocess.run(bench["command"] + [
            "--workload", a.workload, "--seed", str(seed), "--seconds", str(secs),
            "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True, check=True)
        walls.append(time.monotonic() - t0)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {walls[-1]:.1f} s correct={last['correct']} "
              f"attempted={last['attempted']} failed={last['failed']} " +
              " ".join(f"{k}={v['value']:.6g}" for k, v in last["metrics"].items()),
              flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE")
        print(f"{k:32s} median {med:12.6g} spread {spread:7.4f} bound {b} {flag}")


if __name__ == "__main__":
    sys.exit(main())
