#!/usr/bin/env python3
"""Measures the benchmark's run-to-run spread.

Usage (from the root of a checkout):
    python3 perfbench/steady.py [--workload NAME ...] [--seeds 1-10] [--record]

Runs each workload once per seed (untraced) and prints, for every
end-to-end metric, the median of the runs and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median, next to the metric's bound and a third of it. Also
prints each run's wall time. Exits non-zero if a run fails or is
incorrect.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--record", action="store_true",
                    help="also record each run's checksums in checksums.json")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in args.workload or [x["name"] for x in spec["workloads"]]:
        values = {m: [] for m in bounds}
        walls = []
        for seed in seeds(args.seeds):
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"] + (["--record"] * args.record),
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            walls.append(time.monotonic() - t0)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{w} seed {seed}: failed (exit {out.returncode})")
                ok = False
                continue
            res = json.loads(lines[-1])
            ok = ok and res["correct"]
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: {time.monotonic() - t0:.0f} s wall, correct={res['correct']}, "
                  + ", ".join(f"{m}={res['metrics'][m]['value']:.4f}" for m in bounds), flush=True)
        print(f"== {w}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s")
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < bounds[m] / 3 else ("within bound" if spread <= bounds[m] else "OVER")
            print(f"   {m:16s} median {med:10.4f}  spread {spread:6.3f}  "
                  f"bound {bounds[m]:.2f} (third {bounds[m] / 3:.3f})  {flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
