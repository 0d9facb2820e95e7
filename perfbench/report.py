#!/usr/bin/env python3
"""Runs every workload untraced and traced and prints all its metrics.

Usage (from the root of a checkout):
    python3 perfbench/report.py [--seed N] [--out FILE]

For each workload it prints the end-to-end metrics of the untraced run,
the per-layer metrics of the traced run (each by name, with its unit), the
self time of each layer in a warm pass, the tracing overhead (traced over
untraced warm_pass_s) and the correctness gate's verdict. With --out the
same figures are written as JSON.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"{workload} (trace {trace}) failed with exit {out.returncode}")
    summary = json.loads(lines[-1])
    full = json.loads((ROOT / ".bench_build" / "results" /
                       f"{workload}-seed{seed}-trace{trace}.json").read_text())
    return summary, full


def table(title, metrics):
    print(f"  {title}")
    for name, m in metrics.items():
        print(f"    {name:34s} {m['value']:>14.4f} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    report = {}
    ok = True
    seconds = SPEC["run_seconds"]
    for w in [x["name"] for x in SPEC["workloads"]]:
        plain, plain_full = run(w, args.seed, seconds, 0)
        traced, traced_full = run(w, args.seed, seconds, 1)
        layers = traced["metrics"]
        self_times = {k: v for k, v in layers.items() if k.startswith("self.")}
        overhead = (traced_full["end_to_end"]["warm_pass_s"] /
                    plain["metrics"]["warm_pass_s"]["value"]) - 1
        gate = plain["correct"] and traced["correct"]
        ok = ok and gate
        print(f"== {w} (seed {args.seed}, {plain_full['cores']} cores)")
        table("end to end (untraced)", plain["metrics"])
        table("per layer (traced, warm-pass medians unless named _first)",
              {k: v for k, v in layers.items() if not k.startswith("self.")})
        table("self time per layer in a warm pass", self_times)
        print(f"  tracing overhead on warm_pass_s: {overhead * 100:+.1f}%")
        print(f"  correctness gate: {'PASS' if gate else 'FAIL'} "
              f"({plain['failed']}/{plain['attempted']} and "
              f"{traced['failed']}/{traced['attempted']} failed; expected-checksum table "
              f"{'used' if plain_full['checked_against_table'] else 'has no entry for this seed'})")
        for f in plain_full["failures"] + traced_full["failures"]:
            print(f"    FAILED {f}")
        report[w] = {"seed": args.seed, "seconds": seconds, "cores": plain_full["cores"],
                     "end_to_end": plain["metrics"], "per_layer": layers,
                     "tracing_overhead": overhead, "correct": gate,
                     "attempted": plain["attempted"], "failed": plain["failed"],
                     "warm_pass_times_s": plain_full["warm_pass_times_s"],
                     "traced_end_to_end": traced_full["end_to_end"],
                     "op_first_s": plain_full["op_first_s"],
                     "op_warm_median_s": plain_full["op_warm_median_s"]}
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
