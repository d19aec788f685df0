"""Run the benchmark repeatedly and report each end-to-end metric's
run-to-run spread: (Q3 - Q1) / median over the runs, quartiles as
``statistics.quantiles(values, n=4)`` gives them.

    python3 perfbench/steadiness.py --workloads stream_drain curation_batch \\
        --seeds 1 2 3 4 5 [--out perfbench/steadiness.json]

Runs are sequential (never run two benchmark processes at once: they
share the host's cores). Each run's full result line is kept, so the
output is also the record of every run made.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from derive import quartile_spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}: {proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.monotonic() - t0
    out["seed"] = seed
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            r = run_once(w, seed, spec["run_seconds"])
            runs.append(r)
            print(w, seed, round(r["wall_s"], 1), r["correct"],
                  r["attempted"], r["failed"],
                  {k: round(v["value"], 4) for k, v in r["metrics"].items()},
                  flush=True)
        spreads = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            spreads[name] = {
                "median": statistics.median(vals),
                "spread": quartile_spread(vals) if len(vals) > 1 else 0.0,
                "bound": bounds[name],
            }
        report[w] = {"spreads": spreads, "runs": runs}
        for name, s in spreads.items():
            print(f"  {w} {name}: median {s['median']:.4f} spread "
                  f"{s['spread']:.3f} (bound {s['bound']}, "
                  f"1/3 bound {s['bound'] / 3:.3f})", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
