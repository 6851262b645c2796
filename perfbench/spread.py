"""Run the benchmark on several seeds and report, per end-to-end metric,
the median and the interquartile spread as a share of the median next to
the metric's bound.

    python3 perfbench/spread.py --workload api_mix --seeds 1-10 [--seconds N]

Runs one seed at a time, from the checkout root.  Exits 1 when a run
fails or any spread, setup_s's included, reaches a third of the metric's
declared bound (the steadiness target; the bound itself is the limit).
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
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    ok = True
    for seed in _seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        result = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.stdout.strip() else {}
        ok &= proc.returncode == 0 and result.get("correct", False)
        print(f"seed {seed}: rc={proc.returncode} wall={wall:.1f}s correct={result.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result.get("metrics", {}).items()),
              flush=True)
        for k, v in result.get("metrics", {}).items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        if len(vals) < 2:
            continue
        s = spread(vals)
        verdict = "ok" if s < m["bound"] / 3 else "WIDE" if s < m["bound"] else "OVER BOUND"
        ok &= verdict == "ok"
        print(f"{m['name']:>14}: median={statistics.median(vals):.4g} {m['unit']} "
              f"spread={s:.3f} bound={m['bound']} {verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
