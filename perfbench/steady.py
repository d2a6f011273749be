#!/usr/bin/env python3
"""Steadiness check: two sets of untraced runs of the same checkout.

    python3 perfbench/steady.py                            # every workload
    python3 perfbench/steady.py --workload online_events   # one workload

Each set runs ``perfbench/run.py`` once per seed (1 to 10) on each workload,
for the ``run_seconds`` of BENCHMARK.json.  For every end-to-end metric it
prints each set's median and IQR (the distance between the first and third
quartile of ``statistics.quantiles(values, n=4)``, as a share of the
median) and whether the sets agree: both spreads within the metric's bound,
and the two medians apart by no more than the bound, in either direction.
Exits 1 on disagreement or if any run fails.
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
SETS = 2
SEEDS = range(1, 11)


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    """One untraced run; returns its result line and its wall time."""
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1]), time.perf_counter() - t


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR as a share of the median)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def worse_by(first: float, second: float, better: str) -> float:
    """Share by which ``second`` is worse than ``first`` (< 0: better)."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all in BENCHMARK.json)")
    a = ap.parse_args(argv)
    bench = load_benchmark()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    ok, walls = True, {}
    for wl in workloads:
        sets = []
        for s in range(SETS):
            results = []
            for seed in SEEDS:
                r, wall = run_once(wl, seed, bench["run_seconds"])
                ok &= bool(r["correct"])
                results.append(r)
                walls.setdefault(wl, []).append(wall)
                print(f"{wl} set{s + 1} seed {seed}: wall={wall:.1f}s " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
            sets.append(results)
        print(f"\n{wl}: {len(SEEDS)} runs per set")
        print(f"{'metric':<20} {'bound':>6} " + " ".join(
            f"{'median' + str(i + 1):>12} {'iqr' + str(i + 1):>7}" for i in range(SETS))
            + f" {'shift':>7}  verdict")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = [spread([r["metrics"][name]["value"] for r in res]) for res in sets]
            shift = worse_by(stats[0][0], stats[1][0], m["better"])
            good = all(iqr <= bound for _, iqr in stats) and abs(shift) <= bound
            ok &= good
            print(f"{name:<20} {bound:>6.2f} " + " ".join(
                f"{med:>12.4g} {iqr:>7.3f}" for med, iqr in stats)
                + f" {shift:>+7.3f}" + ("  agree" if good else "  DISAGREE"), flush=True)
        print()
    # the full benchmark makes 4 + 22 runs per workload
    mean = {wl: statistics.mean(w) for wl, w in walls.items()}
    print("mean run wall: " + ", ".join(f"{wl} {m:.1f}s" for wl, m in mean.items())
          + f"; a full benchmark of these workloads: ~"
          f"{(4 / len(mean) + 22) * sum(mean.values()):.0f}s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
