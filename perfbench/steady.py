"""Steadiness report: two sets of benchmark runs of one commit.

    python3 perfbench/steady.py [--out FILE]

Runs ``BENCHMARK.json``'s command ``RUNS`` times per workload and set,
every run with a fresh seed (set 1 uses seeds 1.., set 2 seeds 1001..),
alternating workloads. For every (workload, end-to-end metric) pair it
prints each set's median and quartiles, the quartile spread as a share of
the median against a third of the bound, and the difference of the two
medians against the bound. ``--out`` writes the same figures as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = 10  # per workload and set


def one_run(bench: dict, workload: str, seed: int) -> dict:
    cmd = [
        *bench["command"],
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]),
        "--trace", "0",
    ]
    out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: wrong output")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    values: dict = {w: [{}, {}] for w in workloads}
    walls: list[float] = []
    for s, base in enumerate((1, 1001)):
        for i in range(RUNS):
            for w in workloads:
                t0 = time.monotonic()
                for k, v in one_run(bench, w, base + i).items():
                    values[w][s].setdefault(k, []).append(v)
                wall = time.monotonic() - t0
                walls.append(wall)
                print(f"set {s + 1} run {i + 1} {w}: {wall:.1f} s", file=sys.stderr,
                      flush=True)

    report = {}
    print(f"{'workload':<12} {'metric':<12} {'set':>3} {'median':>10} {'q1':>10}"
          f" {'q3':>10} {'iqr/med':>8} {'bound/3':>8} {'d_med':>8} {'bound':>6}")
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for s in (0, 1):
                vals = values[w][s][name]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                meds.append(med)
                spread = (q3 - q1) / med
                d_med = (meds[1] - meds[0]) / meds[0] if s else 0.0
                report.setdefault(w, {}).setdefault(name, {"bound": bound, "sets": []})
                report[w][name]["sets"].append(
                    {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": vals}
                )
                print(f"{w:<12} {name:<12} {s + 1:>3} {med:>10.3f} {q1:>10.3f}"
                      f" {q3:>10.3f} {spread:>8.3f} {bound / 3:>8.3f}"
                      f" {d_med:>8.3f} {bound:>6.2f}")
    runs = 4 + 22 * len(bench["workloads"])
    print(f"mean run {statistics.mean(walls):.1f} s; {runs} runs take"
          f" {runs * statistics.mean(walls):.0f} s")
    if args.out:
        report["run_wall_s"] = walls
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
