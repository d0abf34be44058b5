"""Benchmark entry point.

    python3 perfbench/run.py --workload recon_dirty --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the seed
into a private temp root under ``perfbench/_runs/`` (deleted at exit), then
runs the workload in one fresh Python process (``worker.py``) with its own
Spark warehouse, ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and working directory
inside that root, ``SPARK_GRAFT_CPUS`` pinned to the usable CPU count and
the console progress bar off. No other engine setting is passed.

Prints a metric table, then, as the last line of stdout, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, whose spans and summary are also written under
``perfbench/out/``. Exits non-zero, printing no result, when any output is
wrong or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

import gen
import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run, generation and teardown included

#: per-layer metrics every workload reports, by name prefix
COMMON_LAYERS = ("session.", "registry.import_s", "catalog.metastore_s", "setup.",
                 "proc.", "spark.", "codegen.", "jvm.", "py.", "trace.")

#: Workload inputs are fixed per workload; only the seed varies. ``layers``
#: names the per-layer metrics (by prefix) that apply to the workload.
WORKLOADS = {
    "recon_dirty": {
        "kind": "recon",
        "rows": 10_000,
        "fault_frac": 0.01,
        "layers": ("api.", "recon_scale.", "recon."),
    },
    "eager_tpch": {
        "kind": "registry",
        "docs": 500,
        "orders": 15_000,
        "queries": ["x_bpe_rounds_n", "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6"],
        "layers": ("registry.", "catalog."),
    },
}


def applies(spec: dict, metric: str) -> bool:
    return metric.startswith(COMMON_LAYERS + spec["layers"])


def _stop_group(pgid: int) -> None:
    """Stop every process of the worker's session and wait until all ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not procstat.group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        t_end = time.monotonic() + grace
        while procstat.group_pids(pgid) and time.monotonic() < t_end:
            time.sleep(0.1)


def _make_inputs(spec: dict, root: str, seed: int) -> dict:
    inputs = os.path.join(root, "in")
    if spec["kind"] == "recon":
        gen.recon_pair(inputs, seed, spec["rows"], spec["fault_frac"])
        return {
            "src": os.path.join(inputs, "src"),
            "tgt": os.path.join(inputs, "tgt"),
            "ledger": os.path.join(inputs, "ledger.json"),
        }
    gen.fixture_dir(inputs, seed, spec["docs"], spec["orders"])
    return {"sf_dir": inputs, "queries": spec["queries"]}


def run(args: argparse.Namespace, root: str) -> dict:
    spec = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    cfg = {
        "workload": args.workload,
        "kind": spec["kind"],
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "repo": REPO,
        "warehouse": os.path.join(root, "warehouse"),
        "result": os.path.join(root, "result.json"),
        **_make_inputs(spec, root, args.seed),
    }
    out_dir = os.path.join(HERE, "out")
    stem = f"{args.workload}-seed{args.seed}"
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        cfg["spans"] = os.path.join(out_dir, f"{stem}.spans.jsonl")
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(root, sub))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(root, "local"),
        TMPDIR=os.path.join(root, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
        PYTHONPATH=os.pathsep.join([HERE, REPO]),
    )
    cfg_path = os.path.join(root, "config.json")
    log_path = os.path.join(root, "worker.log")
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=root,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    peak = 0

    def sample() -> None:
        nonlocal peak
        while proc.poll() is None:
            peak = max(peak, procstat.tree_rss_bytes(proc.pid))
            time.sleep(0.2)

    try:
        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            code = proc.wait(timeout=DEADLINE_S - (time.time() - args.t0))
        except subprocess.TimeoutExpired:
            code = None
        sampler.join(timeout=5)
    finally:
        _stop_group(proc.pid)
        proc.wait()
        # the engine homes its Derby metastore under /tmp by worker pid
        shutil.rmtree(f"/tmp/rhds_derby_{proc.pid}", ignore_errors=True)
    if code != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"worker failed (exit {code})")
    with open(cfg["result"]) as fh:
        result = json.load(fh)
    result["peak_rss_mb"] = peak / 2.0**20
    result["cpus"] = cpus
    if args.trace:
        result["layers"]["proc.peak_rss_mb"] = result["peak_rss_mb"]
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "inputs": {k: v for k, v in spec.items() if k not in ("kind", "layers")},
            "layers": {k: v for k, v in result["layers"].items() if applies(spec, k)},
            "passes": result["passes"],
        }
        with open(os.path.join(out_dir, f"{stem}.layers.json"), "w") as fh:
            json.dump(summary, fh, indent=1)
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.t0 = time.time()
    # a terminated run still stops its worker and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(REPO, "reconciliation_hive_data_spark")):
        raise SystemExit(f"no program to benchmark under {REPO}")

    runs_dir = os.path.join(HERE, "_runs")
    os.makedirs(runs_dir, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir)
    try:
        result = run(args, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        if not os.listdir(runs_dir):
            os.rmdir(runs_dir)

    attempted, failed = result["attempted"], result["failed"]
    for problem in result["problems"]:
        print(f"WRONG: {problem}", file=sys.stderr)
    if failed:
        raise SystemExit(
            f"error_rate {failed / attempted:.4f}: {failed} of {attempted}"
            " operations failed"
        )
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = result["layers"] if args.trace else result
    metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in declared}
    print(f"workload {args.workload} seed {args.seed} cpus {result['cpus']}")
    spec = WORKLOADS[args.workload]
    for name, (value, unit) in metrics.items():
        if args.trace and not applies(spec, name):
            # the layer does not run here; the result line still carries
            # every declared metric, as the measured 0
            print(f"  {name:<42} {'n/a':>14} {unit}")
        else:
            print(f"  {name:<42} {value:>14.4f} {unit}")
    if not args.trace:
        print(f"  {'peak_rss_mb':<42} {result['peak_rss_mb']:>14.4f} MB")
    print(f"  {'error_rate':<42} {failed / attempted:>14.4f} ratio")
    walls = [p["wall_s"] for p in result["passes"] if p["measured"]]
    print(f"  {len(walls)} measured passes (s): " + " ".join(f"{w:.3f}" for w in walls))
    print(
        json.dumps(
            {
                "correct": True,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )


if __name__ == "__main__":
    main()
