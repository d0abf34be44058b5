"""Benchmark runner: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "n": passes, "full": "BENCH_FULL.json"}.

The caller that records BENCH_r{N}.json keeps only the last ~2000 chars of
stdout and tries to parse them; a line carrying all ~145 per-query medians
is ~3.2 KB and can never fit (min encoding: 1.8 KB of names + 1.1 KB of
punctuation/values). So the printed line is a bounded summary — totals,
per-family subtotals, the slowest queries — guaranteed under 1900 chars,
while the COMPLETE per-query medians (and raw per-pass samples) go to
BENCH_FULL.json at the repo root, which rides along in version control.
BENCH_FULL also splits each query's median into "build" (``fn()``: plan
construction plus any eager jobs it runs) and "exec" (the noop write), and
records the median "jobs" and "tasks" that build and write ran together
(one job group per query and pass, read from Spark's status tracker; a
skipped stage's tasks do not count).

Each query is materialized via a cheap full-evaluation action
(``df.write.format("noop")``) so timing covers the whole plan without
driver-side collect overhead dominating.

Per-query numbers are the MEDIAN over up to $SPARK_GRAFT_REPS full passes
(default 3): single-shot timings on a shared box carry 1.5-2x run-to-run
variance (GC pauses, page cache, neighbors — see PERF.md), which medians
mostly cancel. Pass 1 always completes (the bench is never slower than a
single-shot run plus budget checks); later passes start only while total
wall-clock is under $SPARK_GRAFT_BUDGET seconds (default 600), so a slow
box degrades toward single-shot numbers instead of overrunning the
caller. "value" is the sum of the per-query medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from reconciliation_hive_data_spark import registry  # noqa: E402
from reconciliation_hive_data_spark.session import get_spark  # noqa: E402


def group_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) that ran under job group ``group``. Waits for the
    listener bus to drain first, so the last job's stages are complete in
    the status tracker; the tasks are those of completed stage attempts,
    which leaves out skipped stages."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            st = tracker.getStageInfo(stage)
            tasks += st.numCompletedTasks if st else 0
    return len(jobs), tasks


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("rhds-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all_modules()

    # warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup
    registry.get("recon_order_totals").fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # warm the metastore too: the embedded Derby catalog inits lazily on
    # first touch (~5 s) — session setup, not a property of whichever
    # catalog-backed query happens to run first
    spark.catalog.tableExists("rhds_warmup_probe")

    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    budget = float(os.environ.get("SPARK_GRAFT_BUDGET", "600"))
    # Dev-loop filter: SPARK_GRAFT_ONLY="q1,q2" times just those queries
    # (comma-separated registry names). Unset (the driver's mode) = all.
    only_env = os.environ.get("SPARK_GRAFT_ONLY", "").strip()
    names = (
        [n for n in (s.strip() for s in only_env.split(",")) if n]
        if only_env
        else list(registry.REGISTRY)
    )
    t_start = time.perf_counter()
    samples: dict[str, list[float]] = {name: [] for name in names}
    build_samples: dict[str, list[float]] = {name: [] for name in names}
    exec_samples: dict[str, list[float]] = {name: [] for name in names}
    job_samples: dict[str, list[float]] = {name: [] for name in names}
    task_samples: dict[str, list[float]] = {name: [] for name in names}
    sc = spark.sparkContext
    failed: set[str] = set()
    n_passes = 0
    for rep in range(reps):
        if rep > 0 and time.perf_counter() - t_start > budget:
            print(
                f"bench: wall budget {budget}s reached after {n_passes} pass(es)",
                file=sys.stderr,
            )
            break
        n_passes += 1
        for name in sorted(names):
            spec = registry.get(name)
            if name in failed:
                continue
            group = f"bench:{name}:{rep}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                df = spec.fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                samples[name].append(t2 - t0)
                build_samples[name].append(t1 - t0)
                exec_samples[name].append(t2 - t1)
            except Exception as exc:  # a failing query must not kill the bench
                failed.add(name)
                print(f"bench error in {name}: {exc}", file=sys.stderr)
            finally:
                sc._jsc.clearJobGroup()
            if name not in failed:
                jobs, tasks = group_counts(sc, group)
                job_samples[name].append(jobs)
                task_samples[name].append(tasks)

    def medians(by_name: dict[str, list[float]]) -> dict[str, float]:
        return {
            name: round(statistics.median(vals), 3)
            if vals and name not in failed
            else -1.0
            for name, vals in by_name.items()
        }

    timings = medians(samples)

    total = round(sum(t for t in timings.values() if t >= 0), 3)

    # Effective parallelism, read back from the LIVE context (not the env
    # var): lets the caller verify the session really ran at the requested
    # width — local[N] gives defaultParallelism == N.
    eff_cpus = spark.sparkContext.defaultParallelism
    master = spark.sparkContext.master

    full = {
        "metric": "total_wall_all_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "build": medians(build_samples),
        "exec": medians(exec_samples),
        "jobs": medians(job_samples),
        "tasks": medians(task_samples),
        "sf": sf,
        "n": n_passes,
        "cpus": eff_cpus,
        "master": master,
        "reps": reps,
        "budget_sec": budget,
        "failed": sorted(failed),
        "samples": {k: [round(v, 3) for v in vs] for k, vs in samples.items()},
    }
    # Filtered dev runs must not clobber the driver's full artifact — and
    # neither may a full run at a non-default scale factor (an sf0.001
    # smoke probe once silently overwrote the committed sf0.1 record).
    if only_env:
        full_name = "BENCH_PARTIAL.json"
    elif sf != 0.1:
        full_name = f"BENCH_FULL_sf{sf}.json"
    else:
        full_name = "BENCH_FULL.json"
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), full_name)
    with open(full_path, "w") as fh:
        json.dump(full, fh, separators=(",", ":"))
        fh.write("\n")

    # Per-family subtotals (prefix before the first underscore) and the
    # slowest queries: the most signal that fits in the bounded line.
    groups: dict[str, float] = {}
    for name, t in timings.items():
        if t >= 0:
            g = name.split("_", 1)[0]
            groups[g] = round(groups.get(g, 0.0) + t, 3)
    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: -kv[1],
        )[:12]
    )
    summary = {
        "metric": "total_wall_all_queries",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n": n_passes,
        "nq": len(timings),
        "nfail": len(failed),
        "cpus": eff_cpus,
        "master": master,
        "groups": groups,
        "queries": slowest,
        "full": full_name,
    }
    line = json.dumps(summary, separators=(",", ":"))
    while len(line) > 1900 and summary["queries"]:
        summary["queries"].popitem()
        line = json.dumps(summary, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
