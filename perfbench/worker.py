"""One benchmark run inside a fresh process: boot, passes, checks.

Started by ``run.py`` with the path of a JSON config; writes its result to
the path the config names. The run is one closed-loop client: a pass starts
only after the previous pass has finished. The first pass belongs to set-up.
Passes keep getting faster for a while after it, as the JVM compiles hot
code, so the next pass, which also checks every registry result against
its oracle, is discarded as well.
Then passes repeat until ``seconds`` have elapsed (at least
``MIN_MEASURED`` of them), and ``run_s``/``cpu_s`` are medians over them.

With ``trace`` on, measured passes are untraced and traced in ABBA order:
per-layer numbers come from the traced ones, and the ratio of the two
medians is the tracing overhead. Untraced passes make no py4j status
queries.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

import checks
import procstat
from spans import STAGE_FIELDS, LoadCounter, Tracer

MIN_MEASURED = 3  # passes, even when they overrun ``seconds``; 4 when traced

#: compare columns of every ReconPair the recon workloads build
COMPARE_COLS = {
    "o_custkey": "int",
    "o_orderstatus": "string",
    "o_totalprice": "double",
    "o_orderdate": "ts",
    "o_orderpriority": "string",
}

LAYER_METRICS = (
    "registry.build_s",
    "registry.build_jobs",
    "registry.exec_s",
    "catalog.load_calls",
    "catalog.load_s",
    "catalog.load_misses",
    *(
        f"api.{op}{part}"
        for op in ("summary", "key_diff", "cell_diff")
        for part in ("_s", ".build_s", ".exec_s")
    ),
    "recon_scale.bucket_hash_report_s",
    "recon.scan_passes",
    "recon.bad_bucket_frac",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.slot_util",
    "spark.executor_cpu_s",
    "spark.shuffle_write_mb",
    "spark.shuffle_read_mb",
    "spark.spill_mb",
    "spark.input_mb",
    "codegen.compiles",
    "codegen.compile_s",
    "jvm.jit_s",
    "jvm.gc_s",
    "py.driver_cpu_s",
)


class Run:
    """Spans when tracing, no-ops otherwise."""

    def __init__(self, tracer: Tracer | None) -> None:
        self.tracer = tracer
        self.pass_id = 0
        self.traced = False

    def span(self, name: str, phase: str = ""):
        if self.traced:
            return self.tracer.span(name, self.pass_id, phase)
        return contextlib.nullcontext()


class ReconWorkload:
    """ReconPair and recon_scale calls on a generated source/target pair;
    every report is collected and checked against the fault ledger."""

    def __init__(self, spark, cfg: dict) -> None:
        from reconciliation_hive_data_spark.plans import recon_scale
        from reconciliation_hive_data_spark.plans.api import ReconPair

        self.spark, self.cfg = spark, cfg
        self.recon_scale, self.ReconPair = recon_scale, ReconPair
        with open(cfg["ledger"]) as fh:
            self.ledger = json.load(fh)
        self.rows = self.ledger["src_rows"] + self.ledger["tgt_rows"]
        self.bad_buckets = 0

    def _ops(self, src, tgt) -> list[tuple]:
        pair = self.ReconPair(
            source=src,
            target=tgt,
            keys=["o_orderkey"],
            compare_cols=COMPARE_COLS,
            tolerance=0.01,
        )
        return [
            ("api.summary", pair.summary, checks.check_summary),
            (
                "recon_scale.bucket_hash_report",
                lambda: self.recon_scale.bucket_hash_report(src, tgt),
                checks.check_bucket_report,
            ),
            ("api.key_diff", pair.key_diff, checks.check_key_diff),
            ("api.cell_diff", pair.cell_diff, checks.check_cell_diff),
        ]

    def run_pass(self, run: Run, check: bool) -> tuple[int, list[list[str]]]:
        """Every pass checks every report, so ``check`` changes nothing."""
        with run.span("read"):
            src = self.spark.read.parquet(self.cfg["src"])
            tgt = self.spark.read.parquet(self.cfg["tgt"])
        ops = self._ops(src, tgt)
        failures: list[list[str]] = []
        for name, build, verify in ops:
            try:
                with run.span(name, "build"):
                    df = build()
                with run.span(name, "exec"):
                    rows = [r.asDict() for r in df.collect()]
                errs = verify(rows, self.ledger)
                if name == "recon_scale.bucket_hash_report":
                    self.bad_buckets = len(rows)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                errs = [f"{name}: {type(exc).__name__}: {exc}"]
            if errs:
                failures.append(errs)
        return len(ops), failures


class RegistryWorkload:
    """Registry queries, each built with ``fn()`` and materialized with a
    noop write. On a checking pass (untimed) each result is collected
    instead and compared with the query's DuckDB oracle."""

    def __init__(self, spark, cfg: dict) -> None:
        from reconciliation_hive_data_spark import registry
        from tests.parity import compare

        self.compare = compare
        self.spark, self.cfg = spark, cfg
        self.specs = [registry.get(q) for q in cfg["queries"]]
        self.rows = 0
        self.bad_buckets = 0

    def run_pass(self, run: Run, check: bool) -> tuple[int, list[list[str]]]:
        failures = []
        for spec in self.specs:
            name = f"registry.{spec.name}"
            try:
                with run.span(name, "build"):
                    df = spec.fn(self.spark, self.cfg["sf_dir"])
                if check:
                    errs = self.compare(df, spec.oracle, self.cfg["sf_dir"], spec.name)
                else:
                    with run.span(name, "exec"):
                        df.write.format("noop").mode("overwrite").save()
                    errs = []
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                errs = [f"{name}: {type(exc).__name__}: {exc}"]
            if errs:
                failures.append(errs)
        return len(self.specs), failures


def layer_metrics(spans: list[dict], wall: float, cpus: int, rows: int) -> dict:
    """Per-layer numbers of one traced pass from its spans (with counters);
    ``rows`` is the source plus target rows of a recon pair, else 0."""
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    tot = dict.fromkeys(("jobs", "stages", "tasks", *STAGE_FIELDS), 0)
    for s in spans:
        for k in tot:
            tot[k] += s[k]
        dur = s["end"] - s["start"]
        name, phase = s["name"], s["phase"]
        if name.startswith("registry."):
            m[f"registry.{phase}_s"] += dur
            if phase == "build":
                m["registry.build_jobs"] += s["jobs"]
        elif name.startswith("api."):
            m[f"{name}_s"] += dur
            m[f"{name}.{phase}_s"] += dur
        elif name.startswith("recon_scale."):
            m[f"{name}_s"] += dur
    mb = 2.0**20
    m.update(
        {
            "spark.jobs": tot["jobs"],
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.slot_util": tot["executorRunTime"] / 1e3 / (wall * cpus),
            "spark.executor_cpu_s": tot["executorCpuTime"] / 1e9,
            "spark.shuffle_write_mb": tot["shuffleWriteBytes"] / mb,
            "spark.shuffle_read_mb": tot["shuffleReadBytes"] / mb,
            "spark.spill_mb": (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / mb,
            "spark.input_mb": tot["inputBytes"] / mb,
        }
    )
    m["recon.scan_passes"] = tot["inputRecords"] / rows if rows else 0.0
    return m


def main() -> None:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["repo"])
    from reconciliation_hive_data_spark import catalog

    loads = LoadCounter()
    if cfg["trace"]:
        loads.install(catalog)  # before any plan module binds catalog.load
    from reconciliation_hive_data_spark.session import get_spark

    setup = {}
    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": cfg["warehouse"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    setup["session.boot_s"] = time.perf_counter() - t
    t = time.perf_counter()
    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    setup["registry.import_s"] = time.perf_counter() - t

    kind = ReconWorkload if cfg["kind"] == "recon" else RegistryWorkload
    work = kind(spark, cfg)
    run = Run(Tracer(spark, cfg["workload"]) if cfg["trace"] else None)
    cpus = spark.sparkContext.defaultParallelism
    me = os.getpid()
    attempted, failed, problems = 0, 0, []
    passes: list[dict] = []

    def one_pass(measured: bool, traced: bool = False, check: bool = False) -> None:
        nonlocal attempted, failed
        run.traced = traced
        jvm0 = run.tracer.jvm_counters() if traced else None
        load0 = loads.snapshot()
        cpu0, py0 = procstat.tree_cpu_s(me), time.process_time()
        t0 = time.perf_counter()
        with run.span("pass"):
            n_ops, failures = work.run_pass(run, check)
        wall = time.perf_counter() - t0
        rec = {
            "pass": run.pass_id,
            "wall_s": wall,
            "cpu_s": procstat.tree_cpu_s(me) - cpu0,
            "ok": not failures,
            "measured": measured,
            "traced": traced,
        }
        attempted += n_ops
        failed += len(failures)
        problems.extend(e for errs in failures for e in errs)
        if traced:
            run.tracer.attach_counters(run.pass_id)
            jvm1 = run.tracer.jvm_counters()
            calls, misses, secs = (b - a for a, b in zip(load0, loads.snapshot()))
            spans = [s for s in run.tracer.spans if s["pass"] == run.pass_id]
            layers = layer_metrics(spans, wall, cpus, work.rows)
            layers.update({k: jvm1[k] - jvm0[k] for k in jvm1})
            layers.update(
                {
                    "recon.bad_bucket_frac": work.bad_buckets / checks.BUCKETS,
                    "py.driver_cpu_s": time.process_time() - py0,
                    "catalog.load_calls": calls,
                    "catalog.load_s": secs,
                    "catalog.load_misses": misses,
                }
            )
            rec["layers"] = layers
        passes.append(rec)
        run.pass_id += 1

    one_pass(measured=False)
    setup["setup.first_pass_s"] = passes[0]["wall_s"]
    setup_s = time.time() - cfg["t_spawn"]
    one_pass(measured=False, check=True)
    t_end = time.perf_counter() + cfg["seconds"]
    n = 0
    while time.perf_counter() < t_end or n < MIN_MEASURED + cfg["trace"]:
        # traced and plain passes in ABBA order, so drift and the harvest
        # after a traced pass fall on both kinds alike
        one_pass(measured=True, traced=cfg["trace"] and n % 4 in (1, 2))
        n += 1

    good = [p for p in passes if p["measured"] and p["ok"]]
    plain = [p for p in good if not p["traced"]]
    result = {
        "setup_s": setup_s,
        "run_s": statistics.median(p["wall_s"] for p in plain) if plain else None,
        "cpu_s": statistics.median(p["cpu_s"] for p in plain) if plain else None,
        "attempted": attempted,
        "failed": failed,
        "problems": problems[:20],
        "passes": [{k: v for k, v in p.items() if k != "layers"} for p in passes],
    }
    if cfg["trace"]:
        # No workload touches the Hive catalog, so the Derby metastore
        # warm-up is not part of set-up; it is measured here, after the
        # passes, as the cost a catalog-backed query would add once.
        t = time.perf_counter()
        spark.catalog.tableExists("perfbench_probe")
        setup["catalog.metastore_s"] = time.perf_counter() - t
        traced = [p for p in good if p["traced"]]
        layers = {
            k: statistics.median(p["layers"][k] for p in traced) for k in LAYER_METRICS
        } if traced else {}
        layers.update(setup)
        if traced and plain:
            layers["trace.overhead"] = statistics.median(
                p["wall_s"] for p in traced
            ) / result["run_s"]
        result["layers"] = layers
        with open(cfg["spans"], "w") as fh:
            for s in run.tracer.spans:
                fh.write(json.dumps(s) + "\n")
    spark.stop()
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
