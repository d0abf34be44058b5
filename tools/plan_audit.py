"""Capture .explain('formatted') for registered queries and summarize plan
shape (Exchange count, join strategies, Python-eval nodes, scan pushdown).

Usage:
    python tools/plan_audit.py [before|after] [name1,name2,...]

Writes plans/<name>_<tag>.txt per query (git-ignored) and prints one
summary line per query:
<name>  ex=<n exchanges>  bhj/smj/shj/bnl counts  py=<python nodes>.

Building a query's DataFrame may itself run eager Spark jobs (several
operators localCheckpoint a small report by convention) — that is the
operator's real construction cost and is fine here; nothing is executed
beyond what fn() itself does, explain() is plan-only.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reconciliation_hive_data_spark import registry  # noqa: E402
from reconciliation_hive_data_spark.session import get_spark  # noqa: E402

_COUNTERS = {
    "ex": r"\bExchange\b",
    "bhj": r"\bBroadcastHashJoin\b",
    "smj": r"\bSortMergeJoin\b",
    "shj": r"\bShuffledHashJoin\b",
    "bnl": r"\bBroadcastNestedLoopJoin\b|\bCartesianProduct\b",
    "py": r"\bBatchEvalPython\b|\bArrowEvalPython\b|\bMapInArrow\b|\bMapInPandas\b|\bFlatMapGroupsInPandas\b|\bPythonUDTF\b",
    "sort": r"\bSort\b",
    "win": r"\bWindow\b",
    "agg": r"\bHashAggregate\b|\bSortAggregate\b|\bObjectHashAggregate\b",
    "scan": r"\bScan parquet\b|\bScan orc\b|\bScan csv\b|\bScan json\b|\bScan text\b",
}


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = (
        [n for n in sys.argv[2].split(",") if n]
        if len(sys.argv) > 2
        else None
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("rhds-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all_modules()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
    )
    os.makedirs(out_dir, exist_ok=True)
    todo = names or sorted(registry.REGISTRY)
    for name in todo:
        spec = registry.get(name)
        try:
            spark.sparkContext.setJobDescription(f"plan-audit: {name}")
            df = spec.fn(spark, sf_dir)
            txt = plan_text(df)
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {exc}")
            continue
        finally:
            spark.sparkContext.setJobDescription(None)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(txt)
        counts = {
            k: len(re.findall(rx, txt)) for k, rx in _COUNTERS.items()
        }
        summary = " ".join(f"{k}={v}" for k, v in counts.items() if v)
        print(f"{name}: {summary}")


if __name__ == "__main__":
    main()
