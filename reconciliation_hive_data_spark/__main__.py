"""Command-line interface — the tool-shaped surface of the engine
(reconciliation tools of the reference's genre are CLIs wrapping generated
queries; SURVEY.md §1.1/§3.1).

    python -m reconciliation_hive_data_spark list
    python -m reconciliation_hive_data_spark run recon_order_totals \
        --sf-dir /root/testdata/sf0.001 --show 10
    python -m reconciliation_hive_data_spark recon \
        --source /root/testdata/sf0.01/orders.parquet \
        --target /root/testdata/sf0.01/orders.parquet \
        --keys o_orderkey --compare o_totalprice:double,o_orderstatus:string \
        [--tolerance 0.5] [--report out_dir] [--check cell_diff]
"""

from __future__ import annotations

import argparse
import sys


def _spark():
    from .session import get_spark

    s = get_spark("rhds-cli")
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_list(_args: argparse.Namespace) -> int:
    from . import registry

    registry.load_all_modules()
    for name, spec in sorted(registry.REGISTRY.items()):
        kind = "oracle" if spec.oracle else "rows-only"
        first = (spec.doc or "").strip().splitlines()
        print(f"{name:24s} [{kind:9s}] {first[0] if first else ''}")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    from . import registry

    registry.load_all_modules()
    if args.query not in registry.REGISTRY:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    df = registry.get(args.query).fn(_spark(), args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.show, truncate=False)
    return 0


def cmd_recon(args: argparse.Namespace) -> int:
    from .plans.api import ReconPair

    spark = _spark()
    compare = {}
    for item in args.compare.split(","):
        col, _, kind = item.partition(":")
        compare[col.strip()] = (kind or "string").strip()
    pair = ReconPair(
        source=spark.read.parquet(args.source),
        target=spark.read.parquet(args.target),
        keys=[k.strip() for k in args.keys.split(",")],
        compare_cols=compare,
        tolerance=args.tolerance,
    )
    if args.check == "summary":
        # read twice: shown or written, then counted for the exit status
        report = pair.summary().localCheckpoint()
    else:
        report = getattr(pair, args.check)()
    if args.report:
        report.write.mode("overwrite").parquet(args.report)
        print(f"wrote {args.report}")
    else:
        report.show(100, truncate=False)
    if args.check == "summary":
        bad = report.filter("status != 'MATCH'").count()
        return 1 if bad else 0
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="reconciliation_hive_data_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    r = sub.add_parser("run", help="run a registered query")
    r.add_argument("query")
    r.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    r.add_argument("--show", type=int, default=20)
    r.add_argument("--out", help="write result parquet instead of showing")

    c = sub.add_parser("recon", help="reconcile two parquet tables")
    c.add_argument("--source", required=True)
    c.add_argument("--target", required=True)
    c.add_argument("--keys", required=True, help="comma-separated key columns")
    c.add_argument(
        "--compare",
        required=True,
        help="col:kind[,col:kind...] — kind ∈ int|double|string|ts",
    )
    c.add_argument("--tolerance", type=float, default=0.0)
    c.add_argument(
        "--check",
        default="summary",
        choices=[
            "summary",
            "row_counts",
            "key_diff",
            "duplicate_keys",
            "row_hash_diff",
            "cell_diff",
            "fingerprints",
        ],
    )
    c.add_argument("--report", help="write report parquet here")

    args = p.parse_args(argv)
    return {"list": cmd_list, "run": cmd_run, "recon": cmd_recon}[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
