"""Command-line entry point — the engine's ``dbt run`` equivalent.

    python -m northwind_warehouse_spark warehouse --sf-dir DIR --lake DIR
    python -m northwind_warehouse_spark corpus    --sf-dir DIR --lake DIR
    python -m northwind_warehouse_spark query NAME [--sf-dir DIR] [--limit N]
    python -m northwind_warehouse_spark list
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="northwind_warehouse_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_wh = sub.add_parser("warehouse", help="incremental warehouse build (staging → SCD2 dims → facts; each commit carries its watermark)")
    p_wh.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_wh.add_argument("--lake", required=True)

    p_co = sub.add_parser("corpus", help="training-corpus build (quality gate → dedup → chunk → split)")
    p_co.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_co.add_argument("--lake", required=True)

    p_q = sub.add_parser("query", help="run one registered query and print rows")
    p_q.add_argument("name")
    p_q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_q.add_argument("--limit", type=int, default=20)

    sub.add_parser("list", help="list registered queries")

    args = parser.parse_args(argv)

    import __spark_entry__ as entry

    if args.cmd == "list":
        for name in sorted(entry.queries()):
            oracle = "oracled" if name in entry.oracle_sql() else "rows-only"
            print(f"{name}  [{oracle}]")
        return 0

    from northwind_warehouse_spark.session import get_spark

    spark = get_spark("nws-cli")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "warehouse":
            from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

            p = WarehousePipeline(spark, args.lake)
            p.run(args.sf_dir)
            print(f"warehouse built at {args.lake}")
            print(f"  {p.DIM_USERS}: {p.table(p.DIM_USERS).count()} rows")
            print(f"  {p.FACT_ORDERS}: {p.table(p.FACT_ORDERS).count()} rows")
        elif args.cmd == "corpus":
            from northwind_warehouse_spark.plans.pipeline import CorpusPipeline

            out = CorpusPipeline(spark, args.lake).run(args.sf_dir)
            print(f"corpus built at {args.lake}: {out.count()} chunks")
        elif args.cmd == "query":
            qs = entry.queries()
            if args.name not in qs:
                print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
                return 2
            qs[args.name](spark, args.sf_dir).show(args.limit, truncate=False)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
