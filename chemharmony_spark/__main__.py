"""CLI: the reference's per-script entry points, as one driveable module.

    python -m chemharmony_spark harmonize --staging DIR --sources a,b --out DIR
    python -m chemharmony_spark query q01_pricing_summary --sf-dir DIR [--limit N]
    python -m chemharmony_spark list

The reference is driven as a DVC pipeline of numbered scripts
(dvc.yaml: 01_…R .. 92_…py); a user switching engines gets the same jobs
behind one module entry point. Handlers take (spark, args) so tests can
inject a session; ``main`` builds one via session.get_spark.
"""

from __future__ import annotations

import argparse
import sys


def cmd_harmonize(spark, args) -> int:
    from chemharmony_spark.plans.harmonize import harmonize
    from chemharmony_spark.sources.writers import write_parquet

    sources = [s for s in args.sources.split(",") if s]
    res = harmonize(spark, args.staging, sources,
                    scratch_dir=args.scratch or None,
                    rekey_strategy=args.rekey)
    # partitioned by source (SURVEY §4): the per-source access pattern
    # dominates QA and re-integration reads (reference tests.py:18-30,
    # 80_harmonize.py:99) — a source-filtered read then touches exactly
    # one partition directory instead of scanning the whole brick
    # (pruning proven in tests/test_sources.py)
    for name, df in (("substances", res.substances),
                     ("properties", res.properties),
                     ("activities", res.activities)):
        write_parquet(df, f"{args.out}/{name}.parquet",
                      partition_by=["source"])
        print(f"wrote {args.out}/{name}.parquet (partitioned by source)")
    return 0


def cmd_query(spark, args) -> int:
    import __spark_entry__ as entry

    qs = entry.queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    df = qs[args.name](spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_list(_spark, _args) -> int:
    import __spark_entry__ as entry

    for name in entry._raw_queries():
        print(name)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="chemharmony_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    h = sub.add_parser("harmonize", help="staging -> harmonized brick")
    h.add_argument("--staging", required=True)
    h.add_argument("--sources", required=True, help="comma-separated names")
    h.add_argument("--out", required=True)
    h.add_argument("--scratch", default="")
    h.add_argument(
        "--rekey", choices=("auto", "bucket"), default="auto",
        help="re-key join strategy: auto = size-gated broadcast hint; "
             "bucket = shuffle-hash build (the 100x-scale path for id "
             "maps that outgrow any broadcast)",
    )
    h.set_defaults(fn=cmd_harmonize)

    q = sub.add_parser("query", help="run one oracle query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.set_defaults(fn=cmd_query)

    ls = sub.add_parser("list", help="list query names")
    ls.set_defaults(fn=cmd_list)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from chemharmony_spark.session import get_spark

    spark = get_spark(app_name="chemharmony-cli")
    return args.fn(spark, args)


if __name__ == "__main__":
    raise SystemExit(main())
