"""Query-runner CLI: execute any registered query against a testdata SF dir.

    python -m hive_ddl_extract_tool_spark.run                      # list queries
    python -m hive_ddl_extract_tool_spark.run q42_minhash_lsh_dedup
    python -m hive_ddl_extract_tool_spark.run q01_pricing_summary /root/testdata/sf0.1 --limit 5
    python -m hive_ddl_extract_tool_spark.run q01_pricing_summary --explain

Mirrors the catalog CLI's role for the data plane: a user gets the whole
query surface (the `queries()` registry the external driver sweeps) from a
shell without writing driver code.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    from .operators import all_oracles, all_queries

    queries = all_queries()
    parser = argparse.ArgumentParser(
        prog="hive_ddl_extract_tool_spark.run", description=__doc__.splitlines()[0]
    )
    parser.add_argument("query", nargs="?", help="registered query name (omit to list)")
    parser.add_argument(
        "sf_dir", nargs="?", default="/root/testdata/sf0.01", help="testdata SF directory"
    )
    parser.add_argument("--limit", type=int, default=20, help="rows to show (default 20)")
    parser.add_argument("--explain", action="store_true", help="print the formatted physical plan instead of rows")
    parser.add_argument(
        "--check",
        action="store_true",
        help="also run the query's DuckDB oracle and compare (exit 1 on mismatch)",
    )
    args = parser.parse_args(argv)

    if not args.query:
        oracles = all_oracles()
        for name in sorted(queries):
            kind = "oracle" if name in oracles else "rows-only"
            print(f"{name}  [{kind}]")
        return 0

    if args.query not in queries:
        import difflib

        near = difflib.get_close_matches(args.query, queries, n=3)
        print(f"unknown query {args.query!r}" + (f"; did you mean: {', '.join(near)}?" if near else ""), file=sys.stderr)
        return 2

    from .session import get_spark

    spark = get_spark(app_name=f"run:{args.query}")
    t0 = time.perf_counter()
    df = queries[args.query](spark, args.sf_dir)
    if args.explain:
        from .plans.explain import formatted_plan

        print(formatted_plan(df))
        return 0
    if args.check:
        oracle = all_oracles().get(args.query)
        if oracle is None:
            print(f"{args.query} is rows-only (no oracle); nothing to check", file=sys.stderr)
            return 2
        from .verify import check

        msg = check(df, oracle, args.sf_dir)
        print(f"{'OK' if msg is None else 'MISMATCH'}: {args.query} in {time.perf_counter() - t0:.2f}s")
        if msg is not None:
            print(msg)
        return 0 if msg is None else 1
    df.show(args.limit, truncate=False)
    n = df.count()
    print(f"{n} rows in {time.perf_counter() - t0:.2f}s ({args.query} @ {args.sf_dir})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
