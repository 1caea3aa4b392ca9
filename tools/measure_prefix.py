"""Measure the staged `_PRIORITY` prefix's sweep wall-clock at sf0.01.

The external driver sweeps ``__spark_entry__.queries()`` in dict order
under a wall-clock budget (~200 s has historically yielded ~50 rows), so
a rotation that stages 50 slow queries can silently truncate below the
freshness need. This tool runs ONLY the first ``--n`` registry-order
queries through tools/drive_driver.py's sweep (same Spark+DuckDB compare)
and prints the projected prefix cost, so the rotation is committed against
a measured number instead of hope (round-10 verdict, Next item 2).

    python tools/measure_prefix.py [--n 50]   # SPARK_GRAFT_VERIFY_SF_DIR overrides sf0.01
"""

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e
from hive_ddl_extract_tool_spark.session import get_spark
from tools.drive_driver import profile, sf_dir, sweep


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=50)
    args = ap.parse_args(argv)

    spark = get_spark(app_name="measure_prefix")
    results = sweep(spark, sf_dir(), list(e.queries())[: args.n])
    fails = sum(status == "FAIL" for status, *_ in results)
    print(f"PREFIX fails={fails} {profile(results)}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
