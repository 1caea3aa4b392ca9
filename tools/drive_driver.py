"""Simulate the driver's verify at sf0.01 through __spark_entry__ only.

Every oracle-backed query is compared by `hive_ddl_extract_tool_spark.verify`,
whose canonicalization is TYPE-SENSITIVE (a Python float never folds into an
int, so a DuckDB HUGEINT->float64 style widening on one side is a guaranteed
local FAIL -- the round-4 driver-only divergence class reproduces here by
construction). Also records PARITY.md: the exact duckdb version, parquet
physical types, and per-query status, so a driver-sweep discrepancy can be
diffed against what this environment saw.

    python tools/drive_driver.py      # SPARK_GRAFT_VERIFY_SF_DIR overrides sf0.01
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as e
from hive_ddl_extract_tool_spark.verify import collect, diff, run_oracle


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")


def sweep(spark, sf: str, names) -> list[tuple[str, str, int, float]]:
    """Run each named queries() entry and compare it with its oracle, if it
    has one. Returns (status, name, rows, seconds) per query, status being
    OK, FAIL or ROWS (no oracle); prints one line per query as it goes."""
    qs, oracles = e.queries(), e.oracle_sql()
    results = []
    for name in names:
        t0 = time.time()
        scols, srows = collect(qs[name](spark, sf))
        dt = time.time() - t0
        msg = None
        if name not in oracles:
            status = "ROWS"
        else:
            msg = diff(scols, srows, *run_oracle(oracles[name], sf))
            status = "OK" if msg is None else "FAIL"
        print(f"{status:4} {name} rows={len(srows)} ({dt:.1f}s)")
        if msg:
            print(msg)
        results.append((status, name, len(srows), dt))
    return results


def profile(results) -> str:
    """Total and the ten heaviest queries of a sweep: the round-over-round
    regression signal BASELINE.md's "Full-sweep series" table tracks (a
    staging cache that stops hitting shows up here long before it hurts the
    sf0.1 headline bench)."""
    total = sum(dt for *_, dt in results)
    heavy = sorted(results, key=lambda r: -r[3])[:10]
    heavy_s = ", ".join(f"{name} {dt:.1f}s" for _, name, _, dt in heavy)
    return f"total={total:.1f}s queries={len(results)} heaviest: {heavy_s}"


def main() -> int:
    import duckdb
    import pyarrow.parquet as pq

    from hive_ddl_extract_tool_spark.session import get_spark
    from hive_ddl_extract_tool_spark.tables import TABLES
    from tools.catalog_parity import run_fixpoint

    spark = get_spark(app_name="drive_driver")
    df = e.entry(spark)
    rows = df.collect()
    print("ENTRY", len(rows), df.schema.simpleString())

    sf = sf_dir()
    parity = ["# PARITY — local verify environment\n",
              f"- duckdb {duckdb.__version__}; python {sys.version.split()[0]}; "
              f"spark {spark.version}; sf_dir {sf}",
              "\n## Parquet physical schema at verify time\n"]
    for t in TABLES:
        s = pq.read_schema(f"{sf}/{t}.parquet")
        cols = ", ".join(f"{f.name}:{f.type}" for f in s)
        parity.append(f"- **{t}**: {cols}")
    parity.append("\n## Per-query (type-strict canon)\n")

    results = sweep(spark, sf, sorted(e.queries()))
    parity += [f"- {status} {name} rows={n}" for status, name, n, _ in results]
    fails = sum(status == "FAIL" for status, *_ in results)
    print("FAILS:", fails)
    print(f"SWEEP {profile(results)}")
    parity.append(f"Sweep profile: {profile(results)}\n")

    # §2A per-round evidence: the catalog extraction migration fixpoint
    # against a real Derby metastore, so the reference's own capability
    # gets a dated parity row every round, not just a pytest green.
    try:
        cat = run_fixpoint()
    except Exception as exc:  # a hung/killed Derby subprocess must not cost the sweep's parity evidence
        cat = {"ok": False, "sec": -1.0,
               "line": f"FAIL §2A catalog fixpoint ({type(exc).__name__}: {exc})"}
    print(f"{cat['line']} ({cat['sec']}s)")
    parity.append("## §2A catalog fixpoint\n")
    parity.append(f"- {cat['line']} ({cat['sec']}s)\n")
    fails += 0 if cat["ok"] else 1

    # The recorded FAILS is the COMBINED total (sweep + §2A), appended only
    # after both gates have run.
    parity.append(f"FAILS: {fails}\n")
    with open(os.path.join(REPO, "PARITY.md"), "w") as f:
        f.write("\n".join(parity))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
