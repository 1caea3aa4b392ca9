"""Spark-vs-DuckDB result comparison: the one oracle check behind the
parity tests, the verify tools and ``run.py --check``.

A query passes when its column-name set, row count and order-insensitive
multiset of canonicalized rows equal its oracle's. The canonicalization is
TYPE-SENSITIVE on purpose: a float never folds into an int, a bool is not
an int, and a Decimal is its own type. DuckDB widens sum(BIGINT) to
HUGEINT, which the external driver's value hash fetches as a different
type; a check that folded 5.0 into 5 would pass such a query here and fail
it there. Timestamps compare as naive wall-clock values (both engines run
in UTC), and list cells canonicalize element by element.

duckdb is imported only when an oracle runs, so importing this module
never needs it.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
from collections import Counter

from .tables import TABLES


def register_views(con, sf_dir: str) -> None:
    """Create one DuckDB view per table present under ``sf_dir``. A table is
    either a single parquet FILE (the test fixtures) or a Spark-written
    parquet DIRECTORY (the inflated corpora)."""
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            src = f"read_parquet('{p}/*.parquet')"
        elif os.path.exists(p):
            src = f"'{p}'"
        else:
            continue
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "bool:" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "float:NaN"
        return "float:" + repr(v)
    if isinstance(v, int):
        return "int:" + str(v)
    if isinstance(v, datetime.datetime):
        return "ts:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return "date:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return type(v).__name__ + ":" + str(v)


def canon_rows(cols, rows) -> list[tuple[str, ...]]:
    """Rows with columns in name order, each cell canonicalized, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def hash_rows(cols, rows) -> str:
    """A 16-hex-digit digest of ``canon_rows``, for recording a result."""
    h = hashlib.sha256()
    for r in sorted("|".join(r) for r in canon_rows(cols, rows)):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def collect(df) -> tuple[list[str], list[tuple]]:
    return list(df.columns), [tuple(r) for r in df.collect()]


def run_oracle(sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """Run oracle SQL on a fresh DuckDB connection over ``sf_dir``'s tables."""
    import duckdb

    con = duckdb.connect()
    try:
        register_views(con, sf_dir)
        rel = con.sql(sql)
        return list(rel.columns), rel.fetchall()
    finally:
        con.close()


def diff(scols, srows, ocols, orows) -> str | None:
    """None when the Spark result matches the oracle's, else what differs."""
    if sorted(scols) != sorted(ocols):
        return f"column mismatch: spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return f"row count mismatch: spark={len(srows)} oracle={len(orows)}"
    a, e = Counter(canon_rows(scols, srows)), Counter(canon_rows(ocols, orows))
    if a == e:
        return None
    only_a, only_e = list((a - e).elements()), list((e - a).elements())
    return (
        f"value mismatch ({len(only_a)} rows differ)\n"
        f"  spark-only rows (sample): {only_a[:5]}\n"
        f"  oracle-only rows (sample): {only_e[:5]}\n"
        f"  columns (sorted): {sorted(scols)}"
    )


def check(df, oracle_sql: str, sf_dir: str) -> str | None:
    """Collect ``df`` and compare it with ``oracle_sql`` run over ``sf_dir``."""
    return diff(*collect(df), *run_oracle(oracle_sql, sf_dir))
