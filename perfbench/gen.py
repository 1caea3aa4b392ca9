"""Seeded input generators for the benchmark workloads.

Everything the program under test sees is derived here from the seed: the
Hive catalog of ``catalog_deep_wide`` (database and table names, column
types, partition values and the table-kind mix) and the parquet fixture
directory of ``queries_sf002``.  The same seed always gives the same inputs; the shape
(how many databases, tables and partitions, how many rows) never depends on
the seed, so runs with different seeds measure the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

# --------------------------------------------------------------------------
# Catalog shapes
# --------------------------------------------------------------------------

# "deep" databases: one partitioned Hive-format table each; one of them
# (chosen by the seed) keys its table by hourly timestamp strings.
# 12 partitions: more than the 8 threads of the extractor's partition pool.
DEEP_DATABASES = 2
DEEP_DAYS = 4
DEEP_HOURS = 3
# The timestamp-keyed table's partition lookups fail.  It has no more
# partitions than the pool has threads, so every lookup has started before
# the first failure cancels the rest, and the statement counts of a pass
# repeat exactly instead of depending on timing.
DEFECT_DAYS = 2

# "wide" databases: every fifth table is a partitioned Hive table with two
# partitions, every fifth a datasource table, the rest unpartitioned Hive.
# 10 tables: more than the 8 threads of the table pool.
WIDE_DATABASES = 2
WIDE_TABLES = 10
WIDE_TABLE_PARTITIONS = 2

_WORDS = (
    "sales", "clicks", "orders", "audit", "ledger", "users", "events", "sessions",
    "billing", "stock", "ship", "crm", "ads", "logs", "metrics", "geo",
)
_COL_TYPES = ("INT", "BIGINT", "STRING", "DOUBLE", "DATE", "BOOLEAN")


@dataclass(frozen=True)
class Table:
    name: str
    kind: str  # "hive" | "hive_part" | "datasource"
    columns: tuple[tuple[str, str], ...]
    partition_cols: tuple[str, ...] = ()
    partitions: tuple[tuple[str, ...], ...] = ()


@dataclass(frozen=True)
class Database:
    name: str
    kind: str  # "deep" | "wide"
    tables: tuple[Table, ...]
    known_defect: bool = False  # partition values the extractor cannot round-trip


def _columns(rng: random.Random, n: int) -> tuple[tuple[str, str], ...]:
    return tuple((f"c{i}_{rng.choice(_WORDS)}", rng.choice(_COL_TYPES)) for i in range(n))


def _db_names(rng: random.Random, prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}_{rng.choice(_WORDS)}_{rng.getrandbits(24):06x}" for i in range(n)]


def deep_databases(rng: random.Random) -> list[Database]:
    defect = rng.randrange(DEEP_DATABASES)
    dbs = []
    for i, name in enumerate(_db_names(rng, "pbd", DEEP_DATABASES)):
        start = dt.date(2023, 1, 1) + dt.timedelta(days=rng.randrange(700))
        days = [start + dt.timedelta(days=d) for d in range(DEFECT_DAYS if i == defect else DEEP_DAYS)]
        hours = sorted(rng.sample(range(24), DEEP_HOURS))
        cols = _columns(rng, rng.randint(2, 5))
        table = f"{rng.choice(_WORDS)}_fact"
        if i == defect:
            values = tuple((f"{d.isoformat()} {h:02d}:00:00",) for d in days for h in hours)
            t = Table(table, "hive_part", cols, ("ts",), values)
        else:
            values = tuple((d.isoformat(), f"{h:02d}") for d in days for h in hours)
            t = Table(table, "hive_part", cols, ("dt", "hr"), values)
        dbs.append(Database(name, "deep", (t,), known_defect=i == defect))
    return dbs


def wide_databases(rng: random.Random) -> list[Database]:
    n_each = WIDE_TABLES // 5
    kinds = (["hive_part"] * n_each + ["datasource"] * n_each
             + ["hive"] * (WIDE_TABLES - 2 * n_each))
    dbs = []
    for name in _db_names(rng, "pbw", WIDE_DATABASES):
        rng.shuffle(kinds)
        tables = []
        for j, kind in enumerate(kinds):
            cols = _columns(rng, rng.randint(2, 5))
            tname = f"t{j:02d}_{rng.choice(_WORDS)}"
            if kind == "hive_part":
                regions = sorted(rng.sample(_WORDS, WIDE_TABLE_PARTITIONS))
                tables.append(Table(tname, kind, cols, ("region",), tuple((r,) for r in regions)))
            else:
                tables.append(Table(tname, kind, cols))
        dbs.append(Database(name, "wide", tuple(tables)))
    return dbs


def catalog(seed: int) -> list[Database]:
    """The deep databases, then the wide ones."""
    rng = random.Random(f"catalog_deep_wide:{seed}")
    return deep_databases(rng) + wide_databases(rng)


def populate_sql(db: Database) -> list[str]:
    """Statements that create ``db`` in a Hive-enabled session."""
    out = [f"CREATE DATABASE `{db.name}`"]
    for t in db.tables:
        cols = ", ".join(f"`{c}` {ty}" for c, ty in t.columns)
        name = f"`{db.name}`.`{t.name}`"
        if t.kind == "datasource":
            out.append(f"CREATE TABLE {name} ({cols}) USING parquet")
            continue
        part = ""
        if t.partition_cols:
            pcols = ", ".join(f"`{c}` STRING" for c in t.partition_cols)
            part = f" PARTITIONED BY ({pcols})"
        out.append(f"CREATE TABLE {name} ({cols}){part} STORED AS PARQUET")
        if t.partitions:
            specs = " ".join(
                "PARTITION (" + ", ".join(f"`{k}`='{v}'" for k, v in zip(t.partition_cols, vals)) + ")"
                for vals in t.partitions
            )
            out.append(f"ALTER TABLE {name} ADD {specs}")
    return out


# --------------------------------------------------------------------------
# Query fixture (the sf0.02 shape of the synthetic TPC-H-ish tables: a fifth
# of the sf0.1 rows; below that a sweep is no shorter, as per-query fixed
# costs dominate it)
# --------------------------------------------------------------------------

QUERY_ROWS = {
    "customer": 3_000, "supplier": 200, "part": 4_000, "orders": 30_000,
    "lineitem": 120_000, "events": 20_000, "documents": 1_000, "embeddings": 400,
}
NEAR_DUPLICATES = 50
EXACT_DUPLICATES = 8
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


def write_query_fixture(out_dir: str, seed: int) -> None:
    """Write the ten fixture tables as one parquet file each under
    ``out_dir``, with the schemas, row counts and value domains of the
    sf0.1 synthetic data the query surface is written against, at a fifth
    of its rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = QUERY_ROWS

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, size: int):
        return np.round(rng.uniform(lo, hi, size), 2)

    def pick(values, size: int, p=None):
        return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)], pa.string())

    def days_since(start: str, span: int, size: int):
        base = np.datetime64(start, "us")
        return pa.array(base + rng.integers(0, span, size) * np.timedelta64(1, "D"), pa.timestamp("us"))

    def keys(size: int):
        return pa.array(np.arange(size, dtype=np.int64))

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    write("customer", {
        "c_custkey": keys(n["customer"]),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n["customer"]),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]),
    })
    write("supplier", {
        "s_suppkey": keys(n["supplier"]),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
    })
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    write("part", {
        "p_partkey": keys(n["part"]),
        "p_name": pick([f"{a} {b}" for a in adjectives for b in nouns], n["part"]),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n["part"]),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) / 10, 1),
    })
    write("orders", {
        "o_orderkey": keys(n["orders"]),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"], dtype=np.int64)),
        "o_orderstatus": pick(["O", "F", "P"], n["orders"]),
        "o_totalprice": money(1000, 500_000, n["orders"]),
        "o_orderdate": days_since("1995-01-01", 2405, n["orders"]),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]),
    })
    li = n["lineitem"]
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100,
        "l_tax": rng.integers(0, 9, li) / 100,
        "l_returnflag": pick(["N", "R", "A"], li),
        "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": days_since("1995-01-02", 2499, li),
    })
    ev = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, ev))
    write("events", {
        "event_id": keys(ev),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ev, dtype=np.int64)),
        "event_type": pick(["signup", "purchase", "view", "click", "error"], ev),
        "value": np.round(np.minimum(rng.gamma(2.0, 50.0, ev), 560.0), 2),
        "props": pick([f'{{"k": {k}}}' for k in range(100)], ev),
    })
    # documents: random word bags, plus near-duplicates (an earlier
    # document + " dup") and a few exact duplicates for the dedup queries.
    nd = n["documents"]
    words = np.asarray(_DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]) for _ in range(nd)]
    copies = rng.choice(np.arange(1, nd), NEAR_DUPLICATES + EXACT_DUPLICATES, replace=False).tolist()
    for k, i in enumerate(copies):
        texts[i] = texts[int(rng.integers(0, i))] + (" dup" if k < NEAR_DUPLICATES else "")
    write("documents", {
        "doc_id": keys(nd),
        "text": pa.array(texts, pa.string()),
        "lang": pick(["en", "zh", "es", "fr", "de"], nd, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # embeddings: unit 64-d vectors clustered around one centroid per label
    ne = n["embeddings"]
    labels = rng.integers(0, 10, ne)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] + rng.normal(scale=2.0, size=(ne, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": keys(ne),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
