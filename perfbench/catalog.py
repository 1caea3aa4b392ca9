"""Worker for the Hive-metastore extraction workload ``catalog_deep_wide``.

The generated catalog holds "deep" databases (one table of many partitions,
extracted with ``use_add_sql=True``: per-partition metastore round trips
and the partition-level pool) and "wide" databases (several tables of mixed
kinds, extracted with the default config, which takes the MSCK path:
per-table statements and the table-level pool).  One operation is one
``extract_ddl`` call for one database; one pass runs the operation once for
every database, one after the other (a single-client closed loop).  Passes
repeat until the run's measuring time is used up.  After the timed passes
every script is checked: the first pass's script of each database is
replayed into a fresh, renamed database and the replay's tables, schemas,
partitions and partition locations must match the source; every later pass
must produce the same script again.
"""

from __future__ import annotations

import re
import shutil
import statistics
import time

from . import gen
from .common import Result, latency_metrics, log, peak_rss_mb, spark_session
from .trace import Tracer

WARMUP_PASSES = 1  # the first pass of a fresh JVM is still JIT-compiling
MIN_PASSES = 3
REPLAY_SUFFIX = "_replay"


def _canon(script: str) -> str:
    return "\n".join(ln for ln in script.splitlines() if "transient_lastDdlTime" not in ln)


def _run_pass(spark, dbs, configs) -> list[tuple[float, str | None]]:
    from hive_ddl_extract_tool_spark.catalog.extractor import extract_ddl

    out = []
    for db in dbs:
        t0 = time.perf_counter()
        try:
            script = extract_ddl(spark, db.name, "*", None, configs[db.kind])
        except Exception:  # the operation failed; counted, never raised
            script = None
        out.append((time.perf_counter() - t0, script))
    return out


# --------------------------------------------------------------------------
# Verification (outside the timed region)
# --------------------------------------------------------------------------

class _Catalog:
    """Direct reads of the session's external catalog: one call per table
    for its schema, location and full partition list."""

    def __init__(self, spark) -> None:
        self._jvm = spark._jvm
        self._ext = spark._jsparkSession.sharedState().externalCatalog()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def tables(self, db: str) -> list[str]:
        return sorted(self._conv.asJava(self._ext.listTables(db)))

    def table_location(self, db: str, table: str) -> str:
        return self._ext.getTable(db, table).location().getPath()

    def describe(self, db: str, table: str) -> tuple[str, list[tuple[dict, str]]]:
        t = self._ext.getTable(db, table)
        root = t.location().getPath().rstrip("/") + "/"
        listed = []
        if t.partitionColumnNames().isEmpty():
            return t.schema().json(), listed
        for p in self._conv.asJava(self._ext.listPartitions(db, table, self._jvm.scala.Option.empty())):
            loc = p.location().getPath()
            listed.append((dict(self._conv.asJava(p.spec())), loc[len(root):] if loc.startswith(root) else loc))
        return t.schema().json(), sorted(listed, key=lambda x: sorted(x[0].items()))


_ADD = re.compile(r"^ALTER TABLE (\S+) ADD (PARTITION .*)$", re.S)
_MSCK = re.compile(r"^MSCK REPAIR TABLE (\S+)$")
_USE = re.compile(r"^USE (\S+)$")


def _statements(script: str) -> list[str]:
    body = "\n".join(ln for ln in script.splitlines() if not ln.startswith("--"))
    return [s.strip() for s in body.split(";\n") if s.strip().rstrip(";")]


def _merge_adds(stmts: list[str]) -> list[str]:
    """Fold consecutive ``ALTER TABLE t ADD PARTITION ...`` statements on the
    same table into one multi-partition statement.  Each folded clause is
    the script's own text; folding only saves a metastore round trip per
    partition during the replay."""
    out: list[str] = []
    last_table = None
    for s in (s.rstrip(";") for s in stmts):
        m = _ADD.match(s)
        if m and m.group(1) == last_table:
            out[-1] += " " + m.group(2)
            continue
        last_table = m.group(1) if m else None
        out.append(s)
    return out


def replay_and_compare(spark, cat: _Catalog, db: str, script: str) -> str | None:
    """Replay ``script`` into ``<db>_replay`` and compare it with ``db``;
    return None when they match, else what differs."""
    target = db + REPLAY_SUFFIX
    current = None
    for stmt in _merge_adds(_statements(script.replace(db, target))):
        if m := _USE.match(stmt):
            current = m.group(1)
        if m := _MSCK.match(stmt):
            # MSCK discovers partitions from directories: copy the source
            # table's directory tree first, as a migration copies the data.
            name = m.group(1).replace("`", "").split(".")
            tdb, table = (name if len(name) == 2 else [current, name[0]])
            shutil.copytree(cat.table_location(db, table), cat.table_location(tdb, table),
                            dirs_exist_ok=True)
        spark.sql(stmt)
    src_tables, dst_tables = cat.tables(db), cat.tables(target)
    if src_tables != dst_tables:
        return f"tables {src_tables} != {dst_tables}"
    for table in src_tables:
        src, dst = cat.describe(db, table), cat.describe(target, table)
        if src != dst:
            return f"{table}: schema or partition locations differ: {src} != {dst}"
        if src[1]:
            shown = [sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS `{d}`.`{table}`").collect())
                     for d in (db, target)]
            if shown[0] != shown[1]:
                return f"{table}: SHOW PARTITIONS {shown[0]} != {shown[1]}"
    return None


# --------------------------------------------------------------------------
# Worker
# --------------------------------------------------------------------------

def run(workload: str, seed: int, workdir: str, seconds: float, trace: bool,
        t_start: float) -> Result:
    from hive_ddl_extract_tool_spark.catalog.extractor import ExtractConfig

    res = Result()
    t0 = time.perf_counter()
    spark = spark_session(workdir, hive=True)
    get_spark_s = time.perf_counter() - t0
    spark.sql("SHOW DATABASES").collect()  # connects the metastore client
    connect_s = time.perf_counter() - t0 - get_spark_s

    dbs = gen.catalog(seed)
    t0 = time.perf_counter()
    for db in dbs:
        for stmt in gen.populate_sql(db):
            spark.sql(stmt)
    populate_s = time.perf_counter() - t0
    configs = {"deep": ExtractConfig(use_add_sql=True), "wide": ExtractConfig()}

    for _ in range(WARMUP_PASSES):  # JIT, Hive client, metastore caches
        _run_pass(spark, dbs, configs)
    setup_s = time.time() - t_start - populate_s
    log(f"session {get_spark_s:.1f} s, metastore {connect_s:.1f} s, "
        f"populate {populate_s:.1f} s, setup {setup_s:.1f} s")

    tracer = Tracer() if trace else None
    passes: list[tuple[bool, float, list[tuple[float, str | None]]]] = []
    t_measure = time.perf_counter()
    # A traced run interleaves untraced, traced, traced, untraced passes, in
    # whole groups of four, so both kinds sit at the same mean position on
    # the JIT warm-up curve.
    while (time.perf_counter() - t_measure < seconds or len(passes) < MIN_PASSES
           or (trace and len(passes) % 4)):
        traced = trace and len(passes) % 4 in (1, 2)
        if traced:
            tracer.install_catalog()
        t0 = time.perf_counter()
        try:
            ops = _run_pass(spark, dbs, configs)
        finally:
            if traced:
                tracer.uninstall()
        passes.append((traced, time.perf_counter() - t0, ops))
        log(f"pass {len(passes)}{' traced' if traced else ''}: {passes[-1][1]:.2f} s")

    # -- correctness, outside the timed region --------------------------
    t0 = time.perf_counter()
    cat = _Catalog(spark)
    reference: dict[str, str] = {}
    for db, (_, script) in zip(dbs, passes[0][2]):
        if script is None:
            continue
        try:
            problem = replay_and_compare(spark, cat, db.name, script)
        except Exception as e:  # a script that does not replay is a wrong output
            problem = f"replay failed: {type(e).__name__}: {e}"[:300]
        if problem is None:
            reference[db.name] = _canon(script)
        else:
            res.correct = False
            res.notes.append(f"{db.name}: {problem}")
    log(f"verified in {time.perf_counter() - t0:.1f} s")
    ok_s: list[float] = []
    ok_tables = ok_parts = 0
    for traced, _, ops in passes:
        for db, (sec, script) in zip(dbs, ops):
            res.attempted += 1
            if script is None or _canon(script) != reference.get(db.name):
                res.failed += 1
                if script is not None and db.name in reference:
                    res.correct = False
                    res.notes.append(f"{db.name}: script differs from the verified one")
                continue
            if traced:
                continue
            ok_s.append(sec)
            ok_tables += len(db.tables)
            ok_parts += sum(len(t.partitions) for t in db.tables)
    untraced = [p for p in passes if not p[0]]
    pass_s = statistics.median(p[1] for p in untraced)
    measured_s = sum(p[1] for p in untraced)
    kind_s = {kind: statistics.median(sum(sec for db, (sec, _) in zip(dbs, p[2]) if db.kind == kind)
                                      for p in untraced) for kind in ("deep", "wide")}
    m = res.metrics
    m.update({
        "setup_s": setup_s,
        "pass_s": pass_s,
        "ok_share": (res.attempted - res.failed) / res.attempted,
        "bench.peak_rss_mb": peak_rss_mb(spark),
        "bench.populate_s": populate_s,
        "bench.launch_s": setup_s,
        "bench.passes": float(len(untraced)),
        "catalog.tables_per_s": ok_tables / measured_s,
        "catalog.partitions_per_s": ok_parts / measured_s,
        "catalog.deep_pass_s": kind_s["deep"],
        "catalog.wide_pass_s": kind_s["wide"],
        "session.get_spark_s": get_spark_s,
    })
    m.update(latency_metrics(ok_s))
    if trace:
        traced_passes = [p for p in passes if p[0]]
        n = len(traced_passes)
        v = {k: x / n for k, x in tracer.values.items()}
        v["metastore.max_in_flight"] = tracer.values["metastore.max_in_flight"]
        traced_s = statistics.median(p[1] for p in traced_passes)
        statements = v.get("metastore.statements", 0.0)
        tables = sum(len(db.tables) for db in dbs)
        partitions = sum(len(t.partitions) for db in dbs for t in db.tables)
        v.update({
            "extractor.parallelism": v.get("extractor.table_section.busy_s", 0.0)
            / (sum(p[1] for p in traced_passes) / n),
            "metastore.useful_share": (statements - v.get("metastore.failed", 0.0)) / statements,
            "metastore.per_table": statements / tables,
            "metastore.per_partition": v.get("metastore.describe_partition", 0.0) / partitions,
            "trace.pass_s": traced_s,
            "trace.overhead_s": traced_s - pass_s,
            "trace.overhead_share": (traced_s - pass_s) / pass_s,
        })
        m.update(v)
    spark.stop()
    return res
