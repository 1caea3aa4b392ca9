"""§2A per-round evidence: the catalog/DDL extraction migration fixpoint
(X16 — the reference's entire capability) against a REAL embedded-Derby
Hive metastore, emitted as a PARITY-style one-liner.

The §2B surface gets a fresh driver sweep row every round; the §2A suite
was pytest-green but its evidence never rotated (round-8 verdict, Next
item 4). This tool packages the strongest §2A check — create a
partitioned Hive table, extract DDL (AS SERDE + ADD PARTITION + MSCK),
APPLY the generated script to a renamed database as a cluster migration
would, re-extract, and require the two scripts identical modulo db name
and DDL timestamp — as a per-round artifact: `tools/drive_driver.py`
runs it after the sweep and appends the result to PARITY.md, so every
round's parity file carries a dated §2A line next to the §2B rows.

Since round 10 the scenario replays BOTH config arms: the default
USE_CONTEXT path (USE db + unqualified names + relative partition
locations) and the use_context=False path (qualified `db.table` names +
ABSOLUTE partition locations, ExtractHiveDDL.java:268-274's other branch)
on an external table whose location is db-neutral, so the same fixpoint
criterion applies across the rename. A third arm replays a two-level
table whose partition values need escaping (HOSTILE_PARTITION_VALUES):
quotes, backslash, '/', '=', '%' and timestamp colons must come back as
the same partitions at the same table-relative locations. A fourth arm
extracts and replays a database, table and partition column whose names
need backtick quoting (`123`, `1e3`, `1d`), in the MSCK and ADD forms.

Runs in a subprocess because spark.sql.catalogImplementation is static
per JVM (the caller's session uses the in-memory catalog); the same
scenario backs tests/test_hive_metastore.py so the checked logic cannot
drift from the round artifact.

Usage: python tools/catalog_parity.py            # prints the one-liner
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Partition values that the metastore's directory names escape and that a
# SQL string literal must escape; tests/test_catalog_ddl.py replays the
# same values on the in-memory catalog.
HOSTILE_PARTITION_VALUES = (
    "it's", "a/b", "x=y", "50%", "back\\slash", 'dq"q', "2024-01-01 00:00:00",
)


def scenario_script(workdir: str) -> str:
    """The full fixpoint scenario, parameterized by a scratch dir (the
    Derby metastore_db and warehouse land there). Prints
    HIVE_METASTORE_OK on success; any assert kills the subprocess."""
    return textwrap.dedent(f"""
        import sys; sys.path.insert(0, {REPO!r})
        import os
        os.chdir({workdir!r})   # derby metastore_db lands here
        from hive_ddl_extract_tool_spark.session import get_spark
        spark = get_spark(app_name="catalog_parity", cpus=2, enable_hive=True,
                          extra_conf={{"spark.sql.warehouse.dir": {workdir!r} + "/wh"}})
        assert spark.conf.get("spark.sql.catalogImplementation") == "hive"
        spark.sql("CREATE DATABASE hv")
        spark.sql("CREATE TABLE hv.t (a INT, dt STRING) PARTITIONED BY (dt) STORED AS PARQUET")
        spark.sql("INSERT INTO hv.t PARTITION (dt='x') VALUES (1)")
        spark.sql("INSERT INTO hv.t PARTITION (dt='y') VALUES (2)")
        from hive_ddl_extract_tool_spark.catalog.extractor import ExtractConfig, extract_ddl
        add = extract_ddl(spark, "hv", "*", None, ExtractConfig(use_add_sql=True))
        assert "CREATE TABLE hv.t" in add.replace("`", "")
        assert "ROW FORMAT SERDE" in add            # Hive-format fidelity (AS SERDE)
        assert add.count("ADD PARTITION") == 2
        msck = extract_ddl(spark, "hv", "*", None, ExtractConfig(use_add_sql=False))
        assert "MSCK REPAIR TABLE t;" in msck

        # Migration round-trip FIXPOINT -- the tool's entire purpose: apply
        # the generated script (db renamed, as a cluster migration would) and
        # re-extract; the scripts must match modulo db name and the
        # transient_lastDdlTime DDL timestamp. This proves the script is
        # EXECUTABLE (not just plausible text), the relative partition
        # locations (R11) re-resolve under the new table dir, and extraction
        # is idempotent across a migration hop.
        applied = add.replace("hv", "hv2")
        stmts = [s.strip() for s in "\\n".join(
            ln for ln in applied.splitlines() if not ln.startswith("--")
        ).split(";") if s.strip()]
        for s in stmts:
            spark.sql(s)
        assert [r[0] for r in spark.sql("SHOW PARTITIONS hv2.t").collect()] == ["dt=x", "dt=y"]
        dst = extract_ddl(spark, "hv2", "*", None, ExtractConfig(use_add_sql=True))
        def normalize_script(t, db):
            return "\\n".join(ln for ln in t.replace(db, "DB").splitlines()
                              if "transient_lastDdlTime" not in ln)
        assert normalize_script(add, "hv") == normalize_script(dst, "hv2"), (add, dst)

        # Second arm -- use_context=False (ExtractHiveDDL.java:268-274's
        # OTHER branch): qualified `db.table` names, NO `USE db;` header,
        # ABSOLUTE partition locations. An EXTERNAL table at a db-neutral
        # path makes the absolute locations survive the migration rename
        # (a managed table's warehouse path embeds the db name, which the
        # rename would falsify); the db names are chosen so they cannot
        # collide with the random scratch-path characters.
        ext = {workdir!r} + "/ext/t"
        assert "dbsrcq" not in {workdir!r} and "dbdstq" not in {workdir!r}
        spark.sql("CREATE DATABASE dbsrcq")
        spark.sql("CREATE EXTERNAL TABLE dbsrcq.t (a INT) PARTITIONED BY (dt STRING) "
                  "STORED AS PARQUET LOCATION '" + ext + "'")
        spark.sql("INSERT INTO dbsrcq.t PARTITION (dt='x') VALUES (1)")
        spark.sql("INSERT INTO dbsrcq.t PARTITION (dt='y') VALUES (2)")
        cfg_abs = ExtractConfig(use_add_sql=True, use_context=False)
        add2 = extract_ddl(spark, "dbsrcq", "*", None, cfg_abs)
        assert "USE dbsrcq;" not in add2                 # qualified-name mode
        assert add2.count("ADD PARTITION") == 2
        alters = [ln for ln in add2.splitlines() if "ADD PARTITION" in ln]
        assert all("ALTER TABLE dbsrcq.t" in ln.replace("`", "") for ln in alters)
        assert all(ext + "/dt=" in ln for ln in alters)  # absolute locations
        applied2 = add2.replace("dbsrcq", "dbdstq")
        stmts2 = [s.strip() for s in "\\n".join(
            ln for ln in applied2.splitlines() if not ln.startswith("--")
        ).split(";") if s.strip()]
        for s in stmts2:
            spark.sql(s)
        assert [r[0] for r in spark.sql("SHOW PARTITIONS dbdstq.t").collect()] == ["dt=x", "dt=y"]
        dst2 = extract_ddl(spark, "dbdstq", "*", None, cfg_abs)
        assert normalize_script(add2, "dbsrcq") == normalize_script(dst2, "dbdstq"), (add2, dst2)

        # Third arm -- hostile partition values on a two-level Hive table:
        # the listing must return unescaped values and the script must
        # escape them as SQL literals, or the replay restores different
        # partitions (or none: the lookup of an escaped name fails).
        from hive_ddl_extract_tool_spark.catalog.extractor import (
            get_partitions, get_table_location, relative_location)
        assert "dbhostq" not in {workdir!r} and "dbhostr" not in {workdir!r}
        vals = {HOSTILE_PARTITION_VALUES!r}
        spark.sql("CREATE DATABASE dbhostq")
        spark.sql("CREATE TABLE dbhostq.t (v INT) PARTITIONED BY (a STRING, b STRING) "
                  "STORED AS PARQUET")
        spark.conf.set("hive.exec.dynamic.partition.mode", "nonstrict")
        rows = [(i, a, b) for i, (a, b) in enumerate(zip(vals, reversed(vals)))]
        spark.createDataFrame(rows, "v INT, a STRING, b STRING").write.insertInto("dbhostq.t")
        add3 = extract_ddl(spark, "dbhostq", "*", None, ExtractConfig(use_add_sql=True))
        assert add3.count("ADD PARTITION") == len(vals), add3
        stmts3 = [s.strip() for s in "\\n".join(
            ln for ln in add3.replace("dbhostq", "dbhostr").splitlines()
            if not ln.startswith("--")
        ).split(";") if s.strip()]
        for s in stmts3:
            spark.sql(s)
        def listing(db):
            root = get_table_location(spark, db, "t")
            return ([r[0] for r in spark.sql("SHOW PARTITIONS " + db + ".t").collect()],
                    [(spec, relative_location(loc, root))
                     for spec, loc in get_partitions(spark, db, "t")])
        src3, dst3 = listing("dbhostq"), listing("dbhostr")
        assert src3 == dst3, (src3, dst3)
        assert sorted(v for spec, _ in src3[1] for _, v in spec) == sorted(vals * 2)
        again = extract_ddl(spark, "dbhostr", "*", None, ExtractConfig(use_add_sql=True))
        assert normalize_script(add3, "dbhostq") == normalize_script(again, "dbhostr"), (add3, again)

        # Fourth arm -- names that are not plain identifiers (database 123,
        # table 1e3, partition column 1d) must come out backtick-quoted, in
        # both the MSCK and the ADD PARTITION script. The table is external,
        # so each replay into a renamed database finds the same directories.
        from hive_ddl_extract_tool_spark.catalog.extractor import list_databases
        ext4 = {workdir!r} + "/ext4/t"
        spark.sql("CREATE DATABASE `123`")
        spark.sql("CREATE EXTERNAL TABLE `123`.`1e3` (v INT) PARTITIONED BY (`1d` STRING) "
                  "STORED AS PARQUET LOCATION '" + ext4 + "'")
        spark.sql("INSERT INTO `123`.`1e3` PARTITION (`1d`='x') VALUES (1)")
        assert list_databases(spark, "123") == ["123"]
        def body(t, db):  # banner comments name the db unquoted
            t = "\\n".join(ln for ln in t.splitlines() if not ln.startswith("--"))
            return normalize_script(t, "`" + db + "`")
        for add_sql, dst4 in ((False, "456"), (True, "789")):
            cfg4 = ExtractConfig(use_add_sql=add_sql)
            src4 = extract_ddl(spark, "123", "*", None, cfg4)
            assert src4.startswith("CREATE DATABASE IF NOT EXISTS `123`;\\nUSE `123`;"), src4
            restore = ("ALTER TABLE `1e3` ADD PARTITION (`1d`='x') LOCATION \\"1d=x\\";"
                       if add_sql else "MSCK REPAIR TABLE `1e3`;")
            assert restore in src4, src4
            stmts4 = [s.strip() for s in "\\n".join(
                ln for ln in src4.replace("`123`", "`" + dst4 + "`").splitlines()
                if not ln.startswith("--")
            ).split(";") if s.strip()]
            for s in stmts4:
                spark.sql(s)
            shown = spark.sql("SHOW PARTITIONS `" + dst4 + "`.`1e3`").collect()
            assert [r[0] for r in shown] == ["1d=x"], shown
            again4 = extract_ddl(spark, dst4, "*", None, cfg4)
            assert body(src4, "123") == body(again4, dst4), (src4, again4)
        print("HIVE_METASTORE_OK")
    """)


def run_fixpoint(workdir: str | None = None, timeout: int = 300) -> dict:
    """Run the scenario in a fresh JVM; return a PARITY-ready result row.
    A self-created scratch dir (Derby metastore_db + warehouse parquet) is
    removed on the way out -- one leaked multi-MB dir per sweep otherwise."""
    own_workdir = workdir is None
    if own_workdir:
        workdir = tempfile.mkdtemp(prefix="catalog_parity_")
    t0 = time.monotonic()
    try:
        proc = subprocess.run(
            [sys.executable, "-c", scenario_script(workdir)],
            capture_output=True, text=True, timeout=timeout,
        )
    finally:
        if own_workdir:
            shutil.rmtree(workdir, ignore_errors=True)
    ok = "HIVE_METASTORE_OK" in proc.stdout
    return {
        "ok": ok,
        "sec": round(time.monotonic() - t0, 1),
        "line": ("OK   §2A catalog fixpoint: Derby metastore extract -> apply "
                 "-> re-extract identical, ctx+abs (AS SERDE, ADD PARTITION "
                 "x2, MSCK; use_context=False arm: qualified names + "
                 "absolute locations on an external table; hostile partition "
                 "values arm; quoted identifiers arm)"
                 if ok else "FAIL §2A catalog fixpoint"),
        "stdout_tail": proc.stdout[-2000:],
        "stderr_tail": proc.stderr[-2000:],
    }


def main() -> int:
    res = run_fixpoint()
    print(f"{res['line']} ({res['sec']}s)")
    if not res["ok"]:
        print(res["stdout_tail"])
        print(res["stderr_tail"], file=sys.stderr)
    return 0 if res["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
