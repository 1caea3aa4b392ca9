"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import common, eventlog, gen
from perfbench.catalog import _merge_adds, _statements
from perfbench.trace import statement_kind

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# -- event log --------------------------------------------------------------

def _write_rolling_log(log_dir, app="app-1"):
    d = log_dir / f"eventlog_v2_{app}"
    d.mkdir(parents=True)
    group = {"spark.jobGroup.id": "q01_x"}
    first = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.0"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": group},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": group},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Input Metrics": {"Bytes Read": 1000},
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7}},
    ]
    second = [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": group},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Read Metrics": {"Remote Bytes Read": 30, "Local Bytes Read": 70}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # a second job of the same group overlapping the first by 500 ms
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [2], "Properties": group},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
        # a job outside any group
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000,
         "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5100},
    ]
    # written out of name order on purpose: events_10 must come after events_2
    (d / f"events_10_{app}").write_text("\n".join(json.dumps(e) for e in second) + "\n")
    (d / f"events_2_{app}").write_text("\n".join(json.dumps(e) for e in first) + "\n")
    (d / f"appstatus_{app}.inprogress").write_text("")


def test_eventlog_parses_canned_rolling_log(tmp_path):
    _write_rolling_log(tmp_path)
    files = eventlog.log_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == ["events_2_app-1", "events_10_app-1"]
    groups = eventlog.parse(str(tmp_path))
    g = groups["q01_x"]
    assert (g.jobs, g.tasks) == (2, 3)
    assert g.shuffle_write_bytes == 100
    assert g.shuffle_read_bytes == 100
    assert g.input_bytes == 1000
    assert g.spill_bytes == 12
    assert g.job_s == pytest.approx(3.0)  # [1000, 4000] ms with the overlap merged
    assert groups[None].jobs == 1


# -- generators -------------------------------------------------------------

def test_catalog_is_a_function_of_the_seed():
    a, b, c = gen.catalog(7), gen.catalog(7), gen.catalog(8)
    assert a == b
    assert [gen.populate_sql(db) for db in a] == [gen.populate_sql(db) for db in b]
    assert [db.name for db in a] != [db.name for db in c]
    # the shape never depends on the seed
    shape = [[(t.kind, len(t.partitions)) for t in db.tables] for db in a]
    assert sorted(map(sorted, shape)) == sorted(map(sorted, [[(t.kind, len(t.partitions))
                                                              for t in db.tables] for db in c]))


def test_deep_catalog_has_one_known_defect_database():
    for seed in range(5):
        dbs = [db for db in gen.catalog(seed) if db.kind == "deep"]
        assert len(dbs) == gen.DEEP_DATABASES
        defects = [db for db in dbs if db.known_defect]
        assert len(defects) == 1
        (t,) = defects[0].tables
        assert t.partition_cols == ("ts",)
        assert all(":" in v for (v,) in t.partitions)
        assert len(t.partitions) == gen.DEFECT_DAYS * gen.DEEP_HOURS


def test_wide_catalog_kind_mix():
    wide = [db for db in gen.catalog(3) if db.kind == "wide"]
    assert len(wide) == gen.WIDE_DATABASES
    assert not any(db.known_defect for db in wide)
    for db in wide:
        kinds = sorted(t.kind for t in db.tables)
        assert kinds.count("hive_part") == kinds.count("datasource") == gen.WIDE_TABLES // 5
        assert all(len(t.partitions) == gen.WIDE_TABLE_PARTITIONS
                   for t in db.tables if t.kind == "hive_part")


def test_query_fixture_is_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    gen.write_query_fixture(str(tmp_path / "a"), 5)
    gen.write_query_fixture(str(tmp_path / "b"), 5)
    gen.write_query_fixture(str(tmp_path / "c"), 6)
    for name in ("orders", "documents", "embeddings"):
        a, b, c = (pq.read_table(str(tmp_path / d / f"{name}.parquet")) for d in "abc")
        assert a.equals(b)
        assert not a.equals(c)
        assert a.num_rows == gen.QUERY_ROWS[name]


# -- metric names and BENCHMARK.json ---------------------------------------

def test_metric_names_and_units():
    names = list(common.END_TO_END) + list(common.PER_LAYER)
    assert len(names) == len(set(names))
    assert len(common.PER_LAYER) <= 128
    for name in names:
        assert NAME.match(name), name
    for unit in list(common.END_TO_END.values()) + list(common.PER_LAYER.values()):
        assert UNIT.match(unit), unit


def test_benchmark_json_matches_the_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == common.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == common.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["catalog_deep_wide", "queries_sf002"]
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- small pure helpers -----------------------------------------------------

def test_catalog_fills_the_extractor_pools():
    from hive_ddl_extract_tool_spark.catalog.extractor import ExtractConfig

    # more partitions and more tables than the pools have threads, except
    # in the table whose lookups fail (see gen.DEFECT_DAYS)
    workers = ExtractConfig().max_workers
    for db in gen.catalog(5):
        if db.known_defect:
            assert all(len(t.partitions) <= workers for t in db.tables)
        elif db.kind == "deep":
            assert all(len(t.partitions) > workers for t in db.tables)
        else:
            assert len(db.tables) > workers


@pytest.mark.parametrize("sql,kind", [
    ("SHOW CREATE TABLE `d`.`t` AS SERDE", "show_create_serde"),
    ("SHOW CREATE TABLE `d`.`t`", "show_create"),
    ("SHOW PARTITIONS `d`.`t`", "show_partitions"),
    ("DESCRIBE FORMATTED `d`.`t` PARTITION (dt='1',hr='2')", "describe_partition"),
    ("DESCRIBE FORMATTED `d`.`t`", "describe_table"),
    ("SHOW TABLES IN `d` LIKE '*'", "other"),
    ("CREATE TABLE x (a INT)", "other"),
])
def test_statement_kind(sql, kind):
    assert statement_kind(sql) == kind


def test_replay_folds_consecutive_partition_adds():
    script = (
        "CREATE DATABASE IF NOT EXISTS d;\nUSE d;\n\n-- banner\nCREATE TABLE d.t (\n  a INT);\n"
        "ALTER TABLE t ADD PARTITION (dt='1') LOCATION \"dt=1\";\n"
        "ALTER TABLE t ADD PARTITION (dt='2') LOCATION \"dt=2\";\n"
        "MSCK REPAIR TABLE u;\n"
    )
    assert _merge_adds(_statements(script)) == [
        "CREATE DATABASE IF NOT EXISTS d", "USE d", "CREATE TABLE d.t (\n  a INT)",
        "ALTER TABLE t ADD PARTITION (dt='1') LOCATION \"dt=1\" PARTITION (dt='2') LOCATION \"dt=2\"",
        "MSCK REPAIR TABLE u",
    ]


# -- tracer -----------------------------------------------------------------

def test_tracer_wraps_every_binding_and_restores_them():
    from hive_ddl_extract_tool_spark import tables
    from hive_ddl_extract_tool_spark.operators import _cache, all_queries, dedup, tokenizer

    from perfbench.trace import Tracer

    all_queries()  # import every operator module
    original_cached_df, original_load = _cache.cached_df, tables.load
    tracer = Tracer()
    tracer.install_queries()
    try:
        # the defining modules (function-local imports read these) ...
        assert _cache.cached_df is not original_cached_df
        assert tables.load is not original_load
        # ... and the names bound at import time
        assert dedup.cached_df is _cache.cached_df
        assert tokenizer.cached_df is _cache.cached_df
        assert tokenizer.load is tables.load
    finally:
        tracer.uninstall()
    assert _cache.cached_df is original_cached_df and dedup.cached_df is original_cached_df
    assert tables.load is original_load and tokenizer.load is original_load


def test_tracer_counters_survive_concurrent_updates():
    import sys
    import threading

    from perfbench.trace import Tracer

    tracer = Tracer()
    fn = tracer._timed("x", lambda: None)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lambda: [fn() for _ in range(2000)]) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert tracer.values["x.calls"] == 16 * 2000
