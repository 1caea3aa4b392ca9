"""Pieces shared by the workload workers: the isolated SparkSession, the
latency statistics and the worker's result record."""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

# Every metric the benchmark prints.  END_TO_END is reported with tracing
# off; PER_LAYER by the traced run.  Both lists are printed for every
# workload: a layer the workload never enters reads 0.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_geomean_s": "s",
    "ok_share": "share",
}

EXTRACTOR_FUNCTIONS = (
    "list_databases", "list_tables", "get_create_ddl", "get_partitions",
    "get_table_location", "partition_restore_sql", "table_section",
)
METASTORE_KINDS = (
    "show_create", "show_create_serde_failed", "show_partitions",
    "show_partitions_failed", "describe_partition", "describe_table",
)
# The 23 headline queries of the repository's bench.py, frozen here so a
# change to that list cannot silently change what this benchmark measures.
HEADLINE = (
    "q01_pricing_summary", "q02_revenue_by_nation", "q03_order_priority_semi",
    "q05_distinct_users", "q08_cube_lineitem", "q10_top_orders_per_customer",
    "q11_running_revenue", "q13_nation_set_ops", "q20_scalar_gauntlet",
    "q21_json_extract", "q23_explode_tokens", "q31_token_count", "q33_fingerprint",
    "q34_quality_score", "q40_exact_dedup", "q41_minhash_signatures",
    "q42_minhash_lsh_dedup", "q44_simhash", "q46_cosine_topk", "q47_ann_lsh",
    "q60_tumbling_window", "q61_sliding_window", "q62_session_window",
)
SPARK_TOTALS = (
    "jobs", "tasks", "job_s", "driver_gap_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "input_bytes", "spill_bytes",
)


def query_tag(query: str) -> str:
    return query.split("_", 1)[0]


def per_layer_units() -> dict[str, str]:
    units = {
        "bench.populate_s": "s",
        "bench.launch_s": "s",
        "bench.passes": "count",
        "bench.op_samples": "count",
        "bench.peak_rss_mb": "MB",
        "trace.pass_s": "s",
        "trace.overhead_s": "s",
        "trace.overhead_share": "share",
        "catalog.tables_per_s": "1/s",
        "catalog.partitions_per_s": "1/s",
        "catalog.deep_pass_s": "s",
        "catalog.wide_pass_s": "s",
        "session.get_spark_s": "s",
    }
    for fn in EXTRACTOR_FUNCTIONS:
        units[f"extractor.{fn}.calls"] = "count"
        units[f"extractor.{fn}.busy_s"] = "s"
    units["extractor.parallelism"] = "ratio"
    for name in ("statements", "failed"):
        units[f"metastore.{name}"] = "count"
    units.update({
        "metastore.useful_share": "share", "metastore.busy_s": "s",
        "metastore.max_in_flight": "count", "metastore.per_table": "count",
        "metastore.per_partition": "count",
    })
    for kind in METASTORE_KINDS:
        units[f"metastore.{kind}"] = "count"
    for q in HEADLINE:
        units[f"operators.{query_tag(q)}.build_s"] = "s"
        units[f"operators.{query_tag(q)}.action_s"] = "s"
    units["operators.build_s"] = "s"
    units["operators.action_s"] = "s"
    units.update({
        "cache.calls": "count", "cache.hits": "count", "cache.misses": "count",
        "cache.stage_s": "s", "cache.staged_bytes": "bytes",
        "tables.load.calls": "count", "tables.load.busy_s": "s",
    })
    for q in HEADLINE:
        units[f"spark.{query_tag(q)}.jobs"] = "count"
    for name in SPARK_TOTALS:
        units[f"spark.{name}"] = "bytes" if name.endswith("_bytes") else (
            "s" if name.endswith("_s") else "count")
    return units


PER_LAYER = per_layer_units()


# --------------------------------------------------------------------------
# Statistics
# --------------------------------------------------------------------------

def geomean(samples: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in samples) / len(samples))


def latency_metrics(op_s: list[float]) -> dict[str, float]:
    return {
        "op_p50_s": statistics.median(op_s),
        "op_geomean_s": geomean(op_s),
        "bench.op_samples": float(len(op_s)),
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    return vm_hwm_mb() + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)


# --------------------------------------------------------------------------
# Session
# --------------------------------------------------------------------------

def spark_session(workdir: str, hive: bool = False, event_log: str | None = None):
    """A local[nproc] session whose every scratch file (Derby metastore,
    warehouse, Hive scratch, Spark local dirs, JVM temp) lands under
    ``workdir``; with ``event_log`` set, the event log is written there."""
    from hive_ddl_extract_tool_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={workdir} "
            f"-Dderby.stream.error.file={workdir}/derby.log"
        ),
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }
    if hive:
        conf.update({
            "spark.hadoop.javax.jdo.option.ConnectionURL":
                f"jdbc:derby:;databaseName={workdir}/metastore_db;create=true",
            "spark.hadoop.hive.exec.scratchdir": os.path.join(workdir, "hive-scratch"),
            "spark.hadoop.hive.exec.local.scratchdir": os.path.join(workdir, "hive-local"),
            "spark.hadoop.hive.downloaded.resources.dir": os.path.join(workdir, "hive-resources"),
        })
    # set either way: a session restarted in the same JVM inherits the
    # launch-time settings of the first one
    conf["spark.eventLog.enabled"] = "true" if event_log else "false"
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    cpus = len(os.sched_getaffinity(0))
    return get_spark(app_name="perfbench", cpus=cpus, enable_hive=hive, extra_conf=conf)


class Result:
    """What a worker hands back to run.py: operation counts, correctness and
    metric values, written as JSON into the work directory."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.metrics: dict[str, float] = {}
        self.notes: list[str] = []

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "attempted": self.attempted, "failed": self.failed,
                "correct": self.correct, "metrics": self.metrics, "notes": self.notes,
            }, f)


def log(msg: str) -> None:
    """Progress line for the run's standard error."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
