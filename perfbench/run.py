#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):

- ``catalog_deep_wide``  Hive-metastore DDL extraction over "deep"
  databases (one table of many partitions: per-partition metastore round
  trips) and "wide" ones (several tables: per-table statements and the
  table-level pool).
- ``queries_sf002``  cold-cache sweeps of the 23 headline queries at
  sf0.02 shape, each on a fresh session in a warmed-up JVM.

Run from the root of a checkout.  The workload runs in a child process
(its own JVM: the catalog implementation is fixed per JVM) whose every
scratch file lands in ``.perfbench_work/`` under the checkout; the
directory is removed before exit.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
the end-to-end metrics with ``--trace 0`` and the per-layer metrics of a
traced run with ``--trace 1``.  Everything else goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hive_ddl_extract_tool_spark"
WORKLOADS = ("catalog_deep_wide", "queries_sf002")
TIME_LIMIT_S = 170.0
REAP_WAIT_S = 20.0


def _group_alive(pgid: int) -> bool:
    """True while a live (non-zombie) process remains in group ``pgid``."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process the worker started, and wait until each has ended."""
    deadline = time.time() + REAP_WAIT_S
    while _group_alive(pgid):
        if time.time() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
        time.sleep(0.1)


def run_worker(args, workdir: str, t_start: float) -> dict:
    """Run the worker; ``t_start`` is the wall-clock time its ``setup_s``
    counts from."""
    tmp = os.path.join(workdir, "tmp")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(workdir, "local"),
        PYTHONDONTWRITEBYTECODE="1",
        # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    cmd = [sys.executable, os.path.abspath(__file__), "--child", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--workdir", workdir, "--t-start", repr(t_start)]
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, t_start + TIME_LIMIT_S - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"worker exceeded {TIME_LIMIT_S:.0f} s") from None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _stop_group(proc.pid)
    if proc.returncode != 0:
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    with open(os.path.join(workdir, "result.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    t_start = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--workdir", help=argparse.SUPPRESS)
    p.add_argument("--t-start", type=float, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.child:
        return child(args)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    from perfbench.common import END_TO_END, PER_LAYER

    base = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run_worker(args, workdir, t_start)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    for note in result["notes"]:
        print(f"perfbench: {note}", file=sys.stderr)
    values = result["metrics"]
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0


def child(args) -> int:
    sys.path.insert(0, ROOT)
    if args.workload == "catalog_deep_wide":
        from perfbench.catalog import run
    else:
        from perfbench.queries import run
    res = run(args.workload, args.seed, args.workdir, args.seconds, bool(args.trace), args.t_start)
    res.write(os.path.join(args.workdir, "result.json"))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
