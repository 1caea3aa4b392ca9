"""Traced-run instrumentation, installed from the benchmark's own files.

The wrappers time calls into the program's public functions and count
them; nothing inside the program changes.  A :class:`Tracer` owns the
counters and every patch it made, and :meth:`Tracer.uninstall` restores
the originals, so a worker can alternate traced and untraced passes.

The extractor issues metastore statements from pool threads, so all
counters are updated under one lock, and an in-flight gauge records the
peak number of concurrent ``SparkSession.sql`` calls.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "hive_ddl_extract_tool_spark"

# (kind, regex) -- first match wins.
_STATEMENT_KINDS = (
    ("show_create", re.compile(r"^\s*SHOW\s+CREATE\s+TABLE\b", re.I)),
    ("show_partitions", re.compile(r"^\s*SHOW\s+PARTITIONS\b", re.I)),
    ("describe_partition", re.compile(r"^\s*DESC(RIBE)?\b.*\bPARTITION\s*\(", re.I | re.S)),
    ("describe_table", re.compile(r"^\s*DESC(RIBE)?\b", re.I)),
)


def statement_kind(sql: str) -> str:
    for kind, pattern in _STATEMENT_KINDS:
        if pattern.match(sql):
            if kind == "show_create" and re.search(r"\bAS\s+SERDE\s*$", sql, re.I):
                return "show_create_serde"
            return kind
    return "other"


class Tracer:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.values: dict[str, float] = defaultdict(float)
        self._in_flight = 0

    # -- counters ---------------------------------------------------------
    def _enter(self) -> None:
        with self._lock:
            self._in_flight += 1
            if self._in_flight > self.values["metastore.max_in_flight"]:
                self.values["metastore.max_in_flight"] = self._in_flight

    def _leave(self) -> None:
        with self._lock:
            self._in_flight -= 1

    # -- patching ---------------------------------------------------------
    def _patch(self, owner: object, attr: str, new: object) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _patch_everywhere(self, original, new) -> None:
        """Replace ``original`` in its defining module and in every module of
        the package that bound it by name at import time."""
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patch(mod, attr, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def _timed(self, prefix: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                with self._lock:
                    self.values[prefix + ".calls"] += 1
                    self.values[prefix + ".busy_s"] += time.perf_counter() - t0
        return wrapper

    # -- layers -----------------------------------------------------------
    def install_catalog(self) -> None:
        """Wrap the extractor functions ``extract_ddl`` reaches through its
        module globals, and every ``SparkSession.sql`` call (the metastore
        boundary: in the catalog workload only the extractor issues SQL
        while tracing is installed)."""
        from pyspark.sql import SparkSession

        from hive_ddl_extract_tool_spark.catalog import extractor
        from .common import EXTRACTOR_FUNCTIONS, METASTORE_KINDS

        for fn in EXTRACTOR_FUNCTIONS:
            self._patch(extractor, fn, self._timed(f"extractor.{fn}", getattr(extractor, fn)))

        original_sql = SparkSession.sql
        tracer = self

        @functools.wraps(original_sql)
        def sql(session, sqlText, *args, **kwargs):
            kind = statement_kind(sqlText)
            tracer._enter()
            t0 = time.perf_counter()
            ok = False
            try:
                out = original_sql(session, sqlText, *args, **kwargs)
                ok = True
                return out
            finally:
                elapsed = time.perf_counter() - t0
                tracer._leave()
                with tracer._lock:
                    v = tracer.values
                    v["metastore.statements"] += 1
                    v["metastore.busy_s"] += elapsed
                    if not ok:
                        v["metastore.failed"] += 1
                    # the AS SERDE attempt and its plain fallback are both
                    # "show_create"; a failed statement also counts under
                    # "<kind>_failed" where that counter exists
                    name = "show_create" if kind == "show_create_serde" else kind
                    if name in METASTORE_KINDS:
                        v[f"metastore.{name}"] += 1
                    if not ok and f"{kind}_failed" in METASTORE_KINDS:
                        v[f"metastore.{kind}_failed"] += 1

        self._patch(SparkSession, "sql", sql)

    def install_queries(self) -> None:
        """Wrap ``operators._cache.cached_df`` (hit/miss, time in the miss
        path, bytes staged) and ``tables.load``, in their defining modules
        (for function-local imports) and wherever a module bound them by
        name at import."""
        from hive_ddl_extract_tool_spark import tables
        from hive_ddl_extract_tool_spark.operators import _cache

        original_cached_df = _cache.cached_df
        tracer = self

        @functools.wraps(original_cached_df)
        def cached_df(spark, key, builder):
            hit = (spark.sparkContext.applicationId, key) in _cache._CACHE
            t0 = time.perf_counter()
            df = original_cached_df(spark, key, builder)
            elapsed = time.perf_counter() - t0
            staged = 0
            if not hit:
                stage_dir = _cache._CACHE[(spark.sparkContext.applicationId, key)][1]
                staged = sum(
                    os.path.getsize(os.path.join(root, f))
                    for root, _, files in os.walk(stage_dir) for f in files
                )
            with tracer._lock:
                v = tracer.values
                v["cache.calls"] += 1
                v["cache.hits" if hit else "cache.misses"] += 1
                if not hit:
                    v["cache.stage_s"] += elapsed
                    v["cache.staged_bytes"] += staged
            return df

        self._patch_everywhere(original_cached_df, cached_df)
        self._patch_everywhere(tables.load, self._timed("tables.load", tables.load))
