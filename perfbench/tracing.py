"""Tracing for the benchmark's traced run (``--trace 1``).

Spans come from wrappers installed around the public entry points of the
engine's layers; nothing inside the engine is changed.  Each span records
its name, start, end, parent span and operation id, is kept in memory, and
is written out when the run ends.  Spark work is attributed to operations
through job groups read back from Spark's event log.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from typing import Any, Callable, Optional

# (module, owner attribute or None for a module function, attribute,
# span name).  MoonTable spans are renamed per table kind at call time.
ENTRY_POINTS = [
    ("pg_mooncake_spark.engine", "MooncakeEngine", "apply_changes", "engine.apply_changes"),
    ("pg_mooncake_spark.engine", "MooncakeEngine", "sql", "sql_router.sql"),
    ("pg_mooncake_spark.engine", "MooncakeEngine", "table", "engine.table"),
    ("pg_mooncake_spark.storage", "MoonTable", "merge", "storage.merge"),
    ("pg_mooncake_spark.storage", "MoonTable", "changes", "storage.changes"),
    ("pg_mooncake_spark.storage", "MoonTable", "read", "storage.read"),
    ("pg_mooncake_spark.storage", "MoonTable", "append", "storage.dml"),
    ("pg_mooncake_spark.storage", "MoonTable", "update_where", "storage.dml"),
    ("pg_mooncake_spark.storage", "MoonTable", "delete_where", "storage.dml"),
    ("pg_mooncake_spark.views", "MaterializedView", "refresh", "views.refresh"),
    ("pg_mooncake_spark.sources.iceberg", None, "upsert_keys_iceberg", "sources.iceberg.upsert"),
    ("pg_mooncake_spark.sources.delta", None, "upsert_keys_delta", "sources.delta.upsert"),
]
CATALOG_METHODS = [
    "dependents", "register", "update_watermarks", "get_or_set_stream_base",
    "set_field", "set_config_key", "add_export", "get", "list_tables",
]


def span_name(name: str, args: tuple) -> str:
    """MoonTable merges split by the table they write (a mirror or a
    materialized view's state); SQL by statement kind."""
    if name == "storage.merge":
        mv = os.path.exists(os.path.join(args[0].path, "_mvspec.json"))
        return "storage.merge.mv_state" if mv else "storage.merge.mirror"
    if name == "sql_router.sql" and len(args) > 1 and isinstance(args[1], str):
        return f"sql_router.sql.{args[1].split(None, 1)[0].lower()}"
    return name


class Tracer:
    """In-memory span recorder.  ``op`` is the id of the operation the
    harness is running; spans started on any thread carry it."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.op: Optional[str] = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._installed: list[tuple[Any, str, Any]] = []
        # called with (span name, op id) when a span opens with no parent
        # on its thread; the harness uses it to set the Spark job group
        self.on_root: Optional[Callable[[str, Optional[str]], None]] = None

    def _stack(self) -> list[dict[str, Any]]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args: Any, **kwargs: Any) -> Any:
            stack = self._stack()
            parent = stack[-1] if stack else None
            span = {
                "id": next(self._ids),
                "name": span_name(name, args),
                "parent": parent["id"] if parent else None,
                "op": self.op,
                "start": time.time(),
            }
            if parent is None and self.on_root is not None:
                self.on_root(span["name"], self.op)
            stack.append(span)
            try:
                return orig(*args, **kwargs)
            finally:
                span["end"] = time.time()
                stack.pop()
                self.spans.append(span)

        setattr(owner, attr, traced)
        self._installed.append((owner, attr, orig))

    def install(self) -> None:
        for mod_name, owner_name, attr, name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            self.wrap(getattr(mod, owner_name) if owner_name else mod, attr, name)
        from pg_mooncake_spark.catalog import SyncCatalog

        for m in CATALOG_METHODS:
            self.wrap(SyncCatalog, m, f"catalog.{m}")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict[str, Any]]) -> dict[int, float]:
    """Span id -> its duration minus the time its children cover.
    Children of one span run on the parent's thread, one after another,
    so their durations do not overlap."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def read_event_log(path: str) -> dict[int, dict[str, Any]]:
    """Jobs from an uncompressed Spark event log: id -> group, submit
    and end time (epoch seconds), stage and task counts, and summed task
    metrics."""
    jobs: dict[int, dict[str, Any]] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": 0,
                    "tasks": 0,
                    "run_s": 0.0,
                    "cpu_s": 0.0,
                    "gc_s": 0.0,
                    "spill_bytes": 0,
                    "shuffle_write_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid in jobs:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid not in jobs:
                    continue
                j = jobs[jid]
                tm = ev.get("Task Metrics") or {}
                j["tasks"] += 1
                j["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                j["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                j["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                j["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                j["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return jobs


def uncovered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] that no interval covers."""
    covered, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return (hi - lo) - covered


def op_of(job: dict[str, Any], windows: dict[str, tuple[float, float]]) -> Optional[str]:
    """The operation a job belongs to: its job group when that names an
    operation, else the operation whose window holds its submission.
    Jobs the sync loop launches before the engine is entered (file
    listing, the empty-batch probe) carry the stream's own group."""
    if job["group"] in windows:
        return job["group"]
    for op, (lo, hi) in windows.items():
        if lo <= job["start"] <= hi:
            return op
    return None


def spark_metrics(jobs: dict[int, dict[str, Any]], windows: dict[str, tuple[float, float]]) -> dict[str, float]:
    """Per-operation averages of the Spark layer over the jobs of the
    operations in ``windows`` (op id -> wall interval), plus the wall time
    of each operation covered by no running job."""
    mine = [j for j in jobs.values() if op_of(j, windows) is not None]
    n = max(1, len(windows))
    out = {
        "spark.jobs": len(mine) / n,
        "spark.stages": sum(j["stages"] for j in mine) / n,
        "spark.tasks": sum(j["tasks"] for j in mine) / n,
        "spark.task_run_s": sum(j["run_s"] for j in mine) / n,
        "spark.task_cpu_s": sum(j["cpu_s"] for j in mine) / n,
        "spark.gc_s": sum(j["gc_s"] for j in mine) / n,
        "spark.spill_bytes": sum(j["spill_bytes"] for j in mine) / n,
        "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in mine) / n,
    }
    intervals = [(j["start"], j["end"]) for j in jobs.values() if j["end"] is not None]
    out["spark.driver_only_s"] = sum(
        uncovered(lo, hi, intervals) for lo, hi in windows.values()
    ) / n
    return out


def event_log_path(spark) -> str:
    sc = spark.sparkContext
    return os.path.join(sc.getConf().get("spark.eventLog.dir").replace("file:", ""), sc.applicationId)
