"""The per-layer metrics of the traced run, named ``<module>.<metric>``.

Every workload reports every metric; a layer a workload does not touch
reads 0.  Times and call counts are per measured operation (one CDC batch,
one SQL statement, one headline query execution), so runs of different
length compare.
"""

from __future__ import annotations

import os
from collections import defaultdict
from typing import Any

from perfbench import tracing
from perfbench.common import bytes_written, median, snapshot

SPARK = [
    ("spark.jobs", "1/op"),
    ("spark.stages", "1/op"),
    ("spark.tasks", "1/op"),
    ("spark.task_run_s", "s/op"),
    ("spark.task_cpu_s", "s/op"),
    ("spark.shuffle_write_bytes", "B/op"),
    ("spark.spill_bytes", "B/op"),
    ("spark.gc_s", "s/op"),
    ("spark.driver_only_s", "s/op"),
]
# span name -> (time metric, call metric); time is inclusive span time
SPAN_LAYERS = {
    "engine.table": ("engine.table.s", "engine.table.calls"),
    "storage.merge.mirror": ("storage.merge.mirror.s", "storage.merge.mirror.calls"),
    "storage.merge.mv_state": ("storage.merge.mv_state.s", "storage.merge.mv_state.calls"),
    "storage.changes": ("storage.changes.s", "storage.changes.calls"),
    "storage.read": ("storage.read.s", "storage.read.calls"),
    "storage.dml": ("storage.dml.s", "storage.dml.calls"),
    "sources.iceberg.upsert": ("sources.iceberg.upsert.s", "sources.iceberg.upsert.calls"),
    "sources.delta.upsert": ("sources.delta.upsert.s", "sources.delta.upsert.calls"),
    "views.refresh": ("views.refresh.s", "views.refresh.calls"),
}
OTHER = [
    ("streaming.pickup_s", "s"),
    ("streaming.batches", "count"),
    ("engine.apply_changes.self_s", "s/op"),
    ("engine.apply_changes.calls", "1/op"),
    ("storage.cow_commits", "count"),
    ("storage.mor_commits", "count"),
    ("storage.files_rewritten", "1/op"),
    ("storage.bytes_written", "B/op"),
    ("storage.snapshot_files_end", "count"),
    ("storage.delete_files_end", "count"),
    ("sources.iceberg.bytes_written", "B/op"),
    ("sources.delta.bytes_written", "B/op"),
    ("sources.iceberg.metadata_files_end", "count"),
    ("views.state_bytes_written", "B/op"),
    ("catalog.s", "s/op"),
    ("catalog.calls", "1/op"),
    ("catalog.get.calls", "1/op"),
    ("catalog.update_watermarks.calls", "1/op"),
    ("catalog.list_tables.calls", "1/op"),
    ("sql_router.sql.s", "s/op"),
    ("sql_router.sql.calls", "1/op"),
    ("sql_router.sql.select.s", "s"),
    ("sql_router.sql.update.s", "s"),
    ("sql_router.sql.delete.s", "s"),
    ("sql_router.sql.insert.s", "s"),
    ("sql_router.driver_s", "s/op"),
    ("session.jvm_peak_rss_mb", "MB"),
    ("session.py_peak_rss_mb", "MB"),
    ("trace.op_p50_s", "s"),
    ("trace.apply_s", "s/op"),
    ("trace.spans", "count"),
]


def headline() -> list[str]:
    """The headline query keys of ``bench.py``."""
    import bench

    return list(bench.HEADLINE)


def per_layer_spec() -> list[tuple[str, str]]:
    spans = []
    for t, c in SPAN_LAYERS.values():
        spans += [(t, "s/op"), (c, "1/op")]
    # median time and Spark jobs of each headline query (olap_headline)
    queries = []
    for k in headline():
        queries += [(f"query.{k}.s", "s"), (f"query.{k}.jobs", "1/op")]
    return SPARK + spans + OTHER + queries


def span_metrics(
    spans: list[dict[str, Any]], ops: set[str], n_ops: int, jobs: dict[int, dict[str, Any]]
) -> dict[str, float]:
    """Layer times and call counts from the spans of the measured ops."""
    mine = [s for s in spans if s["op"] in ops]
    n = max(1, n_ops)
    out: dict[str, float] = defaultdict(float)
    selfs = tracing.self_times(mine)
    for s in mine:
        dur = s["end"] - s["start"]
        if s["name"] in SPAN_LAYERS:
            t, c = SPAN_LAYERS[s["name"]]
            out[t] += dur / n
            out[c] += 1 / n
        elif s["name"].startswith("catalog."):
            out["catalog.s"] += dur / n
            out["catalog.calls"] += 1 / n
            out[f"{s['name']}.calls"] += 1 / n
        elif s["name"] == "engine.apply_changes":
            out["engine.apply_changes.self_s"] += selfs[s["id"]] / n
            out["engine.apply_changes.calls"] += 1 / n
    sql = [s for s in mine if s["name"].startswith("sql_router.sql")]
    job_iv = [(j["start"], j["end"]) for j in jobs.values() if j["end"] is not None]
    out["sql_router.sql.s"] = sum(s["end"] - s["start"] for s in sql) / n
    out["sql_router.sql.calls"] = len(sql) / n
    out["sql_router.driver_s"] = sum(
        tracing.uncovered(s["start"], s["end"], job_iv) for s in sql
    ) / n
    for kind in ("select", "update", "delete", "insert"):
        xs = [s["end"] - s["start"] for s in sql if s["name"] == f"sql_router.sql.{kind}"]
        out[f"sql_router.sql.{kind}.s"] = median(xs) if xs else 0.0
    out["trace.apply_s"] = sum(
        s["end"] - s["start"] for s in mine
        if s["name"] == "engine.apply_changes" and s["parent"] is None
    ) / n
    out["trace.spans"] = len(spans)
    return out


def storage_values(
    tables: list[Any], before: dict[str, int], after: dict[str, int], since: float, n: int
) -> dict[str, float]:
    """Storage-layer counts of the mirrors ``tables`` (MoonTables) from
    their commit logs and the files under them: copy-on-write and
    merge-on-read commits over the whole run, warm-up included; files
    rewritten and bytes written per op of the measured phase (commits
    stamped at or after ``since``); and the snapshot the run left."""
    out: dict[str, float] = defaultdict(float)
    for mt in tables:
        hist = mt.history()
        measured = [c for c in hist if c.ts >= since]
        out["storage.cow_commits"] += sum(1 for c in hist if c.remove and not c.deletes)
        out["storage.mor_commits"] += sum(1 for c in hist if c.deletes)
        out["storage.files_rewritten"] += sum(len(c.remove) for c in measured) / n
        out["storage.bytes_written"] += bytes_written(before, after, mt.path + os.sep) / n
        files, dels = snapshot(hist)
        out["storage.snapshot_files_end"] += len(files)
        out["storage.delete_files_end"] += len(dels)
    return out


def assemble(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric with its unit; missing ones read 0."""
    return {name: (float(values.get(name, 0.0)), unit) for name, unit in per_layer_spec()}
