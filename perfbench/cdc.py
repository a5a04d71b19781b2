"""cdc_sync: change batches through the production sync loop.

Set-up builds a ``lineitem`` mirror with a change feed, one Iceberg and one
Delta export and a materialized view with sum, count, avg, min and max
aggregates (the min/max retractions force a recompute of the touched
groups), generates every change file, starts
``streaming.cdc.start_sync`` over a parquet file source that takes one
file per micro-batch, and syncs one warm-up batch.  The measured phase
lands one change file at a time by atomic rename and polls the catalog
until its commit watermark covers the batch: that interval is the batch's
freshness, since the engine moves the watermark only after the mirror,
both exports and the view hold the batch.  Each visible batch is then
read back through ``MooncakeEngine.sql``.

The mirror is backfilled as 16 files, each a range of the primary key,
so the engine's ``auto`` merge strategy has a choice to make.  The warm-up
batch is a large one: it changes 1,000 keys spread over the whole table
and touches every file, which flips ``auto`` to merge-on-read and leaves
tombstones that the later batches and the reads after the sync have to
apply.  The measured batches are small: each changes 100 keys of one
narrow key range and touches one or two base files, plus the file the
warm-up appended, which the engine merges copy-on-write (with 16 base files
that stays under the 0.3 share of touched files at which ``auto`` flips).  One batch is always measured; a further one starts only
while it can end inside ``--seconds``, judged by the batches so far.
"""

from __future__ import annotations

import functools
import os
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from perfbench import datagen, layers, tracing
from perfbench.common import (
    Ctx,
    Result,
    bytes_written,
    frame_diff,
    jvm_peak_rss_mb,
    log,
    make_session,
    median,
    py_peak_rss_mb,
    snapshot,
    timing,
    tree_sizes,
)

MIRROR = "lineitem"
MV = "lineitem_flag_summary"
MV_SQL = (
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n, "
    "avg(l_extendedprice) AS avg_price, min(l_extendedprice) AS min_price, "
    "max(l_extendedprice) AS max_price FROM mirror GROUP BY ALL"
)
PK = datagen.LINEITEM_PK
MIRROR_FILES = 16
# (keys, clustered) of the warm-up batch and of each measured batch
WARMUP_BATCH = (1000, False)
MEASURED_BATCH = (100, True)
MAX_BATCHES = 30
POLL_S = 0.005
TRIGGER = "100 milliseconds"
Q1_WARM, Q1_RUNS = 1, 3
BATCH_TIMEOUT_S = 120.0
Q1 = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "sum(l_quantity) AS sum_qty, sum(l_extendedprice) AS sum_price "
    f"FROM {MIRROR} GROUP BY l_returnflag, l_linestatus "
    "ORDER BY l_returnflag, l_linestatus"
)


def replay(base_paths: list[str], change_paths: list[str], con: duckdb.DuckDBPyConnection) -> None:
    """Independent replay into DuckDB table ``m``: each change file
    replaces its keys (U, D) and adds its images (I, U), in order."""
    con.execute(f"CREATE OR REPLACE TABLE m AS SELECT * FROM read_parquet({base_paths!r})")
    cols = ", ".join(pq.read_schema(base_paths[0]).names)
    for p in change_paths:
        con.execute(
            f"DELETE FROM m WHERE (l_orderkey, l_linenumber) IN "
            f"(SELECT (l_orderkey, l_linenumber) FROM '{p}')"
        )
        con.execute(f"INSERT INTO m SELECT {cols} FROM '{p}' WHERE __op IN ('I', 'U')")


def _bytes_per_row(path: str, history, live_rows: int) -> float:
    files, dels = snapshot(history)
    size = sum(os.path.getsize(os.path.join(path, n)) for n in files | dels)
    return size / max(1, live_rows)


def run(ctx: Ctx) -> Result:
    from pyspark.sql import DataFrame
    from pyspark.sql import types as T

    from pg_mooncake_spark.catalog import SyncCatalog
    from pg_mooncake_spark.engine import MooncakeEngine
    from pg_mooncake_spark.sources.delta import read_delta
    from pg_mooncake_spark.sources.iceberg import read_iceberg
    from pg_mooncake_spark.streaming.cdc import start_sync

    res = Result()
    tables = datagen.tpch_tables(ctx.seed, ctx.sf, only={"lineitem"})
    base = tables["lineitem"]
    data = os.path.join(ctx.work, "data")
    staged = os.path.join(ctx.work, "staged")
    feed = os.path.join(ctx.work, "feed")
    wh = os.path.join(ctx.work, "warehouse")
    ice, dlt = os.path.join(wh, "_export_iceberg"), os.path.join(wh, "_export_delta")
    for d in (data, staged, feed):
        os.makedirs(d, exist_ok=True)
    # the backfill source: one file per primary-key range, in key order
    base_paths = []
    bounds = [base.num_rows * k // MIRROR_FILES for k in range(MIRROR_FILES + 1)]
    for k in range(MIRROR_FILES):
        part = base.slice(bounds[k], bounds[k + 1] - bounds[k])
        base_paths.append(os.path.join(data, f"lineitem-{k}.parquet"))
        pq.write_table(part, base_paths[-1], row_group_size=part.num_rows)
    specs = [WARMUP_BATCH] + [MEASURED_BATCH] * MAX_BATCHES
    batches = datagen.change_batches(
        ctx.seed, base, specs, tables["part"].num_rows, tables["supplier"].num_rows,
    )
    staged_paths = []
    for i, b in enumerate(batches):
        p = os.path.join(staged, f"batch-{i:05d}.parquet")
        pq.write_table(b.table, p)
        staged_paths.append(p)

    log(ctx, "inputs written")
    spark = make_session(ctx)
    sc = spark.sparkContext
    tracer = None
    if ctx.trace:
        tracer = tracing.Tracer()
        tracer.on_root = lambda name, op: op is not None and sc.setJobGroup(op, name)
        tracer.install()
    poll = getattr(SyncCatalog.get, "__wrapped__", SyncCatalog.get)

    log(ctx, "session up")
    eng = MooncakeEngine(spark, wh)
    # a union of single-file scans keeps one partition, and so one mirror
    # file, per key range
    src = functools.reduce(DataFrame.union, [spark.read.parquet(p) for p in base_paths])
    mt = eng.create_table(MIRROR, source_df=src, primary_key=PK, change_feed=True)
    backfill_bpr = _bytes_per_row(mt.path, mt.history(), base.num_rows)
    log(ctx, "mirror built")
    eng.attach_export(MIRROR, ice, fmt="iceberg")
    eng.attach_export(MIRROR, dlt, fmt="delta")
    log(ctx, "exports attached")
    eng.create_materialized_view(
        MV, MIRROR, ["l_returnflag", "l_linestatus"],
        {"sum_qty": ("sum", "l_quantity"), "n": ("count", "*"),
         "avg_price": ("avg", "l_extendedprice"),
         "min_price": ("min", "l_extendedprice"), "max_price": ("max", "l_extendedprice")},
    )
    log(ctx, "view built")
    schema = T.StructType(src.schema.fields + [T.StructField(datagen.OP_COL, T.StringType())])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    query = start_sync(
        eng, MIRROR, stream, checkpoint_dir=os.path.join(ctx.work, "ckpt"), processing_time=TRIGGER
    )

    landed: list[str] = []

    def land_and_wait(i: int) -> tuple[float, float]:
        """Place change file ``i`` and wait until the watermark covers it;
        returns (landing epoch time, freshness seconds)."""
        want = (poll(eng.catalog, MIRROR).get("commit_version") or 0) + 1
        dst = os.path.join(feed, os.path.basename(staged_paths[i]))
        w0, t0 = time.time(), time.perf_counter()
        os.rename(staged_paths[i], dst)
        landed.append(dst)
        next_check = t0 + 1.0
        while (poll(eng.catalog, MIRROR).get("commit_version") or 0) < want:
            now = time.perf_counter()
            if now > next_check:
                if query.exception() is not None or not query.isActive:
                    raise RuntimeError(f"sync loop stopped: {query.exception()}")
                if now - t0 > BATCH_TIMEOUT_S:
                    raise TimeoutError(f"batch {i} not visible after {BATCH_TIMEOUT_S} s")
                next_check = now + 1.0
            time.sleep(POLL_S)
        return w0, time.perf_counter() - t0

    def read_back(i: int) -> list[float]:
        """Read-your-writes: each probed key of batch ``i`` shows the
        value it was just given, or is gone if deleted."""
        lat = []
        for op, okey, lnum, qty in batches[i].probes:
            t0 = time.perf_counter()
            rows = eng.sql(
                f"SELECT l_quantity FROM {MIRROR} "
                f"WHERE l_orderkey = {okey} AND l_linenumber = {lnum}"
            ).collect()
            lat.append(time.perf_counter() - t0)
            got = [r[0] for r in rows]
            want = [] if qty is None else [qty]
            res.check([] if got == want else [f"batch {i} {op} key ({okey},{lnum}): {got} != {want}"])
        return lat

    log(ctx, "sync loop started")
    if tracer:
        tracer.op = "warmup"
    land_and_wait(0)
    read_back(0)
    res.attempted += 1
    setup_s = time.perf_counter() - ctx.t_start

    log(ctx, "warm-up batch visible")
    sizes_before = tree_sizes(wh)
    fresh: list[float] = []
    reads: list[float] = []
    windows: dict[str, tuple[float, float]] = {}
    landings: dict[str, float] = {}
    rows = 0
    i = 1
    begin = time.perf_counter()
    # start a batch only while it can end inside the window, judged by
    # the batches so far
    while i < len(batches) and (
        i == 1 or time.perf_counter() - begin + sum(fresh) / len(fresh) <= ctx.seconds
    ):
        op = f"b{i}"
        if tracer:
            tracer.op = op
        w0, f = land_and_wait(i)
        windows[op], landings[op] = (w0, w0 + f), w0
        fresh.append(f)
        rows += batches[i].table.num_rows
        res.attempted += 1
        if tracer:
            # the read-back is not part of the batch's work
            tracer.op = f"r{i}"
        reads += read_back(i)
        i += 1
    log(ctx, "measured batches done")
    query.stop()
    measured = landed[1:]
    change_bytes = sum(os.path.getsize(p) for p in measured)
    sizes_after = tree_sizes(wh)
    hist = mt.history()

    # a fixed Q1-style aggregate over the mirror as the run left it
    if tracer:
        tracer.op = None
    for _ in range(Q1_WARM):
        eng.sql(Q1).collect()
    q1_s = []
    for _ in range(Q1_RUNS):
        t0 = time.perf_counter()
        q1_rows = eng.sql(Q1).collect()
        q1_s.append(time.perf_counter() - t0)

    log(ctx, "read_after_sync done")
    # correctness: replay, exports, views; the reads run concurrently
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    with ThreadPoolExecutor(4) as pool:
        reads_f = {
            "mirror": pool.submit(lambda: eng.table(MIRROR).toPandas()),
            "iceberg": pool.submit(lambda: read_iceberg(spark, ice).toPandas()),
            "delta": pool.submit(lambda: read_delta(spark, dlt).toPandas()),
            "view": pool.submit(lambda: eng.materialized_view(MV).toPandas()),
        }
        replay(base_paths, landed, con)
        got = {k: f.result() for k, f in reads_f.items()}
    mirror = got["mirror"]
    res.check(frame_diff(mirror, con.execute("SELECT * FROM m").df(), "mirror vs DuckDB replay"))
    res.check(frame_diff(got["iceberg"], mirror, "iceberg export vs mirror"))
    res.check(frame_diff(got["delta"], mirror, "delta export vs mirror"))
    con.register("mirror", mirror)
    res.check(frame_diff(got["view"], con.execute(MV_SQL).df(), f"{MV} vs GROUP BY over mirror"))
    q1_want = con.execute(Q1.replace(f"FROM {MIRROR}", "FROM m")).df()
    res.check(frame_diff(pd.DataFrame([r.asDict() for r in q1_rows]), q1_want, "Q1 over mirror"))
    con.close()

    log(ctx, "checks done")
    end_bpr = _bytes_per_row(mt.path, hist, len(mirror))
    loop_s = sum(fresh)
    res.end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(fresh), "s"),
        "read_p50_s": (median(q1_s), "s"),
    }
    res.detail = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "freshness_p50_s": {"value": median(fresh), "unit": "s", "n": len(fresh)},
        "sync_rows_per_s": {"value": rows / loop_s, "unit": "rows/s", "n": len(fresh)},
        "write_amp": {"value": bytes_written(sizes_before, sizes_after) / change_bytes, "unit": "ratio"},
        "space_amp": {"value": end_bpr / backfill_bpr, "unit": "ratio"},
        "read_after_sync_s": {"value": median(q1_s), "unit": "s", "n": len(q1_s)},
        **timing("sql_read", reads),
    }
    if tracer:
        tracer.uninstall()
        n = len(fresh)
        mv_path = eng.catalog.get(MV)["path"]
        values = {
            "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
            "session.py_peak_rss_mb": py_peak_rss_mb(),
            "trace.op_p50_s": median(fresh),
            "streaming.batches": n,
            **layers.storage_values([mt], sizes_before, sizes_after, min(landings.values()), n),
            "sources.iceberg.bytes_written": bytes_written(sizes_before, sizes_after, ice + os.sep) / n,
            "sources.delta.bytes_written": bytes_written(sizes_before, sizes_after, dlt + os.sep) / n,
            "sources.iceberg.metadata_files_end": len(os.listdir(os.path.join(ice, "metadata"))),
            "views.state_bytes_written": bytes_written(sizes_before, sizes_after, mv_path + os.sep) / n,
        }
        spans = tracer.spans
        applies = {
            s["op"]: s["start"] for s in spans
            if s["name"] == "engine.apply_changes" and s["parent"] is None and s["op"] in windows
        }
        values["streaming.pickup_s"] = median([applies[op] - landings[op] for op in applies])
        log_path = tracing.event_log_path(spark)
        spark.stop()
        jobs = tracing.read_event_log(log_path)
        values.update(tracing.spark_metrics(jobs, windows))
        values.update(layers.span_metrics(spans, set(windows), n, jobs))
        # the statement layers are measured on the read-backs, per statement
        read_ops = {f"r{op[1:]}" for op in windows}
        values.update({
            k: v for k, v in layers.span_metrics(spans, read_ops, len(reads), jobs).items()
            if k.startswith(("sql_router.", "engine.table."))
        })
        tracer.write(os.path.join(ctx.out, "spans.jsonl"))
        res.per_layer = layers.assemble(values)
    else:
        spark.stop()
    return res
