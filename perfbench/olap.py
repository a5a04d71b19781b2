"""olap_headline: the 24 ``bench.py`` headline queries to the noop sink.

Set-up generates the ten input tables, starts the session and runs every
query once, collected and compared with its DuckDB oracle; that pass is
also the warm-up.  It runs the queries one per core at a time, and the
oracles on one more thread while the session starts.  The measured phase
then runs whole passes over the set, one query at a time, in an order the
seed shuffles per pass, until ``--seconds`` have passed; at least one pass
is measured.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import datagen, layers, tracing
from perfbench.common import (
    Collected,
    Ctx,
    Result,
    jvm_peak_rss_mb,
    log,
    make_session,
    median,
    py_peak_rss_mb,
    timing,
)


def run(ctx: Ctx) -> Result:
    from pg_mooncake_spark.queries.registry import all_oracles, all_queries
    from tools.diffcheck import compare, duck_connection

    # the bench session never uses the shared dataset cache (bench.py)
    os.environ.pop("SPARK_GRAFT_CACHE_TABLES", None)
    res = Result()
    keys = layers.headline()
    data = os.path.join(ctx.work, "data")
    datagen.write_tables(datagen.tpch_tables(ctx.seed, ctx.sf), data)
    log(ctx, "inputs written")
    queries, oracles = all_queries(), all_oracles()

    def oracle_results() -> dict:
        con = duck_connection(data)
        con.execute("SET threads = 1")
        out = {key: con.execute(oracles[key]).df() for key in keys}
        con.close()
        return out

    # the DuckDB oracles run on one core while the session starts and warms
    oracle_pool = ThreadPoolExecutor(1)
    wants_f = oracle_pool.submit(oracle_results)
    spark = make_session(ctx)
    sc = spark.sparkContext
    tracer = None
    if ctx.trace:
        tracer = tracing.Tracer()
        tracer.install()
    log(ctx, "session up")

    # correctness pass, which is also the warm-up.  The queries run one per
    # core at a time, so that their cold planning and code generation,
    # mostly serial driver work, overlap.
    def check(key: str) -> list[str]:
        got = queries[key](spark, data).toPandas()
        return compare(Collected(got), wants_f.result()[key], key)

    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        for errs in pool.map(check, keys):
            res.check(errs)
    oracle_pool.shutdown()
    setup_s = time.perf_counter() - ctx.t_start

    log(ctx, "correctness pass done")
    rng = random.Random(ctx.seed)
    samples: dict[str, list[float]] = {k: [] for k in keys}
    windows: dict[str, tuple[float, float]] = {}
    passes: list[float] = []
    begin = time.perf_counter()
    while not passes or time.perf_counter() - begin < ctx.seconds:
        spark.catalog.clearCache()
        order = list(keys)
        rng.shuffle(order)
        p0 = time.perf_counter()
        for key in order:
            op = f"p{len(passes)}:{key}"
            if tracer:
                tracer.op = op
                sc.setJobGroup(op, key)
            w0 = time.time()
            t0 = time.perf_counter()
            queries[key](spark, data).write.format("noop").mode("overwrite").save()
            samples[key].append(time.perf_counter() - t0)
            windows[op] = (w0, time.time())
            res.attempted += 1
        passes.append(time.perf_counter() - p0)

    log(ctx, "measured passes done")
    every = [x for xs in samples.values() for x in xs]
    res.end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(passes), "s"),
        "read_p50_s": (median(every), "s"),
    }
    res.detail = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "olap_pass_s": {"value": median(passes), "unit": "s", "n": len(passes)},
        **timing("olap_query", every),
    }
    if tracer:
        tracer.uninstall()
        values = {
            "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
            "session.py_peak_rss_mb": py_peak_rss_mb(),
            "trace.op_p50_s": median(passes),
        }
        log_path = tracing.event_log_path(spark)
        spark.stop()
        jobs = tracing.read_event_log(log_path)
        values.update(tracing.spark_metrics(jobs, windows))
        values.update(layers.span_metrics(tracer.spans, set(windows), len(windows), jobs))
        tracer.write(os.path.join(ctx.out, "spans.jsonl"))
        for key in keys:
            values[f"query.{key}.s"] = median(samples[key])
            ops = {op for op in windows if op.split(":", 1)[1] == key}
            values[f"query.{key}.jobs"] = (
                sum(1 for j in jobs.values() if j["group"] in ops) / len(ops)
            )
        res.per_layer = layers.assemble(values)
    else:
        spark.stop()
    return res
