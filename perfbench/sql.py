"""sql_mixed: a seeded Postgres-dialect statement script through
``MooncakeEngine.sql()`` against bare ``orders`` and ``lineitem`` mirrors.

The script cycles through point UPDATE, DELETE and INSERT statements on
both mirrors; each write is followed by a point SELECT that must return
what was just written and one of a row no statement touches, and every
fourth write by an analytic GROUP BY or join SELECT.  The seed picks keys
and values; the order of statement kinds is fixed, so runs on different
seeds do the same mix.  Set-up builds the mirrors and runs the first three
writes of the script, one of each kind, with their reads as warm-up.  The
measured phase runs the rest one statement at a time, in groups of a write
and the reads after it, while a group can end inside ``--seconds``.
Afterwards DuckDB replays the executed script over the same inputs: every
SELECT must return what the engine returned, and the final tables must
match the mirrors.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass
from typing import Any, Optional

import duckdb
import numpy as np

from perfbench import datagen, layers, tracing
from perfbench.common import (
    Ctx,
    Result,
    frame_diff,
    jvm_peak_rss_mb,
    log,
    make_session,
    median,
    py_peak_rss_mb,
    timing,
    tree_sizes,
)

# one cycle of the script: (mirror, write kind); the point SELECT after
# each write and the analytic SELECTs are added by ``script``
CYCLE = [
    ("orders", "update"), ("orders", "delete"), ("orders", "insert"),
    ("lineitem", "update"), ("lineitem", "delete"), ("lineitem", "insert"),
]
ANALYTIC = [
    "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
    "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "SELECT o.o_orderstatus, count(*) AS n, sum(l.l_quantity) AS qty "
    "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus",
    "SELECT l_returnflag, l_linestatus, count(*) AS n, round(avg(l_discount), 6) AS disc "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
]
SCRIPT_CYCLES = 60


@dataclass
class Stmt:
    sql: str
    kind: str  # write | point | analytic
    # for a point SELECT: the rows it must return right after its write
    expect: Optional[list[tuple]] = None


def script(seed: int, tables: dict[str, Any]) -> list[Stmt]:
    """The statement script.  Updates and deletes hit distinct live keys;
    inserts add new keys above every existing one.  Each write is followed
    by a point SELECT of its row and one of a row the script never
    touches."""
    rng = np.random.default_rng(seed + 104729)
    orders = tables["orders"].to_pandas()
    li = tables["lineitem"].to_pandas()
    okeys = rng.permutation(orders["o_orderkey"].to_numpy())
    lpos = rng.permutation(len(li))
    next_order = int(orders["o_orderkey"].max()) + 1
    out: list[Stmt] = []
    used_o = used_l = 0
    spare = 0  # untouched rows, taken from the far end of each permutation
    writes = 0
    for _ in range(SCRIPT_CYCLES):
        for table, kind in CYCLE:
            if table == "orders":
                if kind == "insert":
                    k, next_order = next_order, next_order + 1
                else:
                    k, used_o = int(okeys[used_o]), used_o + 1
                where = f"o_orderkey = {k}"
                val = round(float(rng.uniform(1000.0, 500000.0)), 2)
                if kind == "update":
                    w = f"UPDATE orders SET o_totalprice = {val} WHERE {where}"
                elif kind == "delete":
                    w = f"DELETE FROM orders WHERE {where}"
                else:
                    w = (
                        f"INSERT INTO orders VALUES ({k}, {int(rng.integers(0, 1000))}, 'O', "
                        f"{val}, TIMESTAMP '2001-08-02 00:00:00', '2-HIGH')"
                    )
                read = f"SELECT o_totalprice FROM orders WHERE {where}"
            else:
                if kind == "insert":
                    ok, ln = next_order, 1
                    next_order += 1
                else:
                    row = li.iloc[int(lpos[used_l])]
                    ok, ln = int(row["l_orderkey"]), int(row["l_linenumber"])
                    used_l += 1
                where = f"l_orderkey = {ok} AND l_linenumber = {ln}"
                val = float(rng.integers(1, 51))
                if kind == "update":
                    w = f"UPDATE lineitem SET l_quantity = {val} WHERE {where}"
                elif kind == "delete":
                    w = f"DELETE FROM lineitem WHERE {where}"
                else:
                    w = (
                        f"INSERT INTO lineitem VALUES ({ok}, {int(rng.integers(0, 100))}, "
                        f"{int(rng.integers(0, 10))}, {ln}, {val}, {round(val * 1500.0, 2)}, "
                        f"0.05, 0.02, 'N', 'O', TIMESTAMP '2001-09-01 00:00:00')"
                    )
                read = f"SELECT l_quantity FROM lineitem WHERE {where}"
            spare += 1
            if table == "orders":
                k = int(okeys[-spare])
                price = float(orders.loc[orders["o_orderkey"] == k, "o_totalprice"].iloc[0])
                other = Stmt(f"SELECT o_totalprice FROM orders WHERE o_orderkey = {k}", "point", [(price,)])
            else:
                row = li.iloc[int(lpos[-spare])]
                other = Stmt(
                    f"SELECT l_quantity FROM lineitem WHERE l_orderkey = {int(row['l_orderkey'])} "
                    f"AND l_linenumber = {int(row['l_linenumber'])}",
                    "point", [(float(row["l_quantity"]),)],
                )
            out.append(Stmt(w, "write"))
            out.append(Stmt(read, "point", [] if kind == "delete" else [(val,)]))
            out.append(other)
            writes += 1
            if writes % 4 == 0:
                out.append(Stmt(ANALYTIC[(writes // 4) % len(ANALYTIC)], "analytic"))
    return out


def _rows(rows: list) -> list[tuple]:
    return [tuple(r) for r in rows]


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Row lists equal in order; numbers to 1e-9 relative."""
    def same(x: Any, y: Any) -> bool:
        if isinstance(x, (int, float)) and isinstance(y, (int, float)):
            return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
        return x == y

    return len(a) == len(b) and all(
        len(r) == len(q) and all(same(x, y) for x, y in zip(r, q)) for r, q in zip(a, b)
    )


def run(ctx: Ctx) -> Result:
    from pg_mooncake_spark.engine import MooncakeEngine

    res = Result()
    tables = datagen.tpch_tables(ctx.seed, ctx.sf, only={"orders", "lineitem"})
    data = os.path.join(ctx.work, "data")
    wh = os.path.join(ctx.work, "warehouse")
    datagen.write_tables({k: tables[k] for k in ("orders", "lineitem")}, data)
    stmts = script(ctx.seed, tables)
    log(ctx, "inputs written")
    spark = make_session(ctx)
    tracer = None
    if ctx.trace:
        sc = spark.sparkContext
        tracer = tracing.Tracer()
        tracer.on_root = lambda name, op: op is not None and sc.setJobGroup(op, name)
        tracer.install()
    log(ctx, "session up")
    eng = MooncakeEngine(spark, wh)
    mts = {
        "orders": eng.create_table(
            "orders", source_df=spark.read.parquet(os.path.join(data, "orders.parquet")),
            primary_key=["o_orderkey"],
        ),
        "lineitem": eng.create_table(
            "lineitem", source_df=spark.read.parquet(os.path.join(data, "lineitem.parquet")),
            primary_key=datagen.LINEITEM_PK,
        ),
    }
    log(ctx, "mirrors built")

    results: list[Optional[list[tuple]]] = []

    def execute(st: Stmt) -> float:
        t0 = time.perf_counter()
        rows = eng.sql(st.sql).collect()
        dt = time.perf_counter() - t0
        results.append(_rows(rows) if st.kind != "write" else None)
        if st.expect is not None:
            got = [tuple(float(v) for v in r) for r in results[-1]]
            res.check([] if got == st.expect else [f"{st.sql!r} returned {got}, expected {st.expect}"])
        else:
            res.attempted += 1
        return dt

    # warm-up: the first three writes of the script, one of each kind,
    # with their read-backs
    warm = [i for i, st in enumerate(stmts) if st.kind == "write"][3]
    if tracer:
        tracer.op = "warmup"
    for st in stmts[:warm]:
        execute(st)
    setup_s = time.perf_counter() - ctx.t_start
    log(ctx, "warm-up done")

    sizes_before = tree_sizes(wh)
    lat: dict[str, list[float]] = {"write": [], "point": [], "analytic": []}
    windows: dict[str, tuple[float, float]] = {}
    # a group is a write and the reads after it; start one only while it
    # can end inside the window, judged by the groups so far
    starts = [j for j, st in enumerate(stmts) if st.kind == "write" and j >= warm] + [len(stmts)]
    groups = 0
    begin = time.perf_counter()
    while groups < len(starts) - 1 and (
        groups == 0 or (time.perf_counter() - begin) * (groups + 1) / groups <= ctx.seconds
    ):
        for i in range(starts[groups], starts[groups + 1]):
            op = f"s{i}"
            if tracer:
                tracer.op = op
            w0 = time.time()
            lat[stmts[i].kind].append(execute(stmts[i]))
            windows[op] = (w0, time.time())
        groups += 1
    executed = starts[groups]
    if tracer:
        tracer.op = None
    sizes_after = tree_sizes(wh)
    log(ctx, f"measured {executed - warm} statements")

    # DuckDB replay of everything executed, warm-up included
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in ("orders", "lineitem"):
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM '{os.path.join(data, name + '.parquet')}'")
    for st, got in zip(stmts[:executed], results):
        want = con.execute(st.sql).fetchall()
        if got is not None:
            res.check([] if same_rows(got, want) else [f"{st.sql!r}: engine {got[:3]} != DuckDB {want[:3]}"])
    for name in ("orders", "lineitem"):
        res.check(frame_diff(
            eng.table(name).toPandas(), con.execute(f"SELECT * FROM {name}").df(),
            f"{name} mirror vs DuckDB replay",
        ))
    con.close()
    log(ctx, "checks done")

    every = lat["write"] + lat["point"] + lat["analytic"]
    res.end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(lat["write"]), "s"),
        "read_p50_s": (median(lat["point"]), "s"),
    }
    res.detail = {
        "setup_s": {"value": setup_s, "unit": "s"},
        **timing("sql", every),
        "sql_write_p50_s": {"value": median(lat["write"]), "unit": "s", "n": len(lat["write"])},
        "sql_read_p50_s": {"value": median(lat["point"]), "unit": "s", "n": len(lat["point"])},
        "sql_analytic_p50_s": {
            "value": median(lat["analytic"]) if lat["analytic"] else None,
            "unit": "s", "n": len(lat["analytic"]),
        },
    }
    if tracer:
        tracer.uninstall()
        n = len(windows)
        values = {
            "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
            "session.py_peak_rss_mb": py_peak_rss_mb(),
            "trace.op_p50_s": median(lat["write"]),
            **layers.storage_values(list(mts.values()), sizes_before, sizes_after, min(w[0] for w in windows.values()), n),
        }
        log_path = tracing.event_log_path(spark)
        spark.stop()
        jobs = tracing.read_event_log(log_path)
        values.update(tracing.spark_metrics(jobs, windows))
        values.update(layers.span_metrics(tracer.spans, set(windows), n, jobs))
        tracer.write(os.path.join(ctx.out, "spans.jsonl"))
        res.per_layer = layers.assemble(values)
    else:
        spark.stop()
    return res
