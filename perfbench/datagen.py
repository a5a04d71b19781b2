"""Seeded input generation for the benchmark.

Every input the engine sees is made here from the run's ``--seed`` and
written as parquet before anything is timed: the TPC-H-style star schema,
the ``events`` stream table and the two LLM-extension tables that the
headline queries read, plus the key-compacted CDC change files the sync
workload feeds.  The layout and value domains follow the repository's
fixture tables (FIXTURES.md): one parquet file and one row group per table,
``o_orderdate`` in 1995-01-01..2001-08-01, 25 ``NATION_<k>`` rows over the
five TPC-H regions, documents over a small vocabulary (40 of them, where
the fixtures have 500), 500 64-dimensional unit embeddings.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.15, 0.14, 0.13]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

LINEITEM_PK = ["l_orderkey", "l_linenumber"]
# the DuckDB oracle of the MinHash headline query replays XXH64 in SQL and
# takes about 3.5 s for 40 documents and 10 s for 200, so the document
# table stays small
N_DOCUMENTS = 40
OP_COL = "__op"

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + days.astype("int64") * _DAY_US, pa.timestamp("us"))


def _lineitem_rows(
    rng: np.random.Generator,
    orderkeys: np.ndarray,
    linenumbers: np.ndarray,
    orderdays: np.ndarray,
    n_parts: int,
    n_supp: int,
) -> dict[str, pa.Array]:
    n = len(orderkeys)
    qty = rng.integers(1, 51, n).astype("float64")
    return {
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(linenumbers, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(orderdays + rng.integers(1, 96, n)),
    }


def tpch_tables(seed: int, sf: float, only: Optional[set[str]] = None) -> dict[str, pa.Table]:
    """The ten tables the headline queries read, at scale ``sf``
    (``sf=0.01`` gives about 60,000 lineitem rows); ``only`` skips
    generating the event and LLM-extension tables it does not name."""
    rng = np.random.default_rng(seed)
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(40, int(200_000 * sf))
    n_orders = max(150, int(1_500_000 * sf))
    n_events = max(200, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    orderdays = rng.integers(0, _ORDER_DAYS + 1, n_orders)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(orderdays),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders), lines)
    lnums = np.concatenate([np.arange(1, k + 1) for k in lines])
    tables["lineitem"] = pa.table(
        _lineitem_rows(rng, okeys, lnums, orderdays[okeys], n_part, n_supp)
    )
    if only is not None and not only & {"events", "documents", "embeddings"}:
        return tables
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(60.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    tables["documents"] = _documents(rng, N_DOCUMENTS)
    tables["embeddings"] = _embeddings(rng, 500, 64)
    return tables


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; every tenth one is a near-copy of an
    earlier document with one word swapped, so the dedup queries find
    pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    v = centroids[labels] + rng.normal(0.0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(tbl) or 1)


@dataclass
class ChangeBatch:
    """One key-compacted CDC micro-batch: the mirror's columns plus
    ``__op``; at most one change per primary key."""

    table: pa.Table
    # one (op, orderkey, linenumber, l_quantity-or-None) probe per op kind
    # present, for the read-your-writes check after the batch lands
    probes: list[tuple[str, int, int, float | None]]


def change_batches(
    seed: int, base: pa.Table, specs: list[tuple[int, bool]], n_parts: int, n_supp: int
) -> list[ChangeBatch]:
    """Seeded change batches over ``base`` (the lineitem backfill), one
    per ``(keys, clustered)`` spec.  Half the keys of a batch are updates
    of live rows, a quarter deletes of live rows and a quarter inserts of
    new orders; later batches see the earlier ones' effects, so updates
    and deletes always hit live keys.  A clustered batch updates and
    deletes rows of one narrow key range (a few hundred neighbouring
    keys, the hot rows of an OLTP table); otherwise the keys are spread
    over the whole table."""
    rng = np.random.default_rng(seed + 7919)
    cols = base.column_names
    live = {
        name: base.column(name).to_numpy(zero_copy_only=False) for name in cols
    }
    live_keys = live["l_orderkey"] * 8 + live["l_linenumber"]
    next_order = int(live["l_orderkey"].max()) + 1
    out: list[ChangeBatch] = []
    for size, clustered in specs:
        n_upd, n_del = size // 2, size // 4
        n_ins = size - n_upd - n_del
        if clustered:
            by_key = np.argsort(live_keys, kind="stable")
            span = min(len(by_key), 4 * (n_upd + n_del))
            lo = int(rng.integers(0, len(by_key) - span + 1))
            pick = rng.choice(by_key[lo:lo + span], n_upd + n_del, replace=False)
        else:
            pick = rng.choice(len(live_keys), n_upd + n_del, replace=False)
        upd_idx, del_idx = pick[:n_upd], pick[n_upd:]
        # updated images: new quantity and price, everything else kept
        upd = {name: live[name][upd_idx].copy() for name in cols}
        upd["l_quantity"] = rng.integers(1, 51, n_upd).astype("float64")
        upd["l_extendedprice"] = np.round(upd["l_quantity"] * rng.uniform(900.0, 2100.0, n_upd), 2)
        upd["l_discount"] = rng.integers(0, 11, n_upd) / 100.0
        dele = {name: live[name][del_idx].copy() for name in cols}
        # inserts: new orders of 1..4 lines each
        lines = []
        while sum(lines) < n_ins:
            lines.append(int(rng.integers(1, 5)))
        lines[-1] -= sum(lines) - n_ins
        okeys = np.repeat(np.arange(next_order, next_order + len(lines)), lines)
        lnums = np.concatenate([np.arange(1, k + 1) for k in lines])
        next_order += len(lines)
        days = rng.integers(0, _ORDER_DAYS + 1, len(okeys))
        ins_tbl = pa.table(_lineitem_rows(rng, okeys, lnums, days, n_parts, n_supp))
        ins = {name: ins_tbl.column(name).to_numpy(zero_copy_only=False) for name in cols}

        parts = [(upd, "U"), (dele, "D"), (ins, "I")]
        arrays = {
            name: np.concatenate([p[name] for p, _ in parts]) for name in cols
        }
        ops = np.concatenate([np.full(len(p["l_orderkey"]), op) for p, op in parts])
        order = rng.permutation(len(ops))
        tbl = pa.table(
            {name: pa.array(arrays[name][order], base.schema.field(name).type) for name in cols}
            | {OP_COL: pa.array(ops[order])}
        )
        probes = [
            (op, int(p["l_orderkey"][0]), int(p["l_linenumber"][0]),
             None if op == "D" else float(p["l_quantity"][0]))
            for p, op in parts
            if len(p["l_orderkey"])
        ]
        out.append(ChangeBatch(tbl, probes))

        # advance the live set: drop updated and deleted rows, then
        # append the update images and the inserts
        keep = np.ones(len(live_keys), bool)
        keep[pick] = False
        live = {
            name: np.concatenate([live[name][keep], upd[name], ins[name]])
            for name in cols
        }
        live_keys = live["l_orderkey"] * 8 + live["l_linenumber"]
    return out
