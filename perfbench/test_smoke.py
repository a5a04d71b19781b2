"""Smoke test of the benchmark at sf0.001.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload for one second at the smallest scale, checks that each
prints the metrics ``BENCHMARK.json`` names (and the per-layer set in a
traced run), and that the output checks fire on a corrupted result.  Takes
about seven minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.common import Collected, frame_diff  # noqa: E402
from perfbench.sql import same_rows  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# the workload metrics each workload prints on its detail line
DETAIL = {
    "cdc_sync": {
        "setup_s", "failed_frac", "freshness_p50_s", "sync_rows_per_s",
        "write_amp", "space_amp", "read_after_sync_s", "sql_read_p50_s",
    },
    "sql_mixed": {"setup_s", "failed_frac", "sql_p50_s", "sql_write_p50_s", "sql_read_p50_s"},
    "olap_headline": {"setup_s", "failed_frac", "olap_pass_s", "olap_query_p50_s"},
}


def bench(workload: str, trace: int = 0) -> tuple[dict, dict]:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--sf", "0.001",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    detail, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["errors"] == []
    return detail, result


@pytest.mark.parametrize("workload", ["cdc_sync", "sql_mixed", "olap_headline"])
def test_workload_prints_every_metric(workload):
    detail, result = bench(workload)
    assert DETAIL[workload] <= set(detail["workload_metrics"])
    assert detail["workload_metrics"]["failed_frac"]["value"] == 0
    env = detail["environment"]
    assert {"nproc", "spark", "duckdb", "loadavg_before", "loadavg_after"} <= set(env)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", ["cdc_sync", "sql_mixed"])
def test_traced_run_prints_every_layer_metric(workload):
    detail, result = bench(workload, trace=1)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert want == dict(layers.per_layer_spec())
    assert os.path.getsize(detail["spans"]) > 0
    if workload == "cdc_sync":
        # the large warm-up batch merges merge-on-read, the small ones
        # copy-on-write
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["storage.cow_commits"] >= 1 and m["storage.mor_commits"] >= 1
        assert m["storage.delete_files_end"] >= 1


def test_frame_check_fires_on_corruption():
    good = pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5], "s": ["a", "b", "c"]})
    assert frame_diff(good.iloc[::-1], good, "same rows") == []
    bad = good.copy()
    bad.loc[1, "v"] = 2.6
    assert frame_diff(bad, good, "value")
    assert frame_diff(good.iloc[:2], good, "missing row")
    bad = good.copy()
    bad.loc[2, "s"] = "x"
    assert frame_diff(bad, good, "string")


def test_statement_check_fires_on_corruption():
    assert same_rows([(1, 2.0, "a")], [(1, 2.0, "a")])
    assert not same_rows([(1, 2.0, "a")], [(1, 2.5, "a")])
    assert not same_rows([], [(1,)])


def test_oracle_check_fires_on_corruption():
    from tools.diffcheck import compare

    want = pd.DataFrame({"k": [1, 2], "n": [10, 20]})
    assert compare(Collected(want.copy()), want, "same") == []
    assert compare(Collected(pd.DataFrame({"k": [1, 2], "n": [10, 21]})), want, "changed")
