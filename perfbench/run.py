#!/usr/bin/env python3
"""Benchmark of pg_mooncake_spark: the sync path, the SQL statement path
and the query path.

    python3 perfbench/run.py --workload cdc_sync --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (``perfbench/README.md`` says what
each measures and why):

- ``cdc_sync``: CDC batches through ``streaming.cdc.start_sync`` into a
  mirror with Iceberg and Delta exports and a materialized view;
- ``sql_mixed``: point DML, read-back and analytic statements through
  ``MooncakeEngine.sql()``;
- ``olap_headline``: the 24 ``bench.py`` headline queries.

Inputs come from ``--seed``.  One client, closed loop, one Spark session on
``local[<nproc>]``.  All files go under ``.perfbench/`` in the working
directory; the run's scratch part is removed when it ends.  The second-last
line of output is a JSON record of every workload metric by name, with
sample counts, the environment and any mismatch; the last line is the
result: the end-to-end metrics with ``--trace 0``, the per-layer metrics of
a traced run with ``--trace 1``.  The exit code is 0 only when every output
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import the benchmark as the ``perfbench`` package from the checkout root,
# not its modules as top-level names
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
sys.path.insert(0, ROOT)

WORKLOADS = ("cdc_sync", "sql_mixed", "olap_headline")
REQUIRED = ("pg_mooncake_spark", "bench.py", os.path.join("tools", "diffcheck.py"))
DEFAULT_SF = 0.01


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="input scale (0.01: about 60,000 lineitem rows)")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run, Spark and the JVM write inside ``work``,
    and let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def stop_jvm() -> None:
    """Stop the Spark session, if one is left, and wait for the JVM that
    PySpark launched (it exits when its stdin closes) and its workers."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:  # noqa: SLF001
        SparkContext._active_spark_context.stop()  # noqa: SLF001
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def environment() -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def main(argv: list[str]) -> int:
    args = parse(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a pg_mooncake_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    from perfbench import cdc, olap, sql
    from perfbench.common import Ctx

    tag = f"{args.workload}-seed{args.seed}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(base, "trace", tag)
    if args.trace:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
    prepare_env(work)
    env = environment()
    ctx = Ctx(args.seed, args.seconds, bool(args.trace), args.sf, work, out, T_START)
    load_before = os.getloadavg()
    try:
        res = {"cdc_sync": cdc, "sql_mixed": sql, "olap_headline": olap}[args.workload].run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_before"] = load_before
    env["loadavg_after"] = os.getloadavg()

    detail = dict(res.detail)
    detail["failed_frac"] = {"value": res.failed / res.attempted, "unit": "ratio", "n": res.attempted}
    metrics = res.per_layer if args.trace else res.end_to_end
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "environment": env,
        "workload_metrics": detail,
        "errors": res.errors[:20],
        "spans": os.path.join(out, "spans.jsonl") if args.trace else None,
    }))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
