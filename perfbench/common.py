"""Shared pieces of the benchmark: statistics, the session, file sizes,
memory readings and the result record each workload returns."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Optional


def log(ctx: "Ctx", msg: str) -> None:
    """Progress line on stderr, stamped with seconds since process start."""
    print(f"[perfbench {time.perf_counter() - ctx.t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> Optional[tuple[int, float]]:
    """The highest whole percentile with at least ten samples beyond it,
    as (percentile, value); None when fewer than 20 samples support one
    above the median."""
    n = len(xs)
    pct = int(100 * (n - 10) / n) if n > 10 else 0
    if pct <= 50:
        return None
    qs = statistics.quantiles(xs, n=100, method="inclusive")
    return pct, qs[pct - 1]


def timing(name: str, xs: list[float], unit: str = "s") -> dict[str, dict[str, Any]]:
    """Median of ``xs`` under ``<name>_p50_<unit>`` plus the supported
    tail percentile, each with its sample count."""
    out = {f"{name}_p50_{unit}": {"value": median(xs), "unit": unit, "n": len(xs)}}
    t = tail(xs)
    if t is not None:
        out[f"{name}_p{t[0]}_{unit}"] = {"value": t[1], "unit": unit, "n": len(xs)}
    return out


@dataclass
class Ctx:
    """What a workload gets from the harness."""

    seed: int
    seconds: float
    trace: bool
    sf: float
    work: str  # scratch directory of this run, removed afterwards
    out: str  # kept outputs (span file, event log)
    t_start: float  # process start, perf_counter clock


@dataclass
class Result:
    end_to_end: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict[str, Any] = field(default_factory=dict)
    per_layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, errs: list[str]) -> None:
        """Count one checked operation and record its mismatches."""
        self.attempted += 1
        self.errors.extend(errs)

    @property
    def failed(self) -> int:
        return len(self.errors)


def make_session(ctx: Ctx, extra: Optional[dict[str, str]] = None):
    """The engine session from ``session.get_spark``, the one conf source,
    with the run's scratch directories and, when tracing, the event log."""
    from pg_mooncake_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if ctx.trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.dir"] = ctx.out
    conf.update(extra or {})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tree_sizes(path: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # replaced by an atomic rename while walking
    return out


def bytes_written(before: dict[str, int], after: dict[str, int], prefix: str = "") -> int:
    """Bytes of files under ``prefix`` that are new or grew since
    ``before``.  The engine never deletes files during the measured phase
    (no vacuum runs), so this is what it wrote."""
    return sum(
        max(0, size - before.get(p, 0))
        for p, size in after.items()
        if p.startswith(prefix)
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def py_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def frame_diff(got, want, what: str) -> list[str]:
    """Order-insensitive equality of two pandas row sets with the same
    columns; floats compared to 1e-6 relative."""
    import pandas as pd

    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return [f"{what}: columns {sorted(got.columns)} != {cols}"]
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    a = got[cols].sort_values(cols, ignore_index=True)
    b = want[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            bad = ~((x - y).abs() <= 1e-6 * y.abs().clip(lower=1.0))
        else:
            bad = x.astype(str) != y.astype(str)
        if bad.any():
            i = int(bad.idxmax())
            return [f"{what}: column {c} differs at sorted row {i}: {x[i]!r} != {y[i]!r}"]
    return []


class Collected:
    """A collected result, in the shape ``tools.diffcheck.compare`` takes
    (it calls ``toPandas`` on the engine's side)."""

    def __init__(self, df) -> None:
        self.df = df

    def toPandas(self):  # noqa: N802 - the DataFrame method compare calls
        return self.df


def snapshot(history) -> tuple[set[str], set[str]]:
    """(data files, delete files) of a mirror's latest snapshot, replayed
    from its commit log."""
    files: set[str] = set()
    dels: set[str] = set()
    for c in history:
        for name in c.remove:
            files.discard(name)
            dels.discard(name)
        files.update(d["name"] for d in c.add)
        dels.update(d["name"] for d in c.deletes)
    return files, dels
