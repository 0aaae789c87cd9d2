"""Helpers shared by the workloads: statistics, output checks, host facts.

Nothing here imports pyspark at module level, so the statistics and the
row comparison can be tested without a Spark session.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.1")

# A tail percentile is only meaningful when at least this many samples
# lie beyond it.
MIN_TAIL_SAMPLES = 10

DUCK_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings",
)


# -- statistics ---------------------------------------------------------


_HD_GRID = 20_000


def quantile(samples: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q``-th percentile (``q`` in 0..100):
    a Beta-weighted mean of every order statistic. A single order
    statistic jumps when the percentile falls between two clusters of op
    kinds (a pass of six shapes has three fast and three slow ones); this
    estimate moves smoothly, so runs of the same code agree more closely.
    """
    import numpy as np

    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    p = q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = (np.arange(_HD_GRID) + 0.5) / _HD_GRID
    logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(logpdf - logpdf.max()))))
    cdf /= cdf[-1]
    at = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, _HD_GRID + 1), cdf)
    return float(np.diff(at) @ xs)


def tail(samples: list[float], q: float) -> dict:
    """The ``q``-th percentile with the number of samples beyond it.

    ``resolved`` is true only when at least :data:`MIN_TAIL_SAMPLES`
    samples lie strictly above the value; otherwise ``note`` says why the
    figure is not a resolved percentile.
    """
    value = quantile(samples, q)
    beyond = sum(1 for x in samples if x > value)
    out = {"value": value, "samples": len(samples), "beyond": beyond,
           "resolved": beyond >= MIN_TAIL_SAMPLES}
    if not out["resolved"]:
        out["note"] = (
            f"p{q:g} unresolved: {beyond} of {len(samples)} samples lie "
            f"beyond it, {MIN_TAIL_SAMPLES} needed"
        )
    return out


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def rate(ops) -> float:
    """Ops per second of op time: the median over passes, so one pass
    slowed by the host moves it less than a pooled ratio would."""
    by_pass: dict[int, list[float]] = {}
    for o in ops:
        by_pass.setdefault(o.pass_id, []).append(o.seconds)
    return median([len(v) / sum(v) for v in by_pass.values()])


# -- output checks ------------------------------------------------------


def _canon(v):
    """One comparable value per cell: Spark and DuckDB return the same
    logical value as different Python types (Decimal vs float, date vs
    midnight datetime, Row vs tuple)."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(v))
    if isinstance(v, (int, float)):
        return (2, f"{float(v):.6e}") if math.isfinite(v) else (2, repr(v))
    if isinstance(v, tuple):
        return (3, tuple(_sort_key(x) for x in v))
    return (4, str(v))


def canonical(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name; rows re-ordered to match and sorted, so
    two engines' results compare regardless of row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(_sort_key(v) for v in r))
    return cols, out


def _same(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool) \
            and not isinstance(b, bool):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str:
    """Empty when the canonical results agree, else the first difference."""
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"row count {len(got[1])} != {len(want[1])}"
    for i, (g, w) in enumerate(zip(got[1], want[1])):
        if not _same(g, w):
            return f"row {i}: {g!r} != {w!r}"
    return ""


def duck_connect(sf_dir: str):
    """DuckDB views over the lake tables, ``events.ts`` cast from ns to µs
    exactly as the engine's loader does."""
    import duckdb

    con = duckdb.connect()
    for t in DUCK_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    con.execute(
        "CREATE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, "
        f"user_id, event_type, value, props FROM read_parquet('{sf_dir}/events.parquet')"
    )
    return con


def duck_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return canonical([d[0] for d in cur.description], cur.fetchall())


# -- host ---------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_probe_ms() -> float:
    """Median time of a fixed pure-Python loop: a record of how fast this
    host's CPU ran around the measurement, not a metric."""
    import time

    def once():
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i
        return (time.perf_counter() - t0) * 1000

    return round(statistics.median(once() for _ in range(9)), 3)
