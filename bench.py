"""End-to-end benchmark: times the registered queries named in PINS.json and
prints ONE JSON line on stdout:

  {"metric": "headline_median_total", "value": N, "unit": "sec",
   "queries": {...}, "gates_ok": bool, "gates_applied": bool, "flags": [...],
   "load_avg": [...], "uptime_sec": N, "sf": 0.1}

Usage: python bench.py
Env:   SPARK_GRAFT_SF_DIR  (default: ``default_sf_dir("sf0.1")``)
       SPARK_GRAFT_CPUS    (default: the host's cores)

``value`` is the sum of the six BASELINE.md shapes' warm median-of-3
``collect()`` times (q1 agg_pricing_summary, q3 join_q3_topk, q5
join_q5_regional, w1 window_rank_per_user, s1 stream_tumbling_agg, d1
agg_approx_distinct), comparable with every earlier BENCH_r*.json.

The gate table (PINS.json ``labels``) maps each label to a registered query
and its pinned ratios. :func:`measure` times a label against a calibration
job that runs no jorvik_spark code: the plateau warm-up, then three timed
``collect()`` runs with the calibration job before each and after the last.
The label's ratio is median(runs) / median(calibration runs), so host speed
cancels out. The warm regime runs every label; the cold regime runs labels
whose ``cold`` is pinned, with ``clear_memos()`` before every run, so a
regression in a one-time memo build shows. A label flags when its ratio
exceeds LIMIT × its pinned ratio; gates apply at any core count, but only at
the sf the table was pinned at. Per-label rows {s, calib_s, x, ref, flag,
load} go to stderr on a ``BENCH_DETAIL`` line. ``scripts/repin.py`` is the
only writer of the table.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "PINS.json")
HEADLINE = ("q1", "q3", "q5", "w1", "s1", "d1")
LIMIT = 1.5
N_RUNS = 3
REGIMES = ("warm", "cold")


def load_table() -> dict:
    with open(PINS_PATH) as fh:
        return json.load(fh)


def write_table(doc: dict) -> None:
    """Write the table with one line per label, so a re-pin diffs by label."""
    head = json.dumps({k: v for k, v in doc.items() if k != "labels"}, indent=1)
    rows = ",\n".join(f"  {json.dumps(lb)}: {json.dumps(e)}" for lb, e in doc["labels"].items())
    with open(PINS_PATH, "w") as fh:
        fh.write(f'{head[:-2]},\n "labels": {{\n{rows}\n }}\n}}\n')


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def warm_up(run) -> None:
    """Run until two consecutive runs improve less than 3% on the best so
    far (at least 3 runs, at most 10). The first queries of a session
    otherwise pay JIT and codegen inside their timed runs, and one plateaued
    pair can be two runs stalled alike by background compilation."""
    prev, plateau = float("inf"), 0
    for i in range(10):
        cur = run()
        plateau = plateau + 1 if cur > prev * 0.97 else 0
        if i >= 2 and plateau >= 2:
            return
        prev = min(prev, cur)


def measure(run, calibrate) -> dict:
    """Warm ``run`` up, then time it N_RUNS times between calibration runs.
    Both callables return seconds."""
    warm_up(run)
    runs, calib = [], [calibrate()]
    for _ in range(N_RUNS):
        runs.append(run())
        calib.append(calibrate())
    s, c = statistics.median(runs), statistics.median(calib)
    return {"s": round(s, 4), "calib_s": round(c, 4), "x": round(s / c, 4)}


def run_table(labels: dict, queries: dict, timer, calibrate, applied: bool) -> dict:
    """Measure every label of ``labels`` in each regime it pins and apply
    the gate. ``timer(fn, cold)`` times one run of registered query ``fn``.
    A label naming an unregistered query fails before anything runs."""
    unknown = sorted(lb for lb, e in labels.items() if e["query"] not in queries)
    if unknown:
        raise KeyError(f"PINS.json labels name unregistered queries: {unknown}")
    detail: dict = {r: {} for r in REGIMES}
    for lb, e in labels.items():
        fn = queries[e["query"]]
        for regime in REGIMES:
            ref = e.get(regime)
            if regime == "cold" and ref is None:
                continue
            load = round(os.getloadavg()[0], 2)
            row = measure(lambda: timer(fn, regime == "cold"), calibrate)
            row.update(ref=ref, flag=bool(applied and ref and row["x"] > LIMIT * ref), load=load)
            detail[regime][lb] = row
            print(f"{lb} {regime} {row}", file=sys.stderr, flush=True)
    return detail


def session(app: str):
    """The bench session on ``local[SPARK_GRAFT_CPUS]`` (default: all cores)
    and the calibration job: a fixed 4M-row, 8-partition hash-sum that runs
    no jorvik_spark code."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from pyspark.sql import functions as F
    from jorvik_spark.session import get_session

    spark = get_session(app, master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")

    def calibrate() -> float:  # a fresh DataFrame: a reused one skips its shuffle
        return timed(spark.range(0, 4_000_000, 1, 8).groupBy(F.col("id") % 1000).sum("id").collect)

    warm_up(calibrate)
    return spark, calibrate


def collect_timer(spark, sf_dir: str):
    """``timer`` for :func:`run_table`: build the DataFrame afresh and
    ``collect()`` it (a reused DataFrame skips its materialized shuffle
    stages, timing only the result stage); the cold regime clears every
    memo first."""
    from jorvik_spark.queries.registry import clear_memos

    def timer(fn, cold: bool) -> float:
        if cold:
            clear_memos()
        return timed(lambda: fn(spark, sf_dir).collect())

    return timer


def sf_of(sf_dir: str):
    tail = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return tail


def main() -> None:
    from jorvik_spark.queries import QUERIES
    from jorvik_spark.tables import default_sf_dir

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or default_sf_dir("sf0.1")
    sf, doc = sf_of(sf_dir), load_table()
    spark, calibrate = session("jorvik_spark_bench")
    applied = sf == doc["sf"]
    detail = run_table(doc["labels"], QUERIES, collect_timer(spark, sf_dir), calibrate, applied)
    flags = [f"{lb}:{r}" for r in REGIMES for lb, row in detail[r].items() if row["flag"]]
    with open("/proc/uptime") as fh:
        uptime_sec = round(float(fh.read().split()[0]), 1)
    print("BENCH_DETAIL " + json.dumps(detail), file=sys.stderr)
    times = {lb: detail["warm"][lb]["s"] for lb in HEADLINE}
    print(json.dumps({
        "metric": "headline_median_total",
        "value": round(sum(times.values()), 4),
        "unit": "sec",
        "queries": times,
        "gates_ok": not flags,
        "gates_applied": applied,
        "flags": flags[:20],  # the line stays inside a 2000-char tail capture
        "load_avg": [round(x, 2) for x in os.getloadavg()],
        "uptime_sec": uptime_sec,
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
