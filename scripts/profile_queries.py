"""Time every registered query at a given SF to find slow outliers.

Usage: python scripts/profile_queries.py [sf_dir]
Prints one line per query: name, warm medians (2 runs after 1 warm-up) of
the builder call and of ``collect()``, and the row count. The builder
column is Python/py4j DataFrame construction alone, so a slow builder
shows apart from a slow plan. The master is ``get_session``'s default
(``local[$SPARK_GRAFT_CPUS]``). Not part of the ``__spark_entry__``
contract — a local perf feedback loop.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from jorvik_spark.session import get_session  # noqa: E402
from jorvik_spark.queries import QUERIES  # noqa: E402


def main() -> None:
    # Default: the committed copy of the sf0.1 lake that perfbench reads.
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(_ROOT, "perfbench", "data", "sf0.1")
    spark = get_session("jorvik_spark_profile")
    results = []
    print(f"{'build':>8s} {'collect':>8s}  query", flush=True)
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        try:
            rows = len(fn(spark, sf_dir).collect())  # warm-up
            builds, collects = [], []
            for _ in range(2):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.collect()
                builds.append(t1 - t0)
                collects.append(time.perf_counter() - t1)
            build, collect = statistics.median(builds), statistics.median(collects)
            results.append((build + collect, build, collect, name, rows))
            print(f"{build:7.3f}s {collect:7.3f}s  {name:32s} rows={rows}", flush=True)
        except Exception as exc:  # noqa: BLE001
            print(f"   ERROR           {name:32s} {type(exc).__name__}: {exc}", flush=True)
    for title, key in (("total", 0), ("builder", 1)):
        print(f"\n--- slowest by {title} ---")
        for r in sorted(results, key=lambda r: r[key], reverse=True)[:12]:
            print(f"{r[1]:7.3f}s {r[2]:7.3f}s  {r[3]:32s} rows={r[4]}")


if __name__ == "__main__":
    main()
