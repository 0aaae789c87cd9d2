"""Per-query probe: time a registered query with the noop sink and dump
its .explain('formatted') plan (guide §1.1/§1.4).

Usage:
  python scripts/probe.py QUERY [QUERY ...] [--runs N] [--plan-dir DIR]
                          [--sf DIR] [--collect]

Per query: bench.py's plateau warm-up (``bench.warm_up``), then N timed
runs of a noop-sink write (computes every column, discards the result —
times the computation, not the sink or the driver transfer); reports
each run and the median. --collect times .collect() instead (bench.py's
regime) for apples-to-apples against BENCH numbers. Plans land in
--plan-dir as <query>.txt when given.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from jorvik_spark.session import get_session  # noqa: E402
from jorvik_spark.queries import QUERIES  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--collect", action="store_true")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    spark = get_session("jorvik_probe", master=f"local[{cpus}]")

    def run_once(qname: str) -> float:
        df = QUERIES[qname](spark, args.sf)
        t0 = time.perf_counter()
        if args.collect:
            df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for qname in args.names:
        spark.sparkContext.setJobDescription(f"probe:{qname}")
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = QUERIES[qname](spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(args.plan_dir, f"{qname}.txt"), "w") as fh:
                fh.write(plan)
        if args.runs <= 0:
            print(f"PLAN {qname} written", flush=True)
            continue
        bench.warm_up(lambda: run_once(qname))
        runs = [run_once(qname) for _ in range(args.runs)]
        try:
            load = round(os.getloadavg()[0], 2)
        except OSError:
            load = None
        print(
            f"PROBE {qname} median={statistics.median(runs):.4f}s "
            f"runs={[round(r, 4) for r in runs]} load={load}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
