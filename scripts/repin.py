"""Re-pin gate-table entries; the only writer of PINS.json ``labels``.

Usage:
  python scripts/repin.py [LABEL ...] [--captures N] [--sf DIR]

Measures the labels (default: every label) N times (default 3) with
bench.py's routine, one pass over the labels per capture, and sets each
label's ``warm`` (and ``cold``, when the entry pins one) to the median of the
per-capture ratios. ``runs`` keeps those ratios; ``date``, ``nproc`` and the
1-min ``load_window`` record where they were taken. The table is rewritten
after every capture. A re-pin can tighten as well as loosen.

A label is added by hand as ``"label": {"query": NAME, "cold": null}``
(``"cold": 0`` to pin its cold regime too) and then re-pinned. Run on the
host the gate should hold on, with SPARK_GRAFT_CPUS as bench.py runs.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from jorvik_spark.tables import default_sf_dir  # noqa: E402


def pin(labels: dict, captures: list) -> None:
    for lb, e in labels.items():
        runs = {r: [c[r][lb]["x"] for c in captures] for r in bench.REGIMES if lb in captures[0][r]}
        loads = [c[r][lb]["load"] for c in captures for r in runs]
        e.update({r: round(statistics.median(xs), 4) for r, xs in runs.items()})
        e.update(runs=runs, date=time.strftime("%Y-%m-%d"),
                 nproc=int(os.environ["SPARK_GRAFT_CPUS"]), load_window=[min(loads), max(loads)])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("labels", nargs="*")
    ap.add_argument("--captures", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR") or default_sf_dir("sf0.1"))
    args = ap.parse_args()

    doc = bench.load_table()
    if bench.sf_of(args.sf) != doc["sf"] and args.labels:
        raise SystemExit(f"the table is pinned at sf {doc['sf']}: re-pin every label to move it")
    doc["sf"] = bench.sf_of(args.sf)
    labels = {lb: doc["labels"][lb] for lb in args.labels or doc["labels"]}
    from jorvik_spark.queries import QUERIES

    spark, calibrate = bench.session("jorvik_repin")
    timer = bench.collect_timer(spark, args.sf)
    captures = []
    for _ in range(args.captures):
        captures.append(bench.run_table(labels, QUERIES, timer, calibrate, applied=False))
        pin(labels, captures)
        bench.write_table(doc)


if __name__ == "__main__":
    main()
