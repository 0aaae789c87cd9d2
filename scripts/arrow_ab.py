"""Arrow vs row-collect driver-transfer A/B (r17 VERDICT item #6).

The collect-bound shapes (sink_partitioned_write, scan_*_roundtrip,
merge read-backs) spend ~1-2 s moving ~600k rows driver-side through
``collect()``'s pickled-row path. This measures, per shape, in one
session:

  build+noop    the computation alone (write + read-back plan, noop sink)
  collect       full materialization via the row path (the bench/driver
                action — py4j socket iterator + pickle per row)
  toArrow       full materialization via Arrow batches
                (DataFrame.toArrow(), Spark 4)

and verifies the two transfers carry identical rows (sorted tuple
hash). Per shape: 1 warm-up, then N interleaved timed runs of each
action (median reported).

The bench contract itself stays on collect(): the driver re-times the
same queries with its own methodology, so adopting Arrow inside
bench.py would only fork the bench from the driver's numbers — the A/B
documents what a production consumer gains by reading results through
Arrow instead of row collect.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jorvik_spark.session import get_session  # noqa: E402
from jorvik_spark.queries import QUERIES  # noqa: E402

SHAPES = [
    "sink_partitioned_write",
    "scan_parquet_roundtrip",
    "scan_csv_roundtrip",
    "merge_upsert",
]

N = 5


def _norm(v):
    # Arrow attaches the session timezone to TimestampType values
    # (tz-aware UTC) where the row path yields naive datetimes of the
    # same instant — normalize to naive UTC so the identity check
    # compares instants, not representations.
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _row_hash_rows(rows) -> str:
    h = hashlib.sha256()
    for r in sorted((tuple(_norm(x) for x in row) for row in rows), key=repr):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    spark = get_session("jorvik_arrow_ab", master=f"local[{cpus}]")

    out: dict = {
        "sf_dir": sf_dir,
        "cpus": int(cpus),
        "date": time.strftime("%Y-%m-%d"),
        "load_start": round(os.getloadavg()[0], 2),
    }
    for name in SHAPES:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"arrow_ab: {name}")
        # warm-up (JIT + scratch dirs)
        fn(spark, sf_dir).collect()

        noop_t, coll_t, arr_t = [], [], []
        row_h = arrow_h = None
        n_rows = 0
        for _ in range(N):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            noop_t.append(time.perf_counter() - t0)

            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).collect()
            coll_t.append(time.perf_counter() - t0)

            t0 = time.perf_counter()
            tbl = fn(spark, sf_dir).toArrow()
            arr_t.append(time.perf_counter() - t0)

            if row_h is None:
                n_rows = len(rows)
                row_h = _row_hash_rows(rows)
                arrow_h = _row_hash_rows(
                    tuple(r.values()) for r in tbl.to_pylist()
                )
        med = lambda xs: round(statistics.median(xs), 4)  # noqa: E731
        out[name] = {
            "n_rows": n_rows,
            "build_noop": med(noop_t),
            "collect": med(coll_t),
            "toArrow": med(arr_t),
            "transfer_collect": round(med(coll_t) - med(noop_t), 4),
            "transfer_arrow": round(med(arr_t) - med(noop_t), 4),
            "rows_identical": row_h == arrow_h,
        }
        print(f"{name}: {out[name]}", file=sys.stderr)
    out["load_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
