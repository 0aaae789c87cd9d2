"""Produce a driver-style correctness report for EVERY registered query.

The per-round driver check records only a bounded prefix of queries()
(observed: 50 entries); this script runs the SAME comparison over the
FULL registry at the driver's correctness scale and writes
LOCAL_PARITY_r{N}.json next to the driver's CORRECTNESS files — a
machine-readable freshness artifact for the queries outside the checked
prefix.

Usage: python scripts/local_parity_report.py <round> [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import traceback

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from jorvik_spark.session import get_session  # noqa: E402


def main() -> None:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
    # Absolute: Spark reports absolute file paths (binaryFile scans), and
    # the {sf_dir} oracles echo this value back.
    sf_dir = os.path.abspath(
        sys.argv[2] if len(sys.argv) > 2 else os.path.join(_ROOT, "testdata", "sf0.01")
    )
    os.environ["SPARK_GRAFT_TEST_SF"] = sf_dir

    import __spark_entry__ as entrymod
    from tests.oracle_utils import compare, duck_con

    spark = get_session("jorvik_spark_local_parity")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duck_con(sf_dir)
    report = {}
    for name, fn in qs.items():
        try:
            if name in oracles:
                n = compare(fn(spark, sf_dir), con, oracles[name], name)
                report[name] = {"mode": "hash", "ok": True, "rows": n}
            else:
                # rows-only queries must produce OUTPUT to count as ok —
                # n >= 0 would be vacuously true and a filter regression
                # to the empty set would still read as green.
                n = fn(spark, sf_dir).count()
                report[name] = {"mode": "rows_only", "ok": n > 0, "rows": n}
        except Exception as exc:  # noqa: BLE001
            report[name] = {
                "mode": "hash" if name in oracles else "rows_only",
                "ok": False,
                "err": f"{type(exc).__name__}: {exc}"[:300],
            }
            traceback.print_exc()
        print(json.dumps({name: report[name]}), flush=True)
    out = os.path.join(_ROOT, f"LOCAL_PARITY_r{rnd}.json")
    ok = sum(1 for r in report.values() if r["ok"])
    with open(out, "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "total": len(report),
                "ok": ok,
                "queries": report,
            },
            f,
            indent=1,
        )
    print(f"\n{ok}/{len(report)} ok → {out}")


if __name__ == "__main__":
    main()
