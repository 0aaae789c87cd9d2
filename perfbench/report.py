"""Run every workload and print its end-to-end metrics by name and unit.

    python3 perfbench/report.py --seeds 1 2 3 --seconds 20 [--trace] [--out FILE]

Each (workload, seed) pair is one ``run.py`` process, run one after
another. With several seeds the table gives each metric's median and its
spread: the distance between the first and third quartiles as a share of
the median, as ``statistics.quantiles(values, n=4)`` gives them. With
``--trace`` one traced run per workload (first seed) adds its non-zero
per-layer metrics, among them the tracing overhead. ``--out`` writes
every run's result and record as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    record = next(json.loads(x.split(" ", 1)[1]) for x in lines
                  if x.startswith("perfbench-record "))
    record.pop("ops", None)
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "result": json.loads(lines[-1]), "record": record}


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1])
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]

    runs, summary = [], {}
    for w in (x["name"] for x in spec["workloads"]):
        mine = [run_once(w, s, seconds, 0) for s in args.seeds]
        if args.trace:
            mine.append(run_once(w, args.seeds[0], seconds, 1))
        runs += mine
        plain = [r for r in mine if not r["trace"]]
        summary[w] = {}
        print(f"\n{w}: {len(plain)} run(s), seconds={seconds}, "
              f"failed ops {sum(r['result']['failed'] for r in mine)}"
              f"/{sum(r['result']['attempted'] for r in mine)}")
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in plain]
            row = {"median": statistics.median(vals), "spread": spread(vals),
                   "unit": m["unit"], "bound": m["bound"]}
            summary[w][m["name"]] = row
            print(f"  {m['name']:14s} {row['median']:12.5g} {m['unit']:6s} "
                  f"spread {row['spread']:.3f} (bound {m['bound']})")
        for r in plain:
            p90 = r["record"]["op_s.p90"]
            if not p90["resolved"]:
                print(f"  note: seed {r['seed']}: {p90['note']}")
                break
        for r in mine:
            if r["trace"]:
                print(f"  traced run, seed {r['seed']}:")
                for name, m in r["result"]["metrics"].items():
                    if m["value"]:
                        print(f"    {name:40s} {m['value']:12.5g} {m['unit']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"seconds": seconds, "summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
