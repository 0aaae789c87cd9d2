"""Engine benchmark: one closed-loop client against ``local[nproc]``.

    python3 perfbench/run.py --workload {query_mix,lake_etl} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The client drives jorvik_spark only through
its public API, one op at a time (a closed loop). After set-up, the
workload's DuckDB oracles and warm-up passes, it runs whole passes until
the ops have taken ``--seconds``; output checks run between ops with the
clock stopped. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. A layer the workload does not reach reports 0. The line
before it (``perfbench-record``) holds the host, versions, seed, pass
and sample counts. README.md in this directory gives the rationale.
"""

import time

T_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {
    "query_mix": ("perfbench.query_mix", "QueryMix"),
    "lake_etl": ("perfbench.lake_etl", "LakeEtl"),
}
# Closes the JVM's heap so its peak resident size is set by the workload,
# not by how far the collector let an unbounded heap grow.
HEAP_MAX = "2g"
HEAP_OPTS = "-Xms2g -Xmn512m"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default=None,
                    choices=("result", "ingest", "silver", "merge", "lineage", "production"),
                    help="deliberate fault, to show that the output checks fire")
    return ap.parse_args(argv)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no /tmp/hsperfdata_* file from either JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} {HEAP_OPTS}")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP_MAX
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — TimeoutExpired: force it
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import common
    from perfbench.ops import Context
    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    import jorvik_spark  # noqa: F401 — package import is part of set-up
    from jorvik_spark.session import get_session

    spark = get_session("perfbench")
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(1).collect()
    first_action_s = time.perf_counter() - t0

    tracer = Tracer()
    ctx = Context(spark, args.seed, common.DATA_DIR, work, tracer, args.inject)
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)(ctx)
    wl.setup()
    setup_s = time.perf_counter() - T_START
    probe_before = common.cpu_probe_ms()

    record = None
    try:
        phases = {"setup": setup_s}
        mark = time.perf_counter()

        def phase(name):
            nonlocal mark
            now = time.perf_counter()
            phases[name] = now - mark
            mark = now

        wl.prepare()
        phase("prepare")
        if args.trace:
            tracer.instrument(spark)
        pass_id = 0
        for _ in range(wl.warmup_passes):
            tracer.pass_id = pass_id
            wl.run_pass(pass_id, False)
            pass_id += 1

        # Whole passes until the ops have run --seconds. A traced run
        # interleaves untraced and traced passes in ABBA order, so both
        # see the same host and the same warm-up drift, and the
        # difference is the tracing overhead.
        phase("warmup")
        ops, passes, busy = [], [], 0.0
        while busy < args.seconds or (args.trace and len(passes) < 2):
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            tracer.pass_id, tracer.active = pass_id, traced
            p_ops, p_layers = wl.run_pass(pass_id, traced)
            tracer.active = False
            p_layers.update(pass_id=pass_id, traced=traced)
            ops += p_ops
            passes.append(p_layers)
            busy += sum(o.seconds for o in p_ops)
            pass_id += 1

        phase("window")
        probe_ops, probe_layers = wl.trace_probe() if args.trace else ([], {})
        phase("probe")

        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        peak_rss = common.vm_hwm_mb() + common.vm_hwm_mb(jvm_pid)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        import pyspark

        traced_ids = {p["pass_id"] for p in passes if p["traced"]}
        untraced = [o for o in ops if o.pass_id not in traced_ids]
        p90 = common.tail([o.seconds for o in untraced], 90)
        failed = [o for o in ops + probe_ops if not o.ok]
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": common.rate(untraced),
            "op_s.p50": common.quantile([o.seconds for o in untraced], 50),
            "op_s.p90": p90["value"],
            "ok_rate": 1.0 - len(failed) / len(ops + probe_ops),
            "peak_rss_mb": peak_rss,
        }
        layers = {"session.start_s": start_s, "session.first_action_s": first_action_s}
        if args.trace:
            traced_ops = [o for o in ops if o.pass_id in traced_ids]
            traced_passes = [p for p in passes if p["traced"]]
            layers.update(wl.layer_metrics(traced_ops, traced_passes, tracer))
            layers.update(probe_layers)
            layers["trace.ops_per_s_delta"] = common.rate(traced_ops) - e2e["ops_per_s"]
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            tracer.restore()

        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "inject": args.inject,
            "nproc": os.cpu_count(), "master": f"local[{os.cpu_count()}]",
            "pyspark": pyspark.__version__, "java": java,
            "python": platform.python_version(),
            "passes": {"warmup": wl.warmup_passes, "timed": len(passes),
                       "traced": sum(p["traced"] for p in passes)},
            "attempted": len(ops + probe_ops), "failed": len(failed),
            "samples": len(untraced), "op_s.p90": p90,
            "op_s.p50_by_op": {n: common.median([o.seconds for o in untraced if o.name == n])
                               for n in sorted({o.name for o in untraced})},
            "ops": [[o.name, o.pass_id, round(o.seconds, 4)] for o in ops],
            "errors": [f"{o.name}@{o.pass_id}: {o.error}" for o in failed][:10],
            "e2e": e2e,
            "phase_s": phases,
            "cpu_probe_ms": {"before": probe_before, "after": common.cpu_probe_ms()},
        }
        return record, layers
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        if record is not None:
            record["phase_s"]["stop"] = time.perf_counter() - t0


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("jorvik_spark/__init__.py", "__spark_entry__.py",
                           "perfbench/data/sf0.1/orders.parquet")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a jorvik_spark checkout; missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.common import loadavg

    spec = benchmark_spec()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    prepare_env(work)
    load_before = loadavg()
    try:
        record, layers = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    record["loadavg"] = {"before": load_before, "after": loadavg()}

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else record["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    for name, m in metrics.items():
        print(f"{args.workload:12s} {name:40s} {m['value']:14.6g} {m['unit']}")
    if not args.trace and not record["op_s.p90"]["resolved"]:
        print(f"{args.workload:12s} note: {record['op_s.p90']['note']}")
    print("perfbench-record " + json.dumps(record, default=str))
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
