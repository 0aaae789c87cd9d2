"""query_mix: the six BASELINE.md shapes, rebuilt fresh each op.

Why this workload: the query layer does nearly all the work — no memo,
no writes — and the shapes are the ones BASELINE.md and ``bench.py``
report, so the numbers stay comparable with them.
"""

from __future__ import annotations

import os
import time

from perfbench.common import canonical, diff, duck_connect, duck_result, median
from perfbench.ops import Op, check, timed

SHAPES = {
    "q1": "agg_pricing_summary",
    "q3": "join_q3_topk",
    "q5": "join_q5_regional",
    "w1": "window_rank_per_user",
    "s1": "stream_tumbling_agg",
    "d1": "agg_approx_distinct",
}
LAYER_KEYS = ("build_s", "plan_s", "exec_s", "transfer_s", "py4j_calls", "jobs")


def oracle_sql(data_dir: str) -> dict[str, str]:
    """The DuckDB twins from ``__spark_entry__.oracle_sql()``, pointed at
    ``data_dir``."""
    os.environ["SPARK_GRAFT_TEST_SF"] = data_dir
    import __spark_entry__

    return __spark_entry__.oracle_sql()


def wrong_answer(result):
    """The injected fault for the result checks: one row goes missing."""
    cols, rows = result
    return cols, rows[:-1]


class QueryMix:
    warmup_passes = 4

    def __init__(self, ctx):
        self.ctx = ctx
        self.oracle: dict = {}

    def setup(self) -> None:
        from jorvik_spark.queries import QUERIES

        self.fns = {label: QUERIES[q] for label, q in SHAPES.items()}

    def prepare(self) -> None:
        sql = oracle_sql(self.ctx.data_dir)
        con = duck_connect(self.ctx.data_dir)
        self.oracle = {label: duck_result(con, sql[q]) for label, q in SHAPES.items()}
        con.close()

    def order(self, pass_id: int) -> list[str]:
        labels = list(SHAPES)
        self.ctx.rng("order", pass_id).shuffle(labels)
        return labels

    def run_pass(self, pass_id: int, traced: bool) -> tuple[list[Op], dict]:
        return [self.run_shape(label, pass_id, traced) for label in self.order(pass_id)], {}

    def run_shape(self, label: str, pass_id: int, traced: bool) -> Op:
        ctx, tr = self.ctx, self.ctx.tracer
        spark, fn = ctx.spark, self.fns[label]
        op = Op(label, pass_id)
        group = f"perfbench-{pass_id}-{label}"
        split = {}

        def body():
            with tr.job_group(spark, group):
                calls = tr.py4j_calls
                t0 = time.perf_counter()
                with tr.span(f"queries.build.{label}"):
                    df = fn(spark, ctx.data_dir)
                t1 = time.perf_counter()
                split["py4j_calls"] = tr.py4j_calls - calls
                rows = df.collect()
                split["build_s"] = t1 - t0
                split["collect_s"] = time.perf_counter() - t1
            return df.columns, rows

        tr.op = label
        result = timed(op, body)
        if result is not None:
            if ctx.inject == "result":
                result = wrong_answer(result)
            check(op, diff(canonical(*result), self.oracle[label]))
        if traced and op.ok:
            op.layers.update(self.probe(label, split, group))
        return op

    def probe(self, label: str, split: dict, group: str) -> dict:
        """Per-layer split of one shape, outside the op's timed body:
        planning by forcing ``executedPlan`` on a fresh build, execution
        by running a fresh build into the ``noop`` sink."""
        spark, fn, d = self.ctx.spark, self.fns[label], self.ctx.data_dir
        df = fn(spark, d)
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        plan_s = time.perf_counter() - t0
        df = fn(spark, d)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t0
        return {
            "build_s": split["build_s"],
            "plan_s": plan_s,
            "exec_s": exec_s,
            "transfer_s": split["collect_s"] - exec_s,
            "py4j_calls": split["py4j_calls"],
            "jobs": self.ctx.tracer.jobs(spark, group),
        }

    def trace_probe(self) -> tuple[list[Op], dict]:
        """The memo layer's per-layer metrics, measured at the end of a
        traced run: the corpus_memo cycle (``clear_memos()``, then each
        §2C shape cold and twice warm) runs once untraced to compile its
        code paths, then once traced. These ops count toward ``failed``
        but not toward any rate."""
        from perfbench.corpus_memo import CorpusMemo

        memo, tr = CorpusMemo(self.ctx), self.ctx.tracer
        memo.setup()
        memo.prepare()
        memo.run_pass(-2, False)
        tr.pass_id, tr.active = -1, True
        try:
            ops, layers = memo.run_pass(-1, True)
        finally:
            tr.active = False
        return ops, memo.layer_metrics(ops, [layers], tr)

    @staticmethod
    def layer_metrics(ops: list[Op], passes: list[dict], tracer) -> dict:
        out = {}
        for label in SHAPES:
            mine = [o.layers for o in ops if o.name == label and "build_s" in o.layers]
            for key in LAYER_KEYS:
                out[f"queries.{key}.{label}"] = median([m[key] for m in mine])
        return out
