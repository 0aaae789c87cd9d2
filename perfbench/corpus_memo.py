"""The memo layer's probe: four §2C shapes, each cold after
``clear_memos()`` and then twice warm.

It runs at the end of a traced ``query_mix`` run, which has no memo, to
measure the build-versus-hit path of ``queries.registry``. It is not a
workload of its own: a cycle takes about 15 s on 4 cores, so a steady
closed loop over it does not fit the benchmark's time budget next to
the two workloads (README.md). The sf0.1 corpus is far below the 4 GiB
source size at which ``corpus_memo_cut_lineage`` switches memo tiers, so
only the ``localCheckpoint`` tier is measured.
"""

from __future__ import annotations

import time

from perfbench.common import canonical, diff, duck_connect, duck_result, median
from perfbench.ops import Op, check, timed
from perfbench.query_mix import oracle_sql, wrong_answer

SHAPES = {
    "mh_banded": "dedup_minhash_banded",
    "containment": "dedup_containment_ngram",
    "ann_recall": "simsearch_recall_eval",
    "int8_recall": "embed_int8_recall_eval",
}
CALLS = ("cold", "warm", "warm")


def cached_mb(spark) -> float:
    """Block storage held by persisted RDDs, as the SparkContext reports it."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


class CorpusMemo:
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
        from jorvik_spark.queries import registry

        ctx, tr = self.ctx, self.ctx.tracer
        tr.op = "clear"
        t0 = time.perf_counter()
        registry.clear_memos()
        layers = {"clear_s": time.perf_counter() - t0}
        ops = []
        for label in self.order(pass_id):
            for i, kind in enumerate(CALLS):
                op = Op(f"{label}.{kind}", pass_id)
                group = f"perfbench-{pass_id}-{label}-{i}"
                tr.op = op.name

                def body(fn=self.fns[label], group=group):
                    with tr.job_group(ctx.spark, group):
                        with tr.span(f"queries.build.{label}"):
                            df = fn(ctx.spark, ctx.data_dir)
                        return df.columns, df.collect()

                result = timed(op, body)
                if result is not None:
                    if ctx.inject == "result":
                        result = wrong_answer(result)
                    check(op, diff(canonical(*result), self.oracle[label]))
                if traced:
                    op.layers["jobs"] = tr.jobs(ctx.spark, group)
                ops.append(op)
        if traced:
            layers["cached_mb"] = cached_mb(ctx.spark)
        return ops, layers

    @staticmethod
    def layer_metrics(ops: list[Op], passes: list[dict], tracer) -> dict:
        out = {}
        for label in SHAPES:
            for kind in ("cold", "warm"):
                mine = [o for o in ops if o.name == f"{label}.{kind}" and o.ok]
                out[f"queries.registry.{kind}_s.{label}"] = median([o.seconds for o in mine])
                out[f"queries.registry.jobs_{kind}.{label}"] = median(
                    [o.layers["jobs"] for o in mine])
        out["queries.registry.clear_s"] = median([p["clear_s"] for p in passes])
        out["queries.registry.cached_mb"] = median([p["cached_mb"] for p in passes])
        return out
