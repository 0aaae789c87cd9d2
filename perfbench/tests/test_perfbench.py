"""The benchmark's own tests: statistics, seeding, the lake invariant,
fault detection and the traced run's metric set.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from conftest import ROOT, SMALL_DATA

from perfbench import common
from perfbench.corpus_memo import CorpusMemo
from perfbench.lake_etl import LakeEtl
from perfbench.ops import Context
from perfbench.query_mix import QueryMix
from perfbench.trace import Tracer


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def context(seed, spark=None, work="/nonexistent", inject=None) -> Context:
    return Context(spark, seed, SMALL_DATA, str(work), Tracer(), inject)


# -- p90 only with ten samples beyond it ---------------------------------


def test_p90_resolved_only_with_ten_samples_beyond():
    t = common.tail([float(i) for i in range(100)], 90)
    assert t["resolved"] and t["beyond"] == 10 and "note" not in t

    t = common.tail([float(i) for i in range(50)], 90)
    assert not t["resolved"] and t["beyond"] == 5
    assert "5 of 50 samples" in t["note"]


def test_quantile_is_smooth_across_a_gap():
    """Three fast and three slow op kinds: the median sits between the
    clusters and moves little when one sample at the edge moves."""
    fast, slow = [0.25, 0.26, 0.29] * 5, [0.48, 0.53, 0.66] * 5
    base = common.quantile(fast + slow, 50)
    assert 0.29 < base < 0.48
    moved = common.quantile(fast[:-1] + [0.2] + slow, 50)
    assert abs(moved - base) < 0.01
    assert abs(common.quantile([1.0, 2.0, 3.0], 50) - 2.0) < 1e-9


# -- seeding --------------------------------------------------------------


@pytest.mark.parametrize("cls", [QueryMix, CorpusMemo, LakeEtl])
def test_same_seed_same_op_order(cls):
    a, b, c = cls(context(3)), cls(context(3)), cls(context(4))
    orders = [a.order(p) for p in range(8)]
    assert orders == [b.order(p) for p in range(8)]
    assert orders != [c.order(p) for p in range(8)]


def test_same_seed_same_merge_batches():
    a, b, c = LakeEtl(context(3)), LakeEtl(context(3)), LakeEtl(context(4))
    for wl in (a, b, c):
        wl.load_keys()
    for p in range(3):
        assert a.batch_rows(p) == b.batch_rows(p)
        assert a.batch_rows(p) != c.batch_rows(p)


def test_merge_batches_balance_and_never_reuse_keys():
    wl = LakeEtl(context(5))
    wl.load_keys()
    seen = set()
    for p in range(4):
        rows = wl.batch_rows(p)
        keys = [r["o_orderkey"] for r in rows]
        assert len(set(keys)) == len(keys)
        deletes = [r for r in rows if r["o_orderstatus"] == "D"]
        inserts = [r for r in rows if r["o_orderkey"] >= wl.next_key]
        assert len(deletes) == len(inserts) > 0
        assert not seen & {r["o_orderkey"] for r in deletes}
        seen |= {r["o_orderkey"] for r in deletes}


# -- lake_etl on a real session --------------------------------------------


def lake(spark, tmp_path, inject=None) -> LakeEtl:
    wl = LakeEtl(context(1, spark, tmp_path, inject))
    wl.setup()
    wl.prepare()
    return wl


def run_pass(wl, pass_id, traced=False):
    wl.ctx.tracer.pass_id = pass_id
    wl.ctx.tracer.active = traced
    try:
        return wl.run_pass(pass_id, traced)
    finally:
        wl.ctx.tracer.active = False


def test_lake_table_row_count_is_constant(spark, tmp_path):
    wl = lake(spark, tmp_path)
    start = wl.table_rows()
    for p in range(3):
        ops, _ = run_pass(wl, p)
        assert [o.error for o in ops] == ["", "", ""]
        assert wl.table_rows() == start


@pytest.mark.parametrize("fault,op,message", [
    ("ingest", "ingest", "ingest wrote"),
    ("silver", "silver", "row count"),
    ("merge", "upsert", "merged table differs"),
    ("lineage", "silver", "lineage rows"),
    ("production", "silver", "production paths changed"),
])
def test_each_lake_check_fires_on_its_fault(spark, tmp_path, fault, op, message):
    ops, _ = run_pass(lake(spark, tmp_path, inject=fault), 0)
    failed = {o.name: o.error for o in ops if o.error}
    assert list(failed) == [op], failed
    assert failed[op].startswith("check:") and message in failed[op]


# -- wrong answers from the query layer -------------------------------------


def test_wrong_answer_counts_as_failed_op(spark):
    wl = QueryMix(context(1, spark, inject="result"))
    wl.setup()
    wl.prepare()
    ops, _ = wl.run_pass(0, False)
    assert len(ops) == 6 and all(o.error.startswith("check:") for o in ops)

    wl.ctx.inject = None
    ops, _ = wl.run_pass(1, False)
    assert all(o.ok for o in ops), [o.error for o in ops]


# -- the traced run's metric set ---------------------------------------------


def test_layer_metrics_cover_per_layer_names(spark, tmp_path):
    """Each workload's traced pass yields its share of the per-layer
    names; with the set-up and overhead metrics they cover all of them."""
    names = {m["name"] for m in spec()["per_layer"]}
    produced = {"session.start_s", "session.first_action_s", "trace.ops_per_s_delta"}
    for cls in (QueryMix, CorpusMemo, LakeEtl):
        ctx = context(2, spark, tmp_path / cls.__name__)
        wl = cls(ctx)
        wl.setup()
        wl.prepare()
        ctx.tracer.instrument(spark)
        try:
            ops, layers = run_pass(wl, 0, traced=True)
        finally:
            ctx.tracer.restore()
        assert all(o.ok for o in ops), [o.error for o in ops]
        layers["pass_id"] = 0
        metrics = wl.layer_metrics(ops, [layers], ctx.tracer)
        assert set(metrics) <= names
        assert all(v > 0 for k, v in metrics.items()
                   if not k.startswith("queries.transfer_s")), metrics
        produced |= set(metrics)
    assert produced == names


def test_cli_traced_run_reports_every_per_layer_metric():
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in spec()["per_layer"]}
    assert result["metrics"]["queries.build_s.q1"]["value"] > 0


def test_cli_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "__init__.py"):
        (bench / f).write_text(open(os.path.join(ROOT, "perfbench", f)).read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(spec()))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0 and proc.stdout == ""
