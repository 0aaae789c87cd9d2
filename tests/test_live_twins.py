"""The live-twin contract, checked once for every ``running_*`` operator.

Each case drains the operator over a small parquet stream (two files,
one micro-batch each, with ``trigger(availableNow=True)``) and compares
the result with the operator's own batch branch over the same rows: the
last emission per key (per bar for OHLC) for the update-mode twins,
every row for the twins that emit one row per event. The stream has a
STRING key, event ids above 2^53 (a float64 round trip collapses
2^60 + 1 onto 2^60) in the same micro-batch as a NULL id, ties on ts
broken by event_id (a NULL id first), and
``spark.sql.execution.arrow.maxRecordsPerBatch=2``, so a key's rows span
several Arrow chunks and arrive out of (ts, event_id) order.

A second test pins each operator's ``applyInPandasWithState`` output
and state schema strings: they are the checkpoint format.
"""

from __future__ import annotations

import datetime

import pytest

from jorvik_spark.streaming import ops

_SCHEMA = (
    "event_id long, ts timestamp, user_id string, "
    "event_type string, value double, props string"
)
_BIG_ID = 2**60 + 1

# One purchase series per key: a quiet baseline (the CUSUM training
# window), a spike, a flat run of three, a drift and a second spike.
_SERIES = [10.0, 10.2, 9.9, 10.1, 10.0, 10.05, 9.95, 10.0,
           500.0, 120.0, 120.0, 120.0, 130.0, 10.0, 480.0]


def _rows() -> list:
    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    rows = []
    for k, (key, id0) in enumerate((("alice", _BIG_ID), ("bob", 1000))):
        for i, v in enumerate(_SERIES):
            # events 3 and 4 share a ts: event_id breaks the tie
            minute = 7 * (i - (i == 4)) + k
            ts = base + datetime.timedelta(minutes=minute)
            rows.append((id0 + i, ts, key, "purchase", v, None))
            if id0 == _BIG_ID and i == 0:
                # a NULL id beside 2^60 + 1, at its ts: it sorts first
                rows.append((None, ts, key, "purchase", 9.9, None))
        late = base + datetime.timedelta(minutes=200 + k)
        rows.append((id0 + 50, late, key, "view", 99.0, None))
        rows.append((id0 + 51, late, key, "purchase", None, None))
    return rows


_CUT = datetime.datetime(2024, 5, 1, 9, 40, 0)


def _case(op, ident=None, mode="update"):
    """``ident``: columns naming one emitted entity — its LAST emission
    is compared; None compares every emitted row."""
    return pytest.param(op, ident, mode, id=op.__name__.removeprefix("running_"))


CASES = [
    _case(ops.running_user_totals, ["user_id"]),
    _case(ops.running_user_totals_fixedpoint, ["user_id"]),
    _case(ops.running_anomaly_zscore),
    _case(ops.running_intervals_union, ["user_id"]),
    _case(ops.running_ohlc_bars, ["user_id", "bar_start_us"]),
    _case(ops.running_cusum_changepoints, ["user_id"]),
    _case(ops.running_flatline_runs, ["user_id"]),
    _case(ops.running_ewma, mode="append"),
    _case(ops.running_autocorr, ["user_id"]),
    _case(ops.running_holt, mode="append"),
    _case(ops.running_churn, mode="append"),
    _case(ops.running_breakout, mode="append"),
]


_EMITS_IDS = {
    ops.running_anomaly_zscore,
    ops.running_cusum_changepoints,
    ops.running_ewma,
    ops.running_holt,
    ops.running_churn,
    ops.running_breakout,
}


@pytest.fixture(scope="module")
def twin_src(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    src = str(tmp_path_factory.mktemp("twins") / "src")
    df = spark.createDataFrame(_rows(), _SCHEMA)
    # each file lands newest-first, so the fold order comes from the sort
    for part, cond in (("a", F.col("ts") < _CUT), ("b", F.col("ts") >= _CUT)):
        df.filter(cond).orderBy(F.desc("ts"), F.desc("event_id")).coalesce(
            1
        ).write.parquet(f"{src}/p={part}")
    return src


@pytest.fixture
def small_arrow_batches(spark, few_shuffle_partitions):
    # two rows per Arrow chunk
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _norm(row) -> tuple:
    # the float total of running_user_totals depends on summation order
    return tuple(round(v, 6) if isinstance(v, float) else v for v in row)


@pytest.mark.parametrize("op, ident, mode", CASES)
def test_live_twin_equals_batch_branch(
    spark, twin_src, small_arrow_batches, tmp_path, op, ident, mode
):
    emitted = []
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{twin_src}/p=*")
    )
    q = (
        op(stream)
        .writeStream.foreachBatch(lambda b, _i: emitted.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    assert q.exception() is None, q.exception()

    if ident is not None:  # batches arrive in order: the last one wins
        emitted = list({tuple(r[c] for c in ident): r for r in emitted}.values())
    batch = op(spark.read.schema(_SCHEMA).parquet(twin_src)).collect()
    assert sorted(map(_norm, emitted), key=repr) == sorted(
        map(_norm, batch), key=repr
    )
    assert {r[0] for r in batch} == {"alice", "bob"}
    if op in _EMITS_IDS:  # alice's ids are exact, not float64 neighbours
        assert any(v > 2**53 for r in batch for v in r if type(v) is int)


# The schema strings existing checkpoints were written with, rendered
# for a `user_id bigint` key.
_SCHEMAS = {
    "running_user_totals": (
        "user_id bigint, n_events long, total_value double",
        "n long, total double, n_nonnull long",
        "update",
    ),
    "running_user_totals_fixedpoint": (
        "user_id bigint, n_events long, total_u long",
        "n long, total_u long, n_nonnull long",
        "update",
    ),
    "running_anomaly_zscore": (
        "user_id bigint, event_id long, value_units long, n_prior long",
        "vals array<long>",
        "update",
    ),
    "running_intervals_union": (
        "user_id bigint, n_intervals long, n_islands long, "
        "covered_s long, max_island_events long",
        "n_iv long, n_closed long, cov_closed long, max_ev long, "
        "cur_s long, cur_e long, cur_n long",
        "update",
    ),
    "running_ohlc_bars": (
        "user_id bigint, bar_start_us long, open_u long, "
        "high_u long, low_u long, close_u long, n_trades long",
        "bucket long, o long, h long, lo long, c long, n long",
        "update",
    ),
    "running_cusum_changepoints": (
        "user_id bigint, first_exceed_pos long, "
        "first_exceed_event long, max_cusum long",
        "ring array<long>, mu long, s_cur long, s_max long, "
        "pos long, f_pos long, f_ev long",
        "update",
    ),
    "running_flatline_runs": (
        "user_id bigint, n_flatline_runs long, "
        "longest_run long, n_flatlined_events long",
        "cur_vu long, cur_len long, n_runs long, longest long, "
        "flat_ev long",
        "update",
    ),
    "running_ewma": (
        "user_id bigint, event_id long, t long, "
        "n_in_frame int, ewma_u long",
        "ring array<double>",
        "append",
    ),
    "running_autocorr": (
        "user_id bigint, n_pairs long, r_u long",
        "nv long, prev long, v0 long, v1 long, dx long, dy long,"
        " sx long, sy long, sxy_hi long, sxy_lo long,"
        " sxx_hi long, sxx_lo long, syy_hi long, syy_lo long",
        "update",
    ),
    "running_holt": (
        "user_id bigint, event_id long, t long, n_in_frame int,"
        " level_u long, trend_u long, forecast_u long",
        "ring array<double>",
        "append",
    ),
    "running_churn": (
        "user_id bigint, event_id long, t long,"
        " gap_us long, max_hist_gap_us long",
        "last_t long, maxg long",
        "append",
    ),
    "running_breakout": (
        "user_id bigint, event_id long, t long, vu long,"
        " prev_max_u long, is_breakout boolean",
        "ring array<bigint>",
        "append",
    ),
}


def test_live_twin_schema_strings_are_unchanged(spark, tmp_path, monkeypatch):
    from pyspark.sql.group import GroupedData

    seen = {}

    def record(self, func, outputStructType, stateStructType, outputMode,
               timeoutConf):
        seen[name] = (outputStructType, stateStructType, outputMode)

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", record)
    stream = spark.readStream.schema(_SCHEMA.replace("user_id string", "user_id long")).parquet(
        str(tmp_path)
    )
    for name in _SCHEMAS:
        getattr(ops, name)(stream)
    assert seen == _SCHEMAS
