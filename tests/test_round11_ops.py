"""Round-11 operator tests: the IVF cell-size seatbelt behind the
within-cell pair relation (k-NN graph / SemDeDup), property-tested over
arbitrary cell-size profiles and integration-tested through the real
memo build path. Oracle parity for the round-11 query forms runs
through tests/test_oracle_parity.py; these pin the guard behavior the
hash compare can't see."""

from __future__ import annotations

import contextlib
import io
import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import jorvik_spark.queries.similarity as S
from jorvik_spark.queries.similarity import (
    CellImbalanceError,
    _guard_cell_sizes,
    simsearch_knn_graph,
)
from jorvik_spark.tables import default_sf_dir

SF_DIR = default_sf_dir()


def _cells_df(spark, sizes: list[int]):
    rows = [(cell,) for cell, n in enumerate(sizes) for _ in range(n)]
    return spark.createDataFrame(rows, "cell int")


@settings(max_examples=20, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=6),
    bound=st.integers(min_value=1, max_value=12),
)
def test_guard_raises_iff_a_cell_exceeds_bound(spark, sizes, bound):
    # pytest.MonkeyPatch context, not the fixture: hypothesis forbids
    # function-scoped fixtures inside @given.
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "_MAX_IVF_CELL", bound)
        df = _cells_df(spark, sizes)
        if max(sizes) > bound:
            with pytest.raises(CellImbalanceError):
                _guard_cell_sizes(df)
        else:
            _guard_cell_sizes(df)  # must not raise


def test_knn_graph_build_trips_guard_on_hot_cell(spark, tmp_path, monkeypatch):
    """Integration: the guard fires through the REAL _cell_pairs build
    (fresh sf_dir so the session memo can't mask it). sf0.001 has 2k
    vectors over 16 cells, so a bound of 5 must trip."""
    shutil.copy(f"{SF_DIR}/embeddings.parquet", tmp_path / "embeddings.parquet")
    monkeypatch.setattr(S, "_MAX_IVF_CELL", 5)
    with pytest.raises(CellImbalanceError, match="Re-train with more centroids"):
        simsearch_knn_graph(spark, str(tmp_path)).count()


def test_knn_graph_passes_guard_at_default_bound(spark):
    """The default bound is a seatbelt, not a tripwire: the standard
    corpus builds fine, and the consumer plan stays equi-keyed (the
    guard is a pre-flight job, not a plan node)."""
    df = simsearch_knn_graph(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "CartesianProduct" not in buf.getvalue()
    assert df.filter(F.col("rank") == 1).count() > 0


@pytest.mark.usefixtures("few_shuffle_partitions")
def test_running_anomaly_zscore_survives_restart(spark, tmp_path):
    """Kill-and-resume: the detector's per-key ring must come back from
    the checkpointed state store, not from replayed input. The spike in
    the post-restart file can only flag if the baseline ring built
    BEFORE the kill survived — and the pre-kill flag must not re-emit."""
    import datetime

    from jorvik_spark.streaming.ops import running_anomaly_zscore

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    vals1 = [10.0, 10.2, 9.9, 10.1, 10.0, 500.0, 10.05, 9.95, 10.0,
             10.1, 9.9, 10.0, 10.05, 10.1, 9.95, 480.0]
    rows = [
        (100 + i, base + datetime.timedelta(minutes=i), 1, "purchase", v, None)
        for i, v in enumerate(vals1)
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src, dst, cp = (str(tmp_path / d) for d in ("src", "dst", "cp"))
    cut = base + datetime.timedelta(minutes=8)
    df.filter(F.col("ts") < cut).coalesce(1).write.parquet(f"{src}/p=a")

    batch_all = sorted(tuple(r) for r in running_anomaly_zscore(df).collect())
    assert len(batch_all) == 2  # both spikes flag on the full history

    def drain_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/p=*")
        )
        q = (
            running_anomaly_zscore(stream)
            .writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(dst)
            )
            .option("checkpointLocation", cp)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    drain_once()  # run 1: sees only p=a (first spike), then dies
    first = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    assert [r[1] for r in first] == [105]  # the 500.0 spike's event_id
    # the second spike + a post-kill baseline arrive while we're down
    df.filter(F.col("ts") >= cut).coalesce(1).write.parquet(f"{src}/p=b")
    drain_once()  # run 2: SAME checkpoint — resumes, must not re-flag
    live = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    assert live == batch_all


@pytest.mark.usefixtures("few_shuffle_partitions")
def test_running_intervals_union_matches_batch_across_restart(spark, tmp_path):
    """The live interval-union twin must converge to the batch query's
    per-user summary, with the open-island state surviving a kill:
    user 1's island straddles the restart cut (the post-restart event
    extends the pre-restart island), so the merged count is only right
    if (cur_start, cur_max_end, n_events) came back from the
    checkpoint."""
    import datetime

    from pyspark.sql import functions as SF

    from jorvik_spark.streaming.ops import running_intervals_union

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        # user 1: three events whose 60 s-valued intervals chain into
        # ONE island that straddles the cut at +90 s (the open island
        # [0, 110) must merge with the post-restart event at +100 s),
        # then a separate 5 s island half an hour later.
        (1, base, 1, "view", 60.0, None),
        (2, base + datetime.timedelta(seconds=50), 1, "view", 60.0, None),
        (3, base + datetime.timedelta(seconds=100), 1, "view", 60.0, None),
        (4, base + datetime.timedelta(minutes=30), 1, "view", 5.0, None),
        # user 2: one event, null value (clamped to the 1 s floor).
        (5, base + datetime.timedelta(seconds=40), 2, "view", None, None),
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src, dst, cp = (str(tmp_path / d) for d in ("src", "dst", "cp"))
    cut = base + datetime.timedelta(seconds=90)
    df.filter(SF.col("ts") < cut).coalesce(1).write.parquet(f"{src}/p=a")

    def drain_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/p=*")
        )
        q = (
            running_intervals_union(stream)
            .writeStream.foreachBatch(
                lambda b, i: b.withColumn("bid", SF.lit(i))
                .write.mode("append")
                .parquet(dst)
            )
            .option("checkpointLocation", cp)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    drain_once()
    df.filter(SF.col("ts") >= cut).coalesce(1).write.parquet(f"{src}/p=b")
    drain_once()  # same checkpoint: open-island state must resume

    out = spark.read.parquet(dst)
    last_bid = out.groupBy("user_id").agg(SF.max("bid").alias("bid"))
    live = sorted(
        tuple(r)
        for r in out.join(last_bid, ["user_id", "bid"])
        .drop("bid")
        .collect()
    )
    batch = sorted(
        tuple(r) for r in running_intervals_union(df).collect()
    )
    assert live == batch
    as_dict = {r[0]: r[1:] for r in batch}
    # user 1: 4 intervals, 2 islands — events 1-3 merged ACROSS the cut
    # (0..60 ∪ 50..110 ∪ 100..160 = [0, 160)), plus the lone 5 s island:
    # covered 160 + 5, max island 3 events.
    assert as_dict[1] == (4, 2, 160 + 5, 3)
    assert as_dict[2] == (1, 1, 1, 1)


def test_intervals_union_batch_twin_equals_registered_query(spark):
    """The live twin's batch branch and the registered
    window_intervals_merge query must agree on the real corpus — the
    same one-implementation discipline the anomaly twins follow."""
    from jorvik_spark.queries.windows import window_intervals_merge
    from jorvik_spark.streaming.ops import running_intervals_union
    from jorvik_spark.tables import load_table

    reg = {
        r["user_id"]: (
            r["n_intervals"], r["n_islands"],
            r["covered_s"], r["max_island_events"],
        )
        for r in window_intervals_merge(spark, SF_DIR).collect()
    }
    twin = {
        r["user_id"]: (
            r["n_intervals"], r["n_islands"],
            r["covered_s"], r["max_island_events"],
        )
        for r in running_intervals_union(
            load_table(spark, SF_DIR, "events")
        ).collect()
    }
    assert reg == twin and len(reg) > 0


@pytest.mark.usefixtures("few_shuffle_partitions")
def test_running_ohlc_bars_matches_batch_across_restart(spark, tmp_path):
    """The live bar generator must converge to the registered batch
    query's bars, with the OPEN bar surviving a kill: user 1's hour-0
    bar straddles the restart cut, so its final high/close are only
    right if the open-bar state came back from the checkpoint."""
    import datetime

    from pyspark.sql import functions as SF

    from jorvik_spark.queries.windows import window_ohlc_bars
    from jorvik_spark.streaming.ops import running_ohlc_bars

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        # user 1, hour bucket A: open 10, high 30 BEFORE the cut,
        # post-restart events push close to 5 (high must stay 30).
        (1, base, 1, "purchase", 10.0, None),
        (2, base + datetime.timedelta(minutes=5), 1, "purchase", 30.0, None),
        (3, base + datetime.timedelta(minutes=40), 1, "purchase", 20.0, None),
        (4, base + datetime.timedelta(minutes=50), 1, "purchase", 5.0, None),
        # user 1, next hour: a second bar entirely post-restart.
        (5, base + datetime.timedelta(minutes=70), 1, "purchase", 7.5, None),
        # a null value and a non-purchase must be screened identically.
        (6, base + datetime.timedelta(minutes=6), 1, "purchase", None, None),
        (7, base + datetime.timedelta(minutes=7), 1, "view", 99.0, None),
        # user 2: single pre-cut purchase.
        (8, base + datetime.timedelta(minutes=1), 2, "purchase", 1.25, None),
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src, dst, cp = (str(tmp_path / d) for d in ("src", "dst", "cp"))
    cut = base + datetime.timedelta(minutes=30)
    df.filter(SF.col("ts") < cut).coalesce(1).write.parquet(f"{src}/p=a")

    def drain_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/p=*")
        )
        q = (
            running_ohlc_bars(stream)
            .writeStream.foreachBatch(
                lambda b, i: b.withColumn("bid", SF.lit(i))
                .write.mode("append")
                .parquet(dst)
            )
            .option("checkpointLocation", cp)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    drain_once()
    df.filter(SF.col("ts") >= cut).coalesce(1).write.parquet(f"{src}/p=b")
    drain_once()  # same checkpoint: the open bar must resume

    out = spark.read.parquet(dst)
    last = out.groupBy("user_id", "bar_start_us").agg(
        SF.max("bid").alias("bid")
    )
    live = sorted(
        tuple(r)
        for r in out.join(last, ["user_id", "bar_start_us", "bid"])
        .drop("bid")
        .collect()
    )
    batch = sorted(
        (
            r["user_id"],
            int(r["bar_start"].timestamp() * 1_000_000),
            r["open_u"], r["high_u"], r["low_u"], r["close_u"],
            r["n_trades"],
        )
        for r in window_ohlc_bars(
            spark, _flat_events_dir(spark, df, tmp_path)
        ).collect()
    )
    assert live == batch
    bars = {(r[0], r[1]): r[2:] for r in live}
    a_us = int(base.timestamp() * 1_000_000)
    # the straddling bar: open 10, high 30 (pre-kill), close 5 (post)
    assert bars[(1, a_us)] == (
        10_000_000, 30_000_000, 5_000_000, 5_000_000, 4,
    )


def _flat_events_dir(spark, df, tmp_path):
    d = str(tmp_path / "flat")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


def test_running_ohlc_bars_batch_input_delegates_to_window_twin(spark):
    """Batch input must transparently delegate (round-11 ADVICE item:
    the two 'live twin' APIs behave alike) — the delegated plan's rows
    must equal the registered window_ohlc_bars bars exactly, with
    bar_start_us = epoch micros of the registered query's bar_start
    (converted JVM-side via unix_micros, no Python tz round-trip)."""
    from jorvik_spark.queries import QUERIES
    from jorvik_spark.streaming.ops import running_ohlc_bars
    from jorvik_spark.tables import load_table

    got = sorted(
        tuple(r)
        for r in running_ohlc_bars(
            load_table(spark, SF_DIR, "events")
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in QUERIES["window_ohlc_bars"](spark, SF_DIR)
        .select(
            "user_id",
            F.unix_micros("bar_start").alias("bar_start_us"),
            "open_u",
            "high_u",
            "low_u",
            "close_u",
            "n_trades",
        )
        .collect()
    )
    assert got == want and len(got) > 0
