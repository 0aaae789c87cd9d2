"""Event-time streaming transformations.

All functions are stream/batch agnostic (Structured Streaming's unified
DataFrame model): applied to a streaming DataFrame they run incrementally
with state in the checkpoint; applied to a batch DataFrame they compute
the same answer in one pass — which is exactly how the DuckDB oracles in
``jorvik_spark.queries.windows`` verify their semantics
(``stream_tumbling_agg`` / ``stream_session_window`` use these window
expressions verbatim).

Scale notes (100 TB/day stream):
  * Watermarks bound state: without one, windowed state grows forever.
    Every op here takes a ``watermark`` delay and applies it when the
    input is streaming.
  * State lives in the state store keyed by (group, window) — the shuffle
    key. Skewed group keys skew state; pick keys accordingly (or salt and
    re-aggregate downstream).
  * ``applyInPandasWithState`` state must stay small per key (a few
    scalars here); unbounded per-key state is the streaming analogue of a
    driver collect.

Live twins (the ``running_*`` operators)
----------------------------------------
Each ``running_*`` operator is a custom stateful operator with a batch
twin, and the contract is the same for all of them:

* **Batch branch.** A batch input returns the declarative form. Where a
  registered query computes the same per-key stage, the two call one
  function: :func:`anomaly_zscore_flags` here, and ``interval_islands``,
  ``ohlc_bars``, ``flatline_runs``, ``ewma_smooth``, ``lag1_moments``,
  ``holt_smooth`` and ``breakout_scores`` in
  ``jorvik_spark.queries.windows`` (whose ``screened_events`` is also
  the operators' shared row screen).
* **Step function.** A streaming input runs :func:`_live_twin`, the one
  ``applyInPandasWithState`` call in this module. The operator supplies
  only ``step(state, cols) -> (state, rows)``: one key's micro-batch as
  numpy columns in, the new state tuple and the output rows out.
* **Order.** A key's rows reach ``step`` sorted by (ts_us, event_id), a
  NULL id first: the batch windows' order. With in-order delivery across
  micro-batches (the landing-zone discipline), the last emission per key
  (update mode) or every row (append mode) equals the batch branch. Out-of-order arrival
  needs a watermark-buffered sort upstream.
* **Key type.** The grouping key keeps its own Spark type in the output,
  so a string key streams as it batches.
* **State schema.** Per key, a few longs or a bounded ring. The state
  and output schema strings are the checkpoint format: changing one
  stops existing checkpoints from restoring.
"""

from __future__ import annotations

import math
from collections import deque
from typing import Callable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)


def _with_watermark(df: DataFrame, ts_col: str, delay: str | None) -> DataFrame:
    # Batch plans reject withWatermark; same code path must serve both.
    if df.isStreaming and delay:
        return df.withWatermark(ts_col, delay)
    return df


def tumbling_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    keys: Tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window: count + sum per (window, keys).

    Identical expression to the batch-twin ``stream_tumbling_agg`` query,
    whose DuckDB ``time_bucket`` oracle pins the semantics.
    """
    df = _with_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    keys: Tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (hopping) window — each event lands in window/slide buckets."""
    df = _with_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window, slide), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def session_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    keys: Tuple[str, ...] = ("user_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (inactivity gap): merge-on-overlap per-event windows.

    Batch twin: ``stream_session_window`` (gap-and-running-sum oracle).
    """
    df = _with_watermark(df, ts_col, watermark)
    return (
        df.groupBy(*keys, F.session_window(ts_col, gap))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(*keys, "session_start", "session_last", "n_events")
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: Tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Drop duplicate keys arriving within the watermark horizon.

    State holds one entry per key seen in the last ``delay`` — bounded,
    unlike streaming ``dropDuplicates`` whose state never expires. This is
    the at-least-once → effectively-once repair for replayed sources.
    """
    if df.isStreaming:
        return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def _lookback_micros(df: DataFrame, lookback: str) -> int | None:
    """Fixed width of ``INTERVAL {lookback}`` in microseconds, or None
    when no fixed width exists. Evaluated by Spark itself (one literal
    row on the driver) so every interval string Spark accepts — weeks,
    milliseconds, compound forms — keeps working; hand-parsing a unit
    table silently regressed "1 week" callers. Calendar units (month/
    year) have no fixed microsecond width, so they return None and the
    caller falls back to the plain range join.
    """
    try:
        [(us,)] = (
            df.sparkSession.range(1)
            .select(
                F.expr(
                    "unix_micros(timestamp'1970-01-01 00:00:00 UTC'"
                    f" + INTERVAL {lookback})"
                )
            )
            .collect()
        )
        return int(us) if us and us > 0 else None
    except Exception:  # noqa: BLE001 — calendar/unparseable interval
        return None


def _bucketed_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str,
    lookback: str,
    how: str,
    right_within_left: bool = False,
) -> DataFrame:
    """Batch-side interval join with TIME-BUCKETED pair generation.

    A plain equi-key join evaluates every (l, r) pair within each key
    group — quadratic in the group, which a single hot key turns into
    the whole job (measured on the deliberately-skewed 10× stress
    corpus: user 0 holds ~30% of events, ~1e10 candidate pairs for that
    one key, 260 s on one core). Bucketing time into lookback-width
    cells and joining on (key, bucket) — the right side probing its own
    cell and the previous one — bounds pair evaluation to pairs at most
    2×lookback apart, which is within a constant factor of the TRUE
    match set: the hot key's quadratic group becomes many small
    (key, hour) groups spread across the cluster. This is the rewrite
    range-join hints perform in engines that have them.

    A (l, r) pair inside the window satisfies
    ``l.bucket ∈ {r.bucket - 1, r.bucket}`` (bucket width == lookback),
    and each pair can match through exactly ONE probe row (the probes
    sit at distinct buckets) — so the join is duplicate-free and the
    left-outer variant's unmatched set is exact.

    Streaming inputs never take this path: Spark's stream-stream state
    machinery needs the raw time-range condition for watermark-based
    state cleanup, and incremental arrival already amortizes each key's
    pair work across micro-batches.
    """
    us = _lookback_micros(left, lookback)
    if us is None:
        # no fixed bucket width (calendar interval) — plain range join,
        # the pre-bucketing batch behavior
        l = left.alias("l")
        r = right.alias("r")
        if right_within_left:
            cond = (
                f"l.{key} = r.{key} AND "
                f"r.{ts_col} >= l.{ts_col} - INTERVAL {lookback} AND "
                f"r.{ts_col} <= l.{ts_col}"
            )
        else:
            cond = (
                f"l.{key} = r.{key} AND "
                f"l.{ts_col} >= r.{ts_col} - INTERVAL {lookback} AND "
                f"l.{ts_col} <= r.{ts_col}"
            )
        return l.join(r, F.expr(cond), how)
    # Integer div, never float: unix_micros/width as a double rounds at
    # the 53-bit mantissa and a boundary timestamp could land one bucket
    # off; `div` stays exact (timestamps here are post-epoch).
    bucket = F.expr(f"unix_micros({ts_col}) div {us}")
    if right_within_left:
        # pair satisfies r.ts ∈ [l.ts - lookback, l.ts]
        # ⟺ l.bucket ∈ {r.bucket, r.bucket + 1} → right probes (b, b+1)
        probes = F.array(F.col("__b0"), F.col("__b0") + 1)
        cond = (
            f"r.{ts_col} >= l.{ts_col} - INTERVAL {lookback} AND "
            f"r.{ts_col} <= l.{ts_col}"
        )
    else:
        # pair satisfies l.ts ∈ [r.ts - lookback, r.ts]
        # ⟺ l.bucket ∈ {r.bucket - 1, r.bucket} → right probes (b, b-1)
        probes = F.array(F.col("__b0"), F.col("__b0") - 1)
        cond = (
            f"l.{ts_col} >= r.{ts_col} - INTERVAL {lookback} AND "
            f"l.{ts_col} <= r.{ts_col}"
        )
    l = left.withColumn("__bl", bucket).alias("l")
    r = (
        right.withColumn("__b0", bucket)
        .withColumn("__bl", F.explode(probes))
        .drop("__b0")
        .alias("r")
    )
    joined = l.join(
        r,
        F.expr(f"l.{key} = r.{key} AND l.__bl = r.__bl AND {cond}"),
        how,
    )
    return joined.drop("__bl")


def window_unique_users(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    key_col: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window approximate distinct keys — the streamable "hourly
    uniques". EXACT distinct is not streamable (Spark rejects distinct
    aggregates on streams: the state would hold every key per open
    window); the HLL sketch is the standard substitute — fixed-size
    per-window state merged in the state store, bounded by the
    watermark. Batch inputs run the identical expression, and HLL merge
    is order-independent, so stream and batch estimates are EQUAL, not
    merely close — the live test pins equality. The batch-twin query
    ``stream_window_unique_users`` additionally hash-checks the exact
    counts and the estimate's error bound against DuckDB.
    """
    df = _with_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window))
        .agg(
            F.approx_count_distinct(key_col).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "approx_users",
            "n_events",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner interval join: each RIGHT event matches LEFT
    events with the same ``key`` whose time falls in
    ``[right.ts - lookback, right.ts]`` — the attribution shape (clicks
    joined to the purchase they preceded).

    Both inputs need a watermark when streaming: Spark buffers each side
    in state until the other side's watermark passes the join window, so
    state is bounded by ``watermark + lookback`` of data per side — the
    property that lets this run forever. Batch inputs run the identical
    join expression in one pass (the unified model), which is how the
    ``stream_stream_join`` batch twin's DuckDB oracle pins the
    semantics.

    Scale shape: equi-key join (shuffle on ``key``) with the time bound
    as a post-join range predicate per key group — never a cross join.
    At 100 TB/day the state-store shuffle partitions the same way, and a
    skewed key (one bot user) skews state: pre-filter or salt such keys.
    """
    if not (left.isStreaming or right.isStreaming):
        return _bucketed_interval_join(
            left, right, key, ts_col, lookback, "inner"
        )
    l = _with_watermark(left, ts_col, watermark).alias("l")
    r = _with_watermark(right, ts_col, watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND "
            f"l.{ts_col} >= r.{ts_col} - INTERVAL {lookback} AND "
            f"l.{ts_col} <= r.{ts_col}"
        ),
    )


def interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every LEFT event is kept;
    RIGHT events match when they share ``key`` and fall in
    ``[left.ts - lookback, left.ts]``. The attribution-COVERAGE shape:
    :func:`interval_join` answers "which click drove this purchase";
    this answers "which purchases have NO attributable click" — the rows
    the inner join silently drops and a funnel report needs most.

    Outer stream-stream joins are where watermarks stop being an
    optimization and become semantics: an unmatched LEFT row can only be
    EMITTED (null-padded) once the right side's watermark has passed its
    join window — before that, a matching right event might still
    arrive. Batch inputs run the identical left join in one pass, which
    is how the batch twin's DuckDB oracle pins the semantics.

    Scale shape: same equi-key shuffle + per-key range predicate as the
    inner form; state bounded by ``watermark + lookback`` per side.
    """
    if not (left.isStreaming or right.isStreaming):
        # same bucket geometry with the window anchored on the KEPT
        # left side (right matches within [l.ts - lookback, l.ts]);
        # aliases keep the caller orientation l = kept, r = matched.
        return _bucketed_interval_join(
            left, right, key, ts_col, lookback, "leftOuter",
            right_within_left=True,
        )
    l = _with_watermark(left, ts_col, watermark).alias("l")
    r = _with_watermark(right, ts_col, watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND "
            f"r.{ts_col} >= l.{ts_col} - INTERVAL {lookback} AND "
            f"r.{ts_col} <= l.{ts_col}"
        ),
        "leftOuter",
    )


# An ``out_schema`` type → the nullable pandas dtype that carries it.
_PD_DTYPES = {
    "long": "Int64",
    "int": "Int32",
    "double": "Float64",
    "boolean": "boolean",
}

# step(state, cols) -> (state, rows); see the module docstring.
Step = Callable[[tuple, dict], Tuple[tuple, list]]


def _live_twin(
    filtered: DataFrame,
    key_col: str,
    step: Step,
    out_schema: str,
    state_schema: str,
    init: tuple,
    mode: str = "update",
) -> DataFrame:
    """The streaming half of every ``running_*`` operator: one
    ``applyInPandasWithState`` over ``filtered`` grouped by ``key_col``.

    Per key and micro-batch it reads the state (``init`` for a new key),
    concatenates the key's Arrow chunks, sorts them once by
    (ts_us, event_id) when the projection carries ``ts_us`` (the totals
    are order-free; a NULL id sorts first, as in the batch windows), and
    calls ``step`` with one numpy array per input column. ``event_id``
    crosses as a non-null long plus a null flag, since pandas would carry
    a long column holding a NULL as float64 and round ids >= 2^53; a NULL
    id reaches ``step`` as None in an object array. It stores the state
    ``step`` returns and emits its rows (tuples in ``out_schema`` order)
    behind the key, which keeps its own Spark type; each ``out_schema``
    column is a nullable pandas dtype.
    """
    names, types = zip(*(f.split() for f in out_schema.split(",")))
    dtypes = [_PD_DTYPES[t] for t in types]
    if "event_id" in filtered.columns:
        filtered = filtered.withColumns({
            "event_id": F.coalesce("event_id", F.lit(0)),
            "_id_null": F.col("event_id").isNull(),
        })

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdfs = list(pdfs)
        pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        if "ts_us" in cols:
            order = np.lexsort((cols["event_id"], ~cols["_id_null"], cols["ts_us"]))
            cols = {c: v[order] for c, v in cols.items()}
        null_id = cols.pop("_id_null", None)
        if null_id is not None and null_id.any():
            cols["event_id"] = cols["event_id"].astype(object)
            cols["event_id"][null_id] = None
        new_state, rows = step(state.get if state.exists else init, cols)
        state.update(new_state)
        if rows:
            out = {key_col: [key[0]] * len(rows)}
            for name, dtype, col in zip(names, dtypes, zip(*rows)):
                out[name] = pd.array(list(col), dtype=dtype)
            yield pd.DataFrame(out)

    key_type = filtered.schema[key_col].dataType.simpleString()
    return filtered.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} {key_type}, {out_schema}",
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _totals_step(col: str, total: Callable[[np.ndarray], float]) -> Step:
    """Step of the running totals: state (n, total, n_nonnull) with SQL
    SUM semantics — nulls are skipped and the total stays NULL until a
    non-null value arrives (a NaN-skipping sum would say 0)."""

    def step(st: tuple, cols: dict) -> tuple:
        n, acc, n_nonnull = st
        vals = cols[col][~pd.isna(cols[col])]
        n, n_nonnull = n + len(cols[col]), n_nonnull + len(vals)
        acc += total(vals)
        return (n, acc, n_nonnull), [(n, acc if n_nonnull else None)]

    return step


def running_user_totals(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running (n_events, total_value), re-emitted each
    micro-batch — the canonical custom stateful shape (per-key counters,
    custom sessionization, CDC conflation). The float total depends on
    arrival order in its last bits; :func:`running_user_totals_fixedpoint`
    is the exact form. Batch twin: the one-shot groupBy aggregate.
    """
    if not df.isStreaming:
        return df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
    return _live_twin(
        df.select(key_col, value_col),
        key_col,
        _totals_step(value_col, lambda v: float(v.sum())),
        "n_events long, total_value double",
        "n long, total double, n_nonnull long",
        (0, 0.0, 0),
    )


def running_user_totals_fixedpoint(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """:func:`running_user_totals` with the sum carried in exact integer
    micro-units (``total_u``, the registry ``units`` quantization summed
    as integers) instead of a float, so the total is independent of
    arrival order and partitioning, and hash-comparable with a batch SQL
    twin (``stream_stateful_running_totals``). The Python state total is
    unbounded; the emitted long holds any total below 9.2e12 value
    units, the ceiling every dsum consumer documents.
    """
    from jorvik_spark.queries.registry import units

    if not df.isStreaming:
        return df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(units(value_col)).alias("total_u"),
        )
    return _live_twin(
        df.select(key_col, units(value_col).alias("vu")),
        key_col,
        _totals_step("vu", lambda v: int(v.astype("int64").sum())),
        "n_events long, total_u long",
        "n long, total_u long, n_nonnull long",
        (0, 0, 0),
    )


def anomaly_zscore_flags(filtered: DataFrame, key_col: str) -> DataFrame:
    """THE batch 3σ predicate — single implementation shared by the
    registered query ``window_anomaly_zscore`` and the batch branch of
    :func:`running_anomaly_zscore`, so the formula cannot drift between
    them (it did once: an extra ·n factor made the batch threshold
    3·√n·σ — caught in round-10 review).

    Input: (key_col, event_id, ts, vu) with nulls pre-screened. Per key,
    an event flags when it deviates from its trailing ≤ 8-value baseline
    by more than 3σ: with S = Σv, Q = Σv² over the frame,
    σ² = (n·Q − S²)/n², so |x − S/n| > 3σ ⟺ (n·x − S)² > 9·(n·Q − S²)
    — exact integer arithmetic end to end (a float rolling std drifts
    with summation order). Windows shorter than 4 prior events abstain.

    One window pass: the three frame aggregates share the key-ordered
    sort/exchange; the filter evaluates in whole-stage codegen. v² at
    1e6 quantization stays within DECIMAL(38,0) (~2^96 headroom).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy("ts", "event_id")
        .rowsBetween(-8, -1)
    )
    framed = filtered.select(
        key_col,
        "event_id",
        "ts",
        "vu",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("vu").cast("decimal(38,0)")).over(w).alias("s"),
        F.sum(
            (F.col("vu").cast("decimal(38,0)") * F.col("vu")).cast(
                "decimal(38,0)"
            )
        )
        .over(w)
        .alias("q"),
    )
    return framed.filter(
        (F.col("n") >= 4)
        & (
            F.expr(
                "(n * CAST(vu AS DECIMAL(38,0)) - s) * "
                "(n * CAST(vu AS DECIMAL(38,0)) - s)"
            )
            > F.expr("9 * (n * q - s * s)")
        )
    ).select(
        key_col,
        "event_id",
        "ts",
        F.col("vu").alias("value_units"),
        F.col("n").cast("long").alias("n_prior"),
    )


def running_anomaly_zscore(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Online 3σ anomaly flags, the live twin of
    :func:`anomaly_zscore_flags` (registered as ``window_anomaly_zscore``):
    each event is tested against the trailing ≤ 8 earlier quantized
    values of its key with the exact identity
    ``(n·x − S)² > 9·(n·Q − S²)``, and flagged rows are emitted as they
    are detected. State: the ring of ≤ 8 micro-unit longs.

    Unlike the other twins it screens only null ts/values: the caller
    picks the monitored population (the registered query passes purchase
    events; pass the same filter for live-vs-batch equality).
    """
    from jorvik_spark.queries.registry import units

    filtered = df.filter(
        F.col("ts").isNotNull() & F.col(value_col).isNotNull()
    ).select(
        key_col,
        "event_id",
        "ts",
        F.unix_micros("ts").alias("ts_us"),
        units(value_col).alias("vu"),
    )
    if not df.isStreaming:
        return anomaly_zscore_flags(filtered, key_col).drop("ts")

    def step(st: tuple, cols: dict) -> tuple:
        ring, out = deque(st[0], maxlen=8), []
        for eid, x in zip(cols["event_id"].tolist(), cols["vu"].tolist()):
            n = len(ring)
            if n >= 4:
                s, q = sum(ring), sum(v * v for v in ring)
                if (n * x - s) ** 2 > 9 * (n * q - s * s):
                    out.append((eid, x, n))
            ring.append(x)
        return (list(ring),), out

    return _live_twin(
        filtered.drop("ts"),
        key_col,
        step,
        "event_id long, value_units long, n_prior long",
        "vals array<long>",
        ([],),
    )


class _ActivityProcessor(StatefulProcessor):
    """Per-key activity state for :func:`user_activity_summary`.

    ValueState holds (n, total, n_nonnull, last_us); every micro-batch
    folds its rows in and emits the updated summary row for each key
    seen. SQL SUM semantics are preserved the same way as
    ``running_user_totals``: nulls are skipped and the total stays NULL
    until a non-null value arrives. The key column keeps the CALLER'S
    name (the output schema carries its type — see the key-type note in
    ``running_user_totals``).
    """

    def __init__(self, key_col: str) -> None:
        self._key_col = key_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "activity", "n long, total double, n_nonnull long, last_us long"
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        n, total, n_nonnull, last_us = (
            self._state.get() if self._state.exists() else (0, 0.0, 0, None)
        )
        for pdf in rows:
            n += len(pdf)
            vals = pdf["value"].dropna()
            n_nonnull += len(vals)
            total += float(vals.sum()) if len(vals) else 0.0
            ts_us = pd.to_datetime(pdf["ts"].dropna()).astype("int64") // 1000
            if len(ts_us):
                mx = int(ts_us.max())
                last_us = mx if last_us is None else max(last_us, mx)
        self._state.update((n, total, n_nonnull, last_us))
        yield pd.DataFrame(
            {
                self._key_col: [key[0]],
                "n_events": [n],
                "total_value": [total if n_nonnull else None],
                "last_ts": [
                    pd.Timestamp(last_us, unit="us")
                    if last_us is not None
                    else pd.NaT
                ],
            }
        )

    def close(self) -> None:
        pass


def user_activity_summary(
    df: DataFrame, key_col: str = "user_id"
) -> DataFrame:
    """Per-user running activity summary via ``transformWithStateInPandas``
    — Spark 4's arbitrary-state API (the successor of
    ``applyInPandasWithState``, cf. :func:`running_user_totals`): typed
    state handles (ValueState here; List/MapState and timers available),
    explicit time modes, and state-schema evolution support.

    Emits (user_id, n_events, total_value, last_ts) per key per
    micro-batch in update mode. State is one small tuple per key — at
    100 TB/day the state store shards on the group key like any shuffle;
    give hot keys the same salting treatment as batch aggregations.
    Batch inputs get the equivalent one-shot aggregate (unified model),
    which is also what the live test compares the stream against.

    Environment gate: the transformWithState driver worker requires the
    ``protobuf`` package (state-schema RPC); without it Spark crashes
    the streaming query with an opaque worker error, so the STREAMING
    branch fails fast here with the actionable message instead. The
    batch branch has no such dependency. ``applyInPandasWithState``
    (:func:`running_user_totals`) remains the protobuf-free stateful
    path.
    """
    if df.isStreaming:
        try:
            from google.protobuf import descriptor  # noqa: F401
        except ImportError as e:
            raise ImportError(
                "transformWithStateInPandas requires the 'protobuf' "
                "package in the Python workers (pip install protobuf); "
                "use running_user_totals (applyInPandasWithState) where "
                "protobuf is unavailable."
            ) from e
    if not df.isStreaming:
        return df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
    # The grouping key keeps ITS OWN type in the output schema, exactly
    # as running_user_totals does — a hardcoded type would crash the
    # Arrow conversion for non-long keys in the streaming branch only.
    key_type = df.schema[key_col].dataType.simpleString()
    return df.groupBy(key_col).transformWithStateInPandas(
        _ActivityProcessor(key_col),
        outputStructType=(
            f"{key_col} {key_type}, n_events long, total_value double, "
            "last_ts timestamp"
        ),
        outputMode="Update",
        timeMode="None",
    )


def running_intervals_union(
    df: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Online interval union, the live twin of ``window_intervals_merge``:
    per key, the intervals [ts, ts + clamp(value s)] merge into islands
    as they arrive, and each micro-batch re-emits the key's
    (n_intervals, n_islands, covered_s, max_island_events) — the
    occupancy/billing counter a dashboard reads instead of re-scanning
    history. State: the interval and closed-island counts, the closed
    islands' covered µs and largest event count, and the open island's
    (start, max_end, n_events), -1 while there is none.
    """
    from jorvik_spark.queries.windows import interval_events, interval_islands

    filtered = interval_events(df, key_col)
    if not df.isStreaming:
        return interval_islands(filtered, key_col)

    def step(st: tuple, cols: dict) -> tuple:
        n_iv, n_closed, cov_closed, max_ev, cur_s, cur_e, cur_n = st
        for s, e in zip(cols["ts_us"].tolist(), cols["end_us"].tolist()):
            n_iv += 1
            if cur_n > 0 and s <= cur_e:
                cur_e, cur_n = max(cur_e, e), cur_n + 1
                continue
            if cur_n > 0:
                n_closed += 1
                cov_closed += cur_e - cur_s
                max_ev = max(max_ev, cur_n)
            cur_s, cur_e, cur_n = s, e, 1
        open_cov = cur_e - cur_s if cur_n > 0 else 0
        report = (
            n_iv,
            n_closed + (cur_n > 0),
            (cov_closed + open_cov) // 1_000_000,
            max(max_ev, cur_n, 0),
        )
        return (n_iv, n_closed, cov_closed, max_ev, cur_s, cur_e, cur_n), [
            report
        ]

    return _live_twin(
        filtered,
        key_col,
        step,
        "n_intervals long, n_islands long, covered_s long, "
        "max_island_events long",
        "n_iv long, n_closed long, cov_closed long, max_ev long, "
        "cur_s long, cur_e long, cur_n long",
        (0, 0, 0, 0, -1, -1, -1),
    )


def running_ohlc_bars(
    df: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Online hourly OHLC bars, the live twin of ``window_ohlc_bars``:
    every bar a micro-batch touches is re-emitted with its updated
    (open_u, high_u, low_u, close_u, n_trades), so the last emission per
    (key, bar_start_us) is the bar's final value. State: the one open
    bar (bucket, o, h, lo, c, n) — with in-order delivery a bar never
    reopens once a later one starts. Both branches emit ``bar_start_us``
    (epoch µs) where the registered query emits a ``bar_start``
    timestamp.
    """
    from jorvik_spark.queries.windows import (
        _OHLC_BUCKET_US,
        ohlc_bars,
        screened_events,
    )

    filtered = screened_events(df, key_col, key=False)
    if not df.isStreaming:
        return ohlc_bars(filtered, key_col).select(
            key_col,
            (F.col("bucket") * F.lit(_OHLC_BUCKET_US))
            .cast("long")
            .alias("bar_start_us"),
            "open_u",
            "high_u",
            "low_u",
            "close_u",
            "n_trades",
        )

    def step(st: tuple, cols: dict) -> tuple:
        bucket, *bar = st
        touched = {}
        for t, x in zip(cols["ts_us"].tolist(), cols["vu"].tolist()):
            b = t // _OHLC_BUCKET_US
            if b == bucket:
                o, h, lo, _, n = bar
                bar = (o, max(h, x), min(lo, x), x, n + 1)
                continue
            if bucket >= 0:
                touched[bucket] = bar
            bucket, bar = b, (x, x, x, x, 1)
        if bucket >= 0:
            touched[bucket] = bar
        return (bucket, *bar), [
            (b * _OHLC_BUCKET_US, *touched[b]) for b in sorted(touched)
        ]

    return _live_twin(
        filtered,
        key_col,
        step,
        "bar_start_us long, open_u long, high_u long, low_u long, "
        "close_u long, n_trades long",
        "bucket long, o long, h long, lo long, c long, n long",
        (-1, 0, 0, 0, 0, 0),
    )


_CUSUM_BASELINE_N = 8  # in-control training events per key


def running_cusum_changepoints(
    df: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Online one-sided CUSUM, the live sibling of
    ``window_cusum_changepoints``: per key, the first _CUSUM_BASELINE_N
    purchase values freeze the in-control mean μ, then each later event
    advances S = max(0, S + (x − μ)), and once S exceeds h the key's
    (first_exceed_pos, first_exceed_event, max_cusum) is re-emitted
    each micro-batch. Positions count monitored events (1 = the first
    after the baseline). State: the baseline ring, μ, S, max S, the
    position and the first crossing (-1 until one).

    It differs from the registered query in one way: Page's CUSUM
    monitors against a known in-control level, while the query's
    whole-history mean is unknowable mid-stream. The batch branch
    computes the same frozen-baseline semantics declaratively (prefix
    sum minus running minimum over the monitored suffix).
    """
    from pyspark.sql import Window

    from jorvik_spark.queries.windows import _CUSUM_H_U, screened_events

    filtered = screened_events(df, key_col, key=False)
    if not df.isStreaming:
        order_w = Window.partitionBy(key_col).orderBy("ts_us", "event_id")
        pos = filtered.withColumn("j", F.row_number().over(order_w))
        base = (
            pos.filter(F.col("j") <= _CUSUM_BASELINE_N)
            .groupBy(key_col)
            .agg(
                F.expr("SUM(vu) div COUNT(1)").alias("mu_u"),
                F.count(F.lit(1)).alias("nb"),
            )
            .filter(F.col("nb") == _CUSUM_BASELINE_N)
            .select(key_col, "mu_u")
        )
        mon = (
            pos.filter(F.col("j") > _CUSUM_BASELINE_N)
            .join(base, key_col)
            .withColumn("i", F.col("j") - F.lit(_CUSUM_BASELINE_N))
        )
        w_cum = (
            Window.partitionBy(key_col)
            .orderBy("i")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_prev = (
            Window.partitionBy(key_col)
            .orderBy("i")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        t = mon.withColumn(
            "tail_i", F.sum(F.col("vu") - F.col("mu_u")).over(w_cum)
        )
        s = t.withColumn(
            "cusum",
            F.col("tail_i")
            - F.least(
                F.coalesce(F.min("tail_i").over(w_prev), F.lit(0)),
                F.lit(0),
            ),
        )
        return (
            s.filter(F.col("cusum") > _CUSUM_H_U)
            .groupBy(key_col)
            .agg(
                F.min("i").cast("long").alias("first_exceed_pos"),
                F.expr("CAST(MIN_BY(event_id, i) AS BIGINT)").alias(
                    "first_exceed_event"
                ),
                F.max("cusum").cast("long").alias("max_cusum"),
            )
        )

    def step(st: tuple, cols: dict) -> tuple:
        ring, mu, s_cur, s_max, pos, f_pos, f_ev = st
        ring = list(ring)
        for eid, x in zip(cols["event_id"].tolist(), cols["vu"].tolist()):
            if len(ring) < _CUSUM_BASELINE_N:
                ring.append(x)
                if len(ring) == _CUSUM_BASELINE_N:
                    # Python // floors; Spark div truncates — baseline
                    # sums of non-negative micro-units keep them equal.
                    mu = sum(ring) // _CUSUM_BASELINE_N
                continue
            pos += 1
            s_cur = max(0, s_cur + (x - mu))
            s_max = max(s_max, s_cur)
            if f_pos < 0 and s_cur > _CUSUM_H_U:
                f_pos, f_ev = pos, eid
        report = [(f_pos, f_ev, s_max)] if f_pos >= 0 else []
        return (ring, mu, s_cur, s_max, pos, f_pos, f_ev), report

    return _live_twin(
        filtered,
        key_col,
        step,
        "first_exceed_pos long, first_exceed_event long, max_cusum long",
        "ring array<long>, mu long, s_cur long, s_max long, "
        "pos long, f_pos long, f_ev long",
        ([], 0, 0, 0, 0, -1, -1),
    )


def running_flatline_runs(
    df: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Online flatline (stuck-value) detector, the live twin of
    ``window_flatline_runs``: per key, runs of ≥ _FLATLINE_MIN_RUN
    consecutive equal purchase values add up to (n_flatline_runs,
    longest_run, n_flatlined_events), re-emitted each micro-batch for
    keys with a qualifying run. State: the current run's value and
    length, and the closed qualifying runs' count, longest and event
    total. The open run counts in the emission as soon as it qualifies
    (as in the batch query) but joins the closed totals only when a
    different value arrives, so no run counts twice.
    """
    from jorvik_spark.queries.windows import (
        _FLATLINE_MIN_RUN,
        flatline_runs,
        screened_events,
    )

    filtered = screened_events(df, key_col)
    if not df.isStreaming:
        return flatline_runs(filtered, key_col)

    def close(n_runs: int, longest: int, flat_ev: int, run: int) -> tuple:
        if run < _FLATLINE_MIN_RUN:
            return n_runs, longest, flat_ev
        return n_runs + 1, max(longest, run), flat_ev + run

    def step(st: tuple, cols: dict) -> tuple:
        cur_vu, cur_len, *closed = st
        for x in cols["vu"].tolist():
            if cur_len > 0 and x == cur_vu:
                cur_len += 1
            else:
                closed = close(*closed, cur_len)
                cur_vu, cur_len = x, 1
        report = close(*closed, cur_len)
        return (cur_vu, cur_len, *closed), [report] if report[0] else []

    return _live_twin(
        filtered,
        key_col,
        step,
        "n_flatline_runs long, longest_run long, n_flatlined_events long",
        "cur_vu long, cur_len long, n_runs long, longest long, "
        "flat_ev long",
        (0, 0, 0, 0, 0),
    )


def suggest_watermark(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    arrival_col: str = "event_id",
    coverage_ppm: int = 999_000,
) -> str:
    """Watermark sizing from MEASURED out-of-orderness — the consumer of
    the ``audit_event_lateness`` census (round-12 verdict item #8: the
    census existed as evidence, nothing read it).

    Computes the census's lateness histogram over ``df`` (how late each
    event's event-time is vs the newest event-time already seen on its
    key's stream, arrival order = ``arrival_col``, bucketed by
    bit-length octave — the identical quantization, predicates and
    tie-breaks as ``jorvik_spark.queries.audits.audit_event_lateness``,
    pinned by tests/test_round13_ops.py), then returns the smallest
    octave-edge delay that covers at least ``coverage_ppm`` of events,
    as a Spark interval string ready for ``withWatermark`` /
    ``interval_join(lookback=...)`` / ``dedup_within_watermark``.

    Octave edges mean the suggestion is at most 2x the exact quantile —
    the honest resolution of the census — and NEVER under it: a
    watermark below the observed tail silently DROPS those events,
    while one octave of slack merely holds state a little longer. In-
    order streams (everything in bucket 0) suggest "0 seconds".

    Driver-side cost: ONE bounded collect of the <= ~40 octave rows
    (the same bounded-collect discipline as the BPE argmax and the IVF
    cell guard); the heavy lifting is the census's single key-sorted
    exchange. Run it on a recent static slice of the stream's table —
    sizing belongs to deploy time, not per-batch time.
    """
    from pyspark.sql import Window

    from jorvik_spark.queries.registry import octave

    ev = (
        df.filter(F.col(ts).isNotNull())
        .select(
            F.col(key).alias("k"),
            F.col(arrival_col).alias("seq"),
            F.unix_micros(F.col(ts)).alias("t"),
        )
    )
    w = (
        Window.partitionBy("k")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = ev.withColumn("mx", F.max("t").over(w)).withColumn(
        "late_s", F.expr("CAST((mx - t) div 1000000 AS BIGINT)")
    )
    bits = octave("late_s")
    hist = sorted(
        (
            (r["b"], r["n"])
            for r in late.groupBy(bits.alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: <= ~40 octave rows
        ),
    )
    total = sum(n for _, n in hist)
    if total == 0:
        return "0 seconds"
    # smallest octave whose cumulative coverage clears the target
    need = -(-total * coverage_ppm // 1_000_000)  # ceil div
    cum = 0
    for b, n in hist:
        cum += n
        if cum >= need:
            return "0 seconds" if b == 0 else f"{2 ** b - 1} seconds"
    return f"{2 ** hist[-1][0] - 1} seconds"  # unreachable; total covers


def _frame_step(frame: int, fold: Callable[[deque], tuple]) -> Step:
    """Step of the frame-fold twins (EWMA, Holt): per event, push the
    value into the ring of the last ``frame`` + 1 values and emit
    (event_id, t, n_in_frame, *fold(ring)). The ring IS the batch
    window's frame, so replaying a batch recomputes the same folds."""

    def step(st: tuple, cols: dict) -> tuple:
        ring, out = deque(st[0], maxlen=frame + 1), []
        for eid, t, x in zip(
            cols["event_id"].tolist(),
            cols["ts_us"].tolist(),
            cols["vu"].tolist(),
        ):
            ring.append(x)
            out.append((eid, t, len(ring), *fold(ring)))
        return (list(ring),), out

    return step


def running_ewma(
    df: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Online EWMA, the live twin of ``window_ewma_smooth``: one row per
    purchase event with the exponentially weighted average of its frame
    (the last _EWMA_FRAME values and itself), folded left from the frame
    head with the same double operations as the batch ``F.aggregate``,
    so ``ewma_u`` agrees bit for bit. State: the ≤ _EWMA_FRAME + 1-value
    ring.
    """
    from jorvik_spark.queries.windows import (
        _EWMA_ALPHA,
        _EWMA_FRAME,
        ewma_smooth,
        screened_events,
    )

    filtered = screened_events(df, key_col, vu_type="double")
    if not df.isStreaming:
        return ewma_smooth(filtered, key_col)

    def fold(ring: deque) -> tuple:
        first, *rest = ring
        acc = first
        for x in rest:
            acc = acc * (1 - _EWMA_ALPHA) + x * _EWMA_ALPHA
        return (math.floor(acc + 0.5),)

    return _live_twin(
        filtered,
        key_col,
        _frame_step(_EWMA_FRAME, fold),
        "event_id long, t long, n_in_frame int, ewma_u long",
        "ring array<double>",
        ([],),
        mode="append",
    )


# Split base for carrying >int64 exact integer sums through the Arrow
# state schema as (hi, lo) long pairs: v == hi * 2**60 + lo, 0 <= lo <
# 2**60 (Python divmod semantics make this exact for negatives too).
# Bounds: |v| < 2**123 — far past the DECIMAL(38,0) ceiling the batch
# twin's product sums live under.
_HILO_BASE = 1 << 60


def running_autocorr(
    df: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Online lag-1 autocorrelation, the live twin of the per-key moment
    stage of ``window_autocorr_census``: each micro-batch re-emits the
    key's (n_pairs, r_u), the Pearson correlation of consecutive
    purchase values so far in micro-units — NULL below 3 pairs or with a
    zero-variance side, the census's declared semantics.

    State: exact integer moments — the value count, the previous, first
    and second values, two any-value-differs flags (the batch MIN≠MAX
    guard), Σx, Σy, and the three product sums as (hi, lo) long pairs
    split at 2^60 (they overflow int64 at natural data; the batch form
    holds them in DECIMAL(38,0)). ``r_u`` is the batch form's fixed dag
    of double operations on those integers, so the two agree bit for
    bit.
    """
    from jorvik_spark.queries.registry import units
    from jorvik_spark.queries.windows import lag1_moments, screened_events

    filtered = screened_events(df, key_col)
    if not df.isStreaming:
        return lag1_moments(filtered, key_col).select(
            key_col,
            F.col("n").cast("long").alias("n_pairs"),
            units("r1").alias("r_u"),
        )

    def step(st: tuple, cols: dict) -> tuple:
        nv, prev, v0, v1, dx, dy, sx, sy, *hilo = st
        sxy, sxx, syy = (
            hi * _HILO_BASE + lo for hi, lo in zip(hilo[::2], hilo[1::2])
        )
        for cur in cols["vu"].tolist():
            if nv == 0:
                v0 = cur
            elif nv == 1:
                v1 = cur
            if nv >= 1:
                # pair (prev -> cur): x-series gains prev, y gains cur
                dx |= prev != v0
                dy |= nv >= 2 and cur != v1
                sx += prev
                sy += cur
                sxy += prev * cur
                sxx += prev * prev
                syy += cur * cur
            prev, nv = cur, nv + 1
        n, r_u = nv - 1, None
        if n >= 3 and dx and dy:
            num = float(n) * float(sxy) - float(sx) * float(sy)
            den = math.sqrt(
                (float(n) * float(sxx) - float(sx) * float(sx))
                * (float(n) * float(syy) - float(sy) * float(sy))
            )
            r_u = math.floor(num / den * 1_000_000 + 0.5)
        hilo = [p for v in (sxy, sxx, syy) for p in divmod(v, _HILO_BASE)]
        return (nv, prev, v0, v1, dx, dy, sx, sy, *hilo), [(n, r_u)]

    return _live_twin(
        filtered,
        key_col,
        step,
        "n_pairs long, r_u long",
        "nv long, prev long, v0 long, v1 long, dx long, dy long,"
        " sx long, sy long, sxy_hi long, sxy_lo long,"
        " sxx_hi long, sxx_lo long, syy_hi long, syy_lo long",
        (0,) * 14,
    )


def running_holt(
    df: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Online Holt level+trend smoother, the live twin of
    ``window_holt_smooth``: per purchase event, the (level, trend) left
    fold over its frame (level = first value, trend = 0 at the frame
    head) with the batch 2-element accumulator's double operations, so
    level_u/trend_u/forecast_u agree bit for bit. State: the
    ≤ _HOLT_FRAME + 1-value ring.
    """
    from jorvik_spark.queries.windows import (
        _HOLT_ALPHA,
        _HOLT_BETA,
        _HOLT_FRAME,
        holt_smooth,
        screened_events,
    )

    filtered = screened_events(df, key_col, vu_type="double")
    if not df.isStreaming:
        return holt_smooth(filtered, key_col)

    def fold(ring: deque) -> tuple:
        lvl, *rest = ring
        trd = 0.0
        for x in rest:
            new_l = x * _HOLT_ALPHA + (lvl + trd) * (1 - _HOLT_ALPHA)
            trd = (new_l - lvl) * _HOLT_BETA + trd * (1 - _HOLT_BETA)
            lvl = new_l
        return (
            math.floor(lvl + 0.5),
            math.floor(trd + 0.5),
            math.floor(lvl + trd + 0.5),
        )

    return _live_twin(
        filtered,
        key_col,
        _frame_step(_HOLT_FRAME, fold),
        "event_id long, t long, n_in_frame int,"
        " level_u long, trend_u long, forecast_u long",
        "ring array<double>",
        ([],),
        mode="append",
    )


def running_churn(
    df: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Online per-key inactivity tracker, the live sibling of
    ``audit_user_churn_census``: per event, the gap to the key's
    previous event and the running maximum gap. The census's churn ratio
    is one expression over each key's latest row (open silence ÷
    max_hist_gap_us). State: (last event µs, max gap µs), the max gap
    -1 for a key with one event and no gap yet.
    """
    from jorvik_spark.queries.windows import screened_events

    filtered = screened_events(df, key_col, value=False, purchase=False)
    if not df.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy(key_col).orderBy("ts_us", "event_id")
        gap = F.col("ts_us") - F.lag("ts_us").over(w)
        run = Window.partitionBy(key_col).orderBy("ts_us", "event_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            filtered.withColumn("gap_us", gap)
            .withColumn("max_hist_gap_us", F.max("gap_us").over(run))
            .select(
                key_col,
                "event_id",
                F.col("ts_us").cast("long").alias("t"),
                F.col("gap_us").cast("long"),
                F.col("max_hist_gap_us").cast("long"),
            )
        )

    def step(st: tuple, cols: dict) -> tuple:
        last_t, maxg = st
        maxg, out = None if maxg == -1 else maxg, []
        for eid, t in zip(cols["event_id"].tolist(), cols["ts_us"].tolist()):
            gap = None if last_t is None else t - last_t
            if gap is not None and (maxg is None or gap > maxg):
                maxg = gap
            out.append((eid, t, gap, maxg))
            last_t = t
        return (last_t, -1 if maxg is None else maxg), out

    return _live_twin(
        filtered,
        key_col,
        step,
        "event_id long, t long, gap_us long, max_hist_gap_us long",
        "last_t long, maxg long",
        (None, -1),
        mode="append",
    )


def running_breakout(
    df: DataFrame,
    key_col: str = "user_id",
    lookback: int = 8,
) -> DataFrame:
    """Online rolling-max breakout detector, the live twin of the
    per-event stage of ``window_breakout_census``: per event, the max of
    the key's previous ≤ ``lookback`` micro-unit values (``prev_max_u``)
    and whether this value strictly exceeds it (a new recent high); the
    census's per-user breakout counts are a plain aggregate over these
    rows. State: the ring of ≤ ``lookback`` values.
    """
    from jorvik_spark.queries.windows import breakout_scores, screened_events

    filtered = screened_events(df, key_col, purchase=False)
    if not df.isStreaming:
        return breakout_scores(filtered, key_col, lookback)

    def step(st: tuple, cols: dict) -> tuple:
        ring, out = deque(st[0], maxlen=lookback), []
        for eid, t, x in zip(
            cols["event_id"].tolist(),
            cols["ts_us"].tolist(),
            cols["vu"].tolist(),
        ):
            pm = max(ring) if ring else None
            out.append((eid, t, x, pm, pm is not None and x > pm))
            ring.append(x)
        return (list(ring),), out

    return _live_twin(
        filtered,
        key_col,
        step,
        "event_id long, t long, vu long, prev_max_u long, is_breakout boolean",
        "ring array<bigint>",
        ([],),
        mode="append",
    )
