"""Round-16 operator tests.

Behavior pins for the operators added this round: the Pareto revenue-
concentration census, the FK fan-out census, the rolling-max breakout
census (+ its live twin), the co-occurrence lift top-k, the source-
interleave training order, the power-iteration PC1, and the int8
recall eval.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import pandas as pd
import pytest

from jorvik_spark.queries import QUERIES


def _write_events(spark, d, rows):
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, schema).write.parquet(f"{d}/events.parquet")


def _write_orders(d, rows):
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        rows,
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ],
    ).astype({"o_orderdate": "datetime64[us]"}).to_parquet(
        f"{d}/orders.parquet"
    )


def test_pareto_share_census_concentration(spark, tmp_path):
    """Customers with lifetime revenues 1, 1, 2, 100: bands are the bit
    lengths (1, 1, 2, 7), and the top-down cumulative shares are exact
    truncating ppm of the 104-unit total."""
    B = datetime.datetime(2024, 5, 1)
    rows = [
        (1, 10, "O", 1.0, B, "1-URGENT"),
        (2, 11, "O", 0.6, B, "1-URGENT"),
        (3, 11, "O", 0.4, B, "1-URGENT"),  # customer 11 totals 1.0
        (4, 12, "O", 2.0, B, "1-URGENT"),
        (5, 13, "O", 100.0, B, "1-URGENT"),
        (6, 14, "O", None, B, "1-URGENT"),  # null price: out of scope
    ]
    d = str(tmp_path / "pareto")
    _write_orders(d, rows)
    got = {
        r["rev_band"]: (r["n_customers"], r["band_rev_units"],
                        r["top_share_ppm"])
        for r in QUERIES["agg_pareto_share_census"](spark, d).collect()
    }
    total = 104_000_000  # micro-units
    assert got[7] == (1, 100, 100_000_000 * 1_000_000 // total)
    assert got[2] == (1, 2, 102_000_000 * 1_000_000 // total)
    assert got[1] == (2, 2, 1_000_000)
    assert len(got) == 3


def test_fk_fanout_census_includes_zero_fanout(spark, tmp_path):
    """Orders 1 (two lineitems), 2 (one), 3 (none): the census reports
    the zero-fanout parent — the half of referential integrity an
    orphan probe misses."""
    B = datetime.datetime(2024, 5, 1)
    d = str(tmp_path / "fanout")
    _write_orders(d, [
        (1, 10, "O", 1.0, B, "1-URGENT"),
        (2, 10, "O", 1.0, B, "1-URGENT"),
        (3, 11, "O", 1.0, B, "1-URGENT"),
    ])
    pd.DataFrame(
        {"l_orderkey": [1, 1, 2], "l_partkey": [5, 6, 5],
         "l_suppkey": [1, 1, 1], "l_linenumber": [1, 2, 1],
         "l_quantity": [1.0, 1.0, 1.0],
         "l_extendedprice": [1.0, 1.0, 1.0],
         "l_discount": [0.0, 0.0, 0.0], "l_tax": [0.0, 0.0, 0.0],
         "l_returnflag": ["N", "N", "N"], "l_linestatus": ["O", "O", "O"],
         "l_shipdate": pd.to_datetime([B, B, B]).astype("datetime64[us]")}
    ).to_parquet(f"{d}/lineitem.parquet")
    got = {
        r["fanout"]: (r["n_orders"], r["min_orderkey"], r["max_orderkey"])
        for r in QUERIES["audit_fk_fanout_census"](spark, d).collect()
    }
    assert got == {0: (1, 3, 3), 1: (1, 2, 2), 2: (1, 1, 1)}


def test_breakout_census_lookback_binds_at_8(spark, tmp_path):
    """v = [5, 1×8, 4]: the final 4 IS a breakout because the early 5
    fell out of the 8-reading lookback — any leak of reading 1 into the
    frame would suppress it. Rate = 1/9 opportunities -> decile 1."""
    B = datetime.datetime(2024, 5, 1)
    vals = [5.0] + [1.0] * 8 + [4.0]
    rows = [
        (i + 1, B + datetime.timedelta(minutes=i), 1, "view", v, None)
        for i, v in enumerate(vals)
    ]
    # user 2: single reading -> excluded (no scoring opportunity)
    rows.append((99, B, 2, "view", 7.0, None))
    d = str(tmp_path / "breakout")
    _write_events(spark, d, rows)
    got = QUERIES["window_breakout_census"](spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert r["rate_decile"] == (1 * 1_000_000 // 9) // 100_000
    assert (r["n_users"], r["n_obs"], r["n_breakouts"]) == (1, 10, 1)


@pytest.mark.usefixtures("few_shuffle_partitions")
def test_running_breakout_matches_batch_across_restart(spark, tmp_path):
    """The live ring-buffer twin equals its batch window form
    bit-for-bit across a kill-and-resume (the running_churn test
    discipline)."""
    from pyspark.sql import functions as F

    from jorvik_spark.streaming.ops import running_breakout

    B = datetime.datetime(2024, 5, 1, 9, 0, 0)
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0, 8.0]
    rows = [
        (i + 1, B + datetime.timedelta(seconds=30 * i), 1, "view", v, None)
        for i, v in enumerate(vals)
    ]
    rows += [
        (100, B + datetime.timedelta(seconds=10), 2, "view", 2.0, None),
        (101, B + datetime.timedelta(seconds=500), 2, "view", 1.0, None),
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src, dst, cp = (str(tmp_path / x) for x in ("src", "dst", "cp"))
    cut = B + datetime.timedelta(seconds=155)
    df.filter(F.col("ts") < cut).coalesce(1).write.parquet(f"{src}/p=a")

    def drain_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/p=*")
        )
        q = (
            running_breakout(stream)
            .writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    drain_once()
    df.filter(F.col("ts") >= cut).coalesce(1).write.parquet(f"{src}/p=b")
    drain_once()

    live = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    batch = sorted(tuple(r) for r in running_breakout(df).collect())
    assert live == batch
    assert len(live) == len(rows)


def test_cooccurrence_lift_known_corpus(spark, tmp_path):
    """4 docs: (a,b) co-occur twice, every other pair once (filtered by
    the min-2 support): lift = 4·2·1e6/(3·3) exactly."""
    d = str(tmp_path / "cooc")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["a b", "b a", "a c", "b c"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [3] * 4,
        }
    ).to_parquet(f"{d}/documents.parquet")
    got = [
        (r["tok_a"], r["tok_b"], r["n_docs_pair"], r["lift_ppm"])
        for r in QUERIES["text_cooccurrence_lift_topk"](spark, d).collect()
    ]
    assert got == [("a", "b", 2, 4 * 2 * 1_000_000 // (3 * 3))]


def test_interleave_sources_matches_python_mirror(spark, tmp_path):
    """Slot, shard, and round all re-derive from the salts alone —
    pinned against an independent Python md5 mirror."""
    d = str(tmp_path / "ilv")
    os.makedirs(d, exist_ok=True)
    docs = [(i, ["alpha", "beta"][i % 2]) for i in range(10)]
    pd.DataFrame(
        {
            "doc_id": [i for i, _ in docs],
            "text": ["x"] * 10,
            "lang": ["en"] * 10,
            "source": [s for _, s in docs],
            "n_chars": [1] * 10,
        }
    ).to_parquet(f"{d}/documents.parquet")
    slot_of = {
        s: rank + 1
        for rank, s in enumerate(
            sorted({s for _, s in docs},
                   key=lambda s: (hashlib.md5(f"ilvsrc:{s}".encode())
                                  .hexdigest(), s))
        )
    }
    by = {}
    for doc, s in docs:
        shard = int(
            hashlib.md5(f"ilvshard:{doc}".encode()).hexdigest()[:8], 16
        ) % 8
        key = hashlib.md5(f"ilv:{doc}".encode()).hexdigest()
        by.setdefault((shard, s), []).append((key, doc))
    expected = set()
    for (shard, s), lst in by.items():
        for rnd, (_, doc) in enumerate(sorted(lst), start=1):
            expected.add((shard, doc, s, slot_of[s], rnd))
    got = {
        (r["shard"], r["doc_id"], r["source"], r["slot"], r["round"])
        for r in QUERIES["sample_interleave_sources"](spark, d).collect()
    }
    assert got == expected


def _pi_python_mirror(vecs, iters=3, scale=1_000_000):
    """Exact-integer power iteration, independently re-derived."""
    import math

    eu = [[int(math.floor(x * scale + 0.5)) for x in v] for v in vecs]
    dim = len(eu[0])
    v = [scale] * dim
    for it in range(iters):
        dots = [sum(e[p] * v[p] for p in range(dim)) for e in eu]
        w = [sum(e[p] * d for e, d in zip(eu, dots)) for p in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:
            v = [0] * dim
        else:
            v = [
                (abs(x) * scale // m) * (1 if x >= 0 else -1) for x in w
            ]
    return v


def test_power_iteration_matches_exact_mirror(spark, tmp_path):
    """The distributed plan equals an independent exact-integer Python
    power iteration, and the direction is the known dominant axis."""
    vecs = [[3.0, 1.0], [6.0, 2.0], [-3.0, -1.0], [9.0, 3.0], [0.1, -0.2]]
    d = str(tmp_path / "pi")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "vec_id": list(range(len(vecs))),
            "embedding": vecs,
            "label": [0] * len(vecs),
        }
    ).to_parquet(f"{d}/embeddings.parquet")
    got = {
        r["pos"]: r["pc1_units"]
        for r in QUERIES["embed_power_iteration_pc1"](spark, d).collect()
    }
    want = _pi_python_mirror(vecs)
    assert got == {p: w for p, w in enumerate(want)}
    # dominant direction is ~[3,1]: the unit component leads and the
    # second sits near a third of it
    assert got[0] == 1_000_000
    assert abs(got[1] - 333_333) < 2_000


def test_int8_recall_is_perfect_on_separated_corpus(spark, tmp_path):
    """Vectors with well-separated cosines: int8 quantization cannot
    reorder the top-k, so recall is exactly 1e6 for every query."""
    vecs = [
        [1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, -1.0],
        [2.0, 0.1], [0.1, 2.0], [1.0, 0.5], [0.5, 1.0], [-1.0, 0.2],
    ]
    d = str(tmp_path / "i8")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "vec_id": list(range(len(vecs))),
            "embedding": vecs,
            "label": [0] * len(vecs),
        }
    ).to_parquet(f"{d}/embeddings.parquet")
    rows = QUERIES["embed_int8_recall_eval"](spark, d).collect()
    assert len(rows) == 5  # one per query (vec_id < 5)
    assert all(r["recall_ppm"] == 1_000_000 for r in rows)
    assert all(r["n_hits"] == 5 for r in rows)


def test_conversion_lift_bands_known_split(spark, tmp_path):
    """Corpus spanning [0, 100] minutes -> split at the 50-minute
    midpoint. Heavy users (band 2: pre_n 2-3) convert 100%, light users
    (band 1) convert 0%, corpus rate 50% -> lifts 2e6 and 0."""
    B = datetime.datetime(2024, 5, 1)
    m = datetime.timedelta(minutes=1)
    rows = [
        # user 1: 3 pre events, purchase post (band 2, converted)
        (1, B, 1, "view", 1.0, None),
        (2, B + 10 * m, 1, "view", 1.0, None),
        (3, B + 20 * m, 1, "view", 1.0, None),
        (4, B + 80 * m, 1, "purchase", 5.0, None),
        # user 2: 2 pre events, purchase post (band 2, converted)
        (5, B + 5 * m, 2, "view", 1.0, None),
        (6, B + 15 * m, 2, "view", 1.0, None),
        (7, B + 90 * m, 2, "purchase", 5.0, None),
        # user 3: 1 pre event, post view only (band 1, not converted)
        (8, B + 30 * m, 3, "view", 1.0, None),
        (9, B + 70 * m, 3, "view", 1.0, None),
        # user 4: 1 pre event, nothing post (band 1, not converted)
        (10, B + 40 * m, 4, "view", 1.0, None),
        # user 5: post-only (pre_n = 0 -> out of scope)
        (11, B + 95 * m, 5, "purchase", 5.0, None),
        # anchor the max timestamp
        (12, B + 100 * m, 1, "view", 1.0, None),
    ]
    d = str(tmp_path / "lift")
    _write_events(spark, d, rows)
    got = {
        r["band"]: (r["n_users"], r["n_converted"], r["conv_ppm"],
                    r["lift_ppm"])
        for r in QUERIES["agg_conversion_lift_bands"](spark, d).collect()
    }
    # corpus: 4 scoped users, 2 converted -> rate 500000 ppm
    assert got[2] == (2, 2, 1_000_000, 2_000_000)
    assert got[1] == (2, 0, 0, 0)
    assert len(got) == 2


def test_value_precision_census_detects_grid_change(spark, tmp_path):
    """Whole units, cents, and full-precision values land in distinct
    bands; a NULL value is out of scope."""
    B = datetime.datetime(2024, 5, 1)
    rows = [
        (1, B, 1, "view", 3.0, None),        # 0 decimals
        (2, B, 1, "view", 3.25, None),       # 2 decimals
        (3, B, 2, "view", 3.141592, None),   # 6 decimals
        (4, B, 2, "view", 0.5, None),        # 1 decimal
        (5, B, 3, "view", None, None),       # out of scope
        (6, B, 3, "view", 0.0, None),        # vu = 0 -> 0 decimals
    ]
    d = str(tmp_path / "prec")
    _write_events(spark, d, rows)
    got = {
        r["n_decimals"]: (r["n_events"], r["n_users"], r["min_vu"], r["max_vu"])
        for r in QUERIES["audit_value_precision_census"](spark, d).collect()
    }
    assert got[0] == (2, 2, 0, 3_000_000)
    assert got[1] == (1, 1, 500_000, 500_000)
    assert got[2] == (1, 1, 3_250_000, 3_250_000)
    assert got[6] == (1, 1, 3_141_592, 3_141_592)
    assert set(got) == {0, 1, 2, 6}


def test_category_mix_drift_exact_tv(spark, tmp_path):
    """Two months with mirrored priority mixes around a known corpus
    mix: TV = 0.25 exactly for both, and the urgent category (largest
    |c·T − g·t| cell) is the named driver."""
    B = datetime.datetime(2024, 1, 15)
    M2 = datetime.datetime(2024, 2, 15)
    rows = []
    oid = 0
    for cat, n in (("1-URGENT", 2), ("2-HIGH", 1), ("5-LOW", 1)):
        for _ in range(n):
            oid += 1
            rows.append((oid, 1, "O", 1.0, B, cat))
    for cat, n in (("2-HIGH", 2), ("5-LOW", 2)):
        for _ in range(n):
            oid += 1
            rows.append((oid, 1, "O", 1.0, M2, cat))
    d = str(tmp_path / "mixdrift")
    _write_orders(d, rows)
    got = {
        r["month"].month: (r["n_orders"], r["tv_ppm"], r["worst_category"])
        for r in QUERIES["audit_category_mix_drift"](spark, d).collect()
    }
    # corpus mix: urgent 2/8, high 3/8, low 3/8
    # Jan (2u,1h,1l): diffs u|2·8−2·4|=8, h|1·8−3·4|=4, l 4 → TV 16/64
    # Feb (0u,2h,2l): diffs u 8, h 4, l 4 → TV 16/64
    assert got[1] == (4, 250_000, "1-URGENT")
    assert got[2] == (4, 250_000, "1-URGENT")
