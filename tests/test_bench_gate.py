"""bench.py's gate rule on synthetic timings (no Spark): a label flags when
its ratio to the interleaved calibration job exceeds LIMIT × its pin, so a
host slowed as a whole flags nothing."""

import pytest

import bench

# seconds per warm run of each query (a cold run takes twice as long);
# the calibration job takes 0.5 s
SECONDS = {"qa": 1.0, "qb": 3.0, "qc": 0.2}
QUERIES = {q: q for q in SECONDS}  # the registry: the timer gets the name
TABLE = {
    "a": {"query": "qa", "warm": 2.0, "cold": 4.0},
    "b": {"query": "qb", "warm": 6.0, "cold": None},
    "c": {"query": "qc", "warm": 0.4, "cold": None},
}


def _run(slow=1.0, calib_slow=1.0, slower=(), applied=True):
    """Run the table with every query and the calibration job slowed by
    ``slow`` (``calib_slow``), and the labels in ``slower`` twice as slow."""

    def timer(q, cold):
        return SECONDS[q] * slow * (2 if cold else 1) * (2 if q in slower else 1)

    return bench.run_table(TABLE, QUERIES, timer, lambda: 0.5 * calib_slow, applied)


def _flags(detail):
    return {(lb, r) for r in bench.REGIMES for lb, row in detail[r].items() if row["flag"]}


def test_unchanged_timings_flag_nothing_and_rows_carry_the_ratio():
    detail = _run()
    assert _flags(detail) == set()
    assert detail["warm"]["b"] == {
        "s": 3.0, "calib_s": 0.5, "x": 6.0, "ref": 6.0, "flag": False,
        "load": detail["warm"]["b"]["load"],
    }
    assert set(detail["cold"]) == {"a"}  # a null cold pin is not measured


def test_a_label_at_twice_its_pinned_ratio_flags():
    assert _flags(_run(slower={"qb"})) == {("b", "warm")}
    assert _flags(_run(slower={"qa"})) == {("a", "warm"), ("a", "cold")}


def test_host_slowed_as_a_whole_flags_nothing():
    assert _flags(_run(slow=2.5, calib_slow=2.5)) == set()


def test_raw_slowdown_without_the_calibration_flags_everything():
    # the ratio is what cancels host speed: slowing only the labels flags
    assert len(_flags(_run(slow=2.5))) == 4


def test_gates_off_the_pinned_sf_flag_nothing():
    assert _flags(_run(slower={"qa", "qb", "qc"}, applied=False)) == set()


def test_a_label_naming_an_unregistered_query_fails_loudly():
    table = dict(TABLE, z={"query": "no_such_query", "warm": 1.0, "cold": None})
    with pytest.raises(KeyError, match="no_such_query|z"):
        bench.run_table(table, QUERIES, lambda q, c: 1.0, lambda: 0.5, True)
