"""PINS.json, bench.py's gate table: every label names a registered query,
bench gates against exactly these pins, and every pinned ratio is the
median of the captures recorded beside it."""

import statistics

import bench
from jorvik_spark.queries import QUERIES

TABLE = bench.load_table()
LABELS = TABLE["labels"]
FIELDS = {"query", "warm", "cold", "runs", "date", "nproc", "load_window"}


def _pinned(entry: dict) -> set:
    return {r for r in bench.REGIMES if entry.get(r) is not None}


def test_every_label_names_a_registered_query():
    unknown = {lb: e["query"] for lb, e in LABELS.items() if e["query"] not in QUERIES}
    assert not unknown


def test_every_gated_label_has_a_pin_and_nothing_extra():
    assert set(bench.HEADLINE) <= set(LABELS)
    assert TABLE["sf"] == 0.1
    for lb, e in LABELS.items():
        assert "warm" in _pinned(e), f"{lb}: no warm pin"
        assert set(e["runs"]) == _pinned(e), f"{lb}: runs {set(e['runs'])} != pins"


def test_bench_refs_come_from_pins():
    # bench's own loop over the table, with instant fake timings
    detail = bench.run_table(LABELS, {q: q for q in QUERIES}, lambda q, c: 1.0,
                             lambda: 1.0, applied=True)
    for r in bench.REGIMES:
        assert set(detail[r]) == {lb for lb, e in LABELS.items() if e[r] is not None}
        for lb, row in detail[r].items():
            assert row["ref"] == LABELS[lb][r]


def test_pin_entries_carry_required_provenance():
    for lb, e in LABELS.items():
        assert set(e) == FIELDS, f"{lb}: fields {set(e)}"
        assert e["date"] and e["nproc"] >= 1, lb
        lo, hi = e["load_window"]
        assert 0 <= lo <= hi, lb


def test_recorded_run_lists_support_their_ref():
    # every pin is the median of its captures: no "max of" exemption
    for lb, e in LABELS.items():
        for r in _pinned(e):
            runs = e["runs"][r]
            med = statistics.median(runs)
            assert e[r] > 0 and abs(med - e[r]) <= 0.02 * e[r], (
                f"{lb} {r}: median({runs}) = {med} != ref {e[r]}"
            )


def test_rule_new_pins_record_runs():
    for lb, e in LABELS.items():
        for r in _pinned(e):
            assert len(e["runs"][r]) >= 3, f"{lb} {r}: fewer than 3 captures"
