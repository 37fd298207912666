"""Tests of the benchmark's own pieces that need no Spark session:
seeded inputs and the metric reducers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import reducers  # noqa: E402
import tracing  # noqa: E402


class _Counter:
    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def _day_text(seed: int, day: int) -> bytes:
    rows = inputs.cities(seed, 96)
    return json.dumps([inputs.payload(seed, day, i, c[0])
                       for i, c in enumerate(rows)],
                      sort_keys=True).encode()


def test_one_seed_gives_byte_identical_payloads():
    assert _day_text(7, 3) == _day_text(7, 3)
    assert inputs.cities(7, 96) == inputs.cities(7, 96)


def test_other_seed_or_day_gives_other_payloads():
    assert _day_text(7, 3) != _day_text(8, 3)
    assert _day_text(7, 3) != _day_text(7, 4)


def test_cities_are_distinct():
    names = [c[0] for c in inputs.cities(11, 500)]
    assert len(set(names)) == 500


def test_fetcher_rebuilds_payload_from_url_and_counts_calls():
    rows = inputs.cities(5, 3)
    counter = _Counter()
    fetch = inputs.OfflineFetcher(counter)
    for i, (city, *_rest) in enumerate(rows):
        assert fetch(inputs.url(5, 2, i, city)) == inputs.payload(5, 2, i,
                                                                  city)
    assert counter.value == 3


def test_record_times_are_distinct_per_city_across_days():
    for i in range(50):
        times = {inputs.payload(1, d, i, "X")["dt"] for d in range(5)}
        assert len(times) == 5


def test_median_and_quartiles_match_statistics():
    xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    assert reducers.median(xs) == statistics.median(xs)
    q1, q2, q3 = reducers.quartiles(xs)
    assert [q1, q2, q3] == statistics.quantiles(xs, n=4)
    assert reducers.spread(xs) == (q3 - q1) / q2
    assert reducers.quartiles([2.0]) == (2.0, 2.0, 2.0)


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "layer": "bench", "start": 0, "end": 10},
        {"id": 1, "parent": 0, "layer": "plans", "start": 1, "end": 4},
        {"id": 2, "parent": 0, "layer": "spark", "start": 4, "end": 9},
        {"id": 3, "parent": 2, "layer": "plans", "start": 5, "end": 6},
    ]
    assert reducers.self_times(spans) == {"bench": 2, "plans": 4,
                                          "spark": 4}
    assert sum(reducers.self_times(spans).values()) == 10


def test_tracer_nests_and_innermost_finds_deepest():
    tr = tracing.Tracer(True, "t")
    with tr.span("unit", "bench") as u:
        with tr.span("build", "plans"):
            pass
        with tr.span("materialize", "spark") as m:
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert tr.subtree(u) == tr.spans
    assert tracing.innermost(tr.spans, m["start"])["name"] == "materialize"
    off = tracing.Tracer(False, "t")
    with off.span("x", "bench") as rec:
        assert rec == {}
    assert off.spans == []


def test_fingerprint_ignores_row_and_column_order():
    a = reducers.fingerprint(["b", "a"], [(1, "x"), (2, "y")])
    b = reducers.fingerprint(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b and a["rows"] == 2
    assert a != reducers.fingerprint(["a", "b"], [("y", 2), ("x", 3)])


def test_fingerprint_renders_spark_and_duckdb_values_alike():
    class Row(tuple):                    # stands in for pyspark's Row
        def asDict(self):  # noqa: N802
            return {"k": self[0], "v": self[1]}

    spark_side = [(decimal.Decimal("1.500000"), 0.1 + 0.2,
                   dt.datetime(2025, 3, 17, 4, 31, 8), Row((1, 2.0)),
                   [1, 2])]
    duck_side = [(1.5, 0.30000000000000004 - 1e-17,
                  dt.datetime(2025, 3, 17, 4, 31, 8), {"k": 1, "v": 2},
                  (1, 2))]
    cols = ["d", "f", "t", "s", "l"]
    assert (reducers.fingerprint(cols, spark_side)
            == reducers.fingerprint(cols, duck_side))
