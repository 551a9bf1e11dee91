"""Tests of the benchmark's own arithmetic and input generation.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import math
import os

import pytest

from perfbench import datagen
from perfbench.stats import (
    covered, covering_batches, geomean, per_op_geomean, self_times, spread, tail,
    tail_or_slowest,
)


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_ignores_input_order_and_reports_percentile():
    xs = [float(x) for x in range(48)]
    xs = xs[7:] + xs[:7]
    value, pct, n = tail(xs)
    assert (value, n) == (37.0, 48)
    assert math.isclose(pct, 100 * 38 / 48)


def test_tail_needs_a_percentile_above_the_median():
    assert tail([3.0, 1.0, 2.0]) is None
    assert tail(list(range(20))) is None  # p50 is no tail
    assert tail(list(range(21))) == (10, 100 * 11 / 21, 21)
    with pytest.raises(ValueError):
        tail([])


def test_tail_or_slowest_falls_back_to_the_slowest_ops_median():
    lat = {"a": [1.0, 3.0], "b": [10.0, 20.0], "c": [2.0, 2.0]}
    pooled = [x for v in lat.values() for x in v]
    assert tail_or_slowest(pooled, lat) == (15.0, None, 6, "slowest-op median")
    many = {"a": [float(x) for x in range(48)]}
    assert tail_or_slowest(many["a"], many)[:3] == tail(many["a"])


def test_geomean():
    assert math.isclose(geomean([1.0, 100.0]), 10.0)
    assert math.isclose(geomean([2.0, 2.0, 2.0]), 2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_per_op_geomean_uses_each_ops_median():
    lat = {"a": [1.0, 1.0, 50.0], "b": [4.0, 4.0, 4.0]}
    assert math.isclose(per_op_geomean(lat), 2.0)


def test_spread_matches_statistics_quantiles():
    q1, med, q3, s = spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert (q1, med, q3) == (2.75, 5.5, 8.25)
    assert math.isclose(s, 1.0)


def test_covering_batches_one_day_per_batch():
    assert covering_batches([10, 20], [(10, 1.0), (20, 2.0)]) == [1.0, 2.0]


def test_covering_batches_several_days_fold_into_one_batch():
    # three days land before the stream lists them; one batch takes all
    ends = covering_batches([10, 20, 30, 5], [(0, 0.5), (60, 3.0), (5, 4.0)])
    assert ends == [3.0, 3.0, 3.0, 4.0]


def test_covering_batches_partial_and_missing():
    # a day split over two batches is covered by the second one; a day no
    # batch reaches maps to None
    ends = covering_batches([10, 10, 10], [(15, 1.0), (5, 2.0)])
    assert ends == [1.0, 2.0, None]


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},  # grandchild
        {"id": 4, "parent": None, "start": 20.0, "end": 21.0},
    ]
    st = self_times(spans)
    assert st == {0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0, 4: 1.0}


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generators_are_deterministic_per_seed(tmp_path):
    for seed in (1, 1, 2):
        datagen.write_star_schema(str(tmp_path / f"star-{seed}-{len(os.listdir(tmp_path))}"), seed, 0.001)
    a, b, c = sorted(os.listdir(tmp_path))
    assert _digest(str(tmp_path / a)) == _digest(str(tmp_path / b))
    assert _digest(str(tmp_path / a)) != _digest(str(tmp_path / c))
    d1 = datagen.write_hotel_weather(str(tmp_path / "hw1"), 7, 3)
    d2 = datagen.write_hotel_weather(str(tmp_path / "hw2"), 7, 3)
    assert d1 == d2 and len(d1) == 3
    assert _digest(str(tmp_path / "hw1")) == _digest(str(tmp_path / "hw2"))
    assert len(os.listdir(tmp_path / "hw1" / "year=2016" / "month=10" / "day=01")) == 10


def test_top_cities_are_strictly_ordered():
    sizes = datagen._TOP_CITY_SIZES
    assert all(a > b * 1.08 for a, b in zip(sizes, sizes[1:]))
    assert sizes[10] >= datagen._SMALL_CITY_MAX


def test_star_schema_reproduces_the_engine_fixtures(tmp_path):
    """At the fixtures' seed the generator writes the sf 0.001 fixture set
    itself: equal tables and the same parquet column types."""
    pq = pytest.importorskip("pyarrow.parquet")
    from m13_sparkstreaming_python_azure_spark.catalog import DEFAULT_SF_DIR

    fixtures = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    if not os.path.isdir(fixtures):
        pytest.skip("engine test fixtures not present")
    datagen.write_star_schema(str(tmp_path), sf=0.001)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        want = pq.ParquetFile(os.path.join(fixtures, f"{t}.parquet"))
        got = pq.ParquetFile(str(tmp_path / f"{t}.parquet"))
        assert got.read().equals(want.read()), t
        assert [(c.name, c.physical_type, str(c.logical_type)) for c in got.schema] == [
            (c.name, c.physical_type, str(c.logical_type)) for c in want.schema
        ], t
