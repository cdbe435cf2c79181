"""The benchmark's own tests: percentile rule, hash normalization, span
self time and the re-blocked twin. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import decimal
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import fixtures  # noqa: E402
import stats  # noqa: E402
from check import normalize, result_hash  # noqa: E402
from tracing import Span, self_times  # noqa: E402


# -- percentile rule -------------------------------------------------------

def test_p90_needs_ten_samples_beyond():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.samples_beyond(99, 0.9) == 9
    assert stats.percentile(list(range(99)), 0.9) is None
    assert stats.percentile(list(range(1, 101)), 0.9) == 90


def test_p50_is_nearest_rank():
    assert stats.percentile(list(range(1, 21)), 0.5) == 10
    assert stats.percentile([], 0.5) is None


def test_rel_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, q2, q3 = stats.quartiles(vals)
    assert stats.rel_spread(vals) == (q3 - q1) / q2


# -- hash normalization ----------------------------------------------------

def test_hash_ignores_row_and_column_order():
    a = result_hash([(1, "x"), (2, "y")], ["K", "v"])
    b = result_hash([("y", 2), ("x", 1)], ["v", "k"])
    assert a == b


def test_hash_sees_values_and_names():
    base = result_hash([(1, "x")], ["k", "v"])
    assert result_hash([(1, "z")], ["k", "v"]) != base
    assert result_hash([(1, "x")], ["k", "w"]) != base
    assert result_hash([(1, "x"), (1, "x")], ["k", "v"]) != base


def test_normalize_nan_decimal_and_timezone():
    utc = datetime.timezone.utc
    naive = datetime.datetime(2024, 1, 1, 12)
    cols, rows = normalize(
        [(float("nan"), decimal.Decimal("1.50"), naive.replace(tzinfo=utc))],
        ["a", "b", "c"],
    )
    assert rows == [("NaN", 1.5, naive)]
    # NaN compares equal across engines only through the 'NaN' string
    assert result_hash([(float("nan"),)], ["a"]) == result_hash([(float("nan"),)], ["a"])


def test_nested_cells_compare_by_repr():
    assert result_hash([([1, 2],)], ["a"]) == result_hash([([1, 2],)], ["a"])
    assert result_hash([([1, 2],)], ["a"]) != result_hash([([2, 1],)], ["a"])


# -- span self time --------------------------------------------------------

def test_self_time_subtracts_children():
    spans = [
        Span("engine.run", 0.0, 10.0, None, "t0.0"),
        Span("dialect.translate", 1.0, 3.0, 0, "t0.0"),
        Span("exec.collect", 4.0, 9.0, 0, "t0.0"),
        Span("catalog.load_table", 5.0, 6.0, 2, "t0.0"),
    ]
    assert self_times(spans) == [3.0, 2.0, 4.0, 1.0]


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span("p", 0.0, 10.0, None, None),
        Span("a", 1.0, 5.0, 0, None),
        Span("b", 4.0, 6.0, 0, None),
        Span("c", 9.0, 12.0, 0, None),  # clipped to the parent's end
    ]
    assert self_times(spans)[0] == 10.0 - 5.0 - 1.0


# -- re-blocked twin -------------------------------------------------------

def test_twin_large_tables_have_requested_row_groups(tmp_path):
    cores = 4
    out = fixtures.ensure(str(tmp_path), seed=3, scale=0.2, row_groups=4 * cores)
    assert out == fixtures.fixture_dir(str(tmp_path), 3, 0.2, 4 * cores)
    table = {name: (rows, rgs) for name, rows, rgs, _ in fixtures.describe(out)}
    for name, (rows, rgs) in table.items():
        if rows >= fixtures.LARGE_ROWS:
            assert rgs >= 4 * cores, name
        else:
            assert rgs == 1, name
    assert table["lineitem"][1] >= 4 * cores
    # the rewrite keeps every row
    li = pq.read_table(os.path.join(out, "lineitem.parquet"))
    assert li.num_rows == table["lineitem"][0] == 12_000


def test_fixture_cache_is_reused(tmp_path):
    out = fixtures.ensure(str(tmp_path), seed=5, scale=0.05)
    stamp = os.path.getmtime(os.path.join(out, "orders.parquet"))
    assert fixtures.ensure(str(tmp_path), seed=5, scale=0.05) == out
    assert os.path.getmtime(os.path.join(out, "orders.parquet")) == stamp
