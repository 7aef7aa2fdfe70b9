"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from check import frames_match  # noqa: E402
from stats import (driver_gap, interval_union, percentile_with_tail,  # noqa: E402
                   self_time, slot_util, write_amp)
from tracing import Tracer  # noqa: E402


@pytest.mark.parametrize("make", [gen.orders_batch, gen.customer_batch,
                                  gen.events_batch])
def test_same_seed_gives_byte_identical_batches(tmp_path, make):
    paths = []
    for i in range(2):
        p = tmp_path / f"b{i}.parquet"
        gen.write_table(make(7, 3), str(p))
        paths.append(p)
    assert paths[0].read_bytes() == paths[1].read_bytes()
    other = tmp_path / "other.parquet"
    gen.write_table(make(8, 3), str(other))
    assert other.read_bytes() != paths[0].read_bytes()


def test_batches_of_different_cycles_do_not_collide():
    o1, o2 = gen.orders_batch(1, 1), gen.orders_batch(1, 2)
    new1 = {k for k in o1["o_orderkey"].to_pylist() if k >= gen.ROWS["orders"]}
    new2 = {k for k in o2["o_orderkey"].to_pylist() if k >= gen.ROWS["orders"]}
    assert new1 and new2 and not new1 & new2
    assert len(set(o1["o_orderkey"].to_pylist())) == o1.num_rows
    e1, e2 = gen.events_batch(1, 1), gen.events_batch(1, 2)
    assert max(e1["ts"].to_pylist()) < min(e2["ts"].to_pylist())
    assert max(e1["event_id"].to_pylist()) < min(e2["event_id"].to_pylist())


def test_same_seed_gives_same_op_order_and_literals():
    names = [f"op{i}" for i in range(8)]
    assert gen.op_order(names, 5, 2) == gen.op_order(names, 5, 2)
    assert sorted(gen.op_order(names, 5, 2)) == names
    assert any(gen.op_order(names, 5, p) != gen.op_order(names, 6, p)
               for p in range(1, 4))
    assert gen.sql_literals(5) == gen.sql_literals(5)


def test_base_tables_do_not_depend_on_the_run():
    a, b = gen.base_tables(), gen.base_tables()
    assert all(a[t].equals(b[t]) for t in gen.ROWS)
    assert {t: a[t].num_rows for t in a} == gen.ROWS


def test_percentile_needs_ten_samples_beyond():
    assert percentile_with_tail(list(range(1, 100)), 0.9) is None  # 9 beyond
    value, beyond = percentile_with_tail(list(range(1, 101)), 0.9)
    assert (value, beyond) == (90, 10)
    assert percentile_with_tail([], 0.5) is None
    # ties at the percentile are not "beyond" it
    assert percentile_with_tail([1.0] * 50 + [2.0] * 5, 0.5) is None


def test_interval_union_and_driver_gap():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert interval_union([(0, 4), (1, 2), (2, 3)]) == pytest.approx(4.0)
    assert interval_union([(2, 1)]) == 0.0         # empty interval
    # op of 10 s whose jobs ran over [1,3] and [2,5] (overlapping) and
    # [7,8]: busy 5 s, so the driver gap is 5 s
    assert driver_gap(10.0, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5.0)
    assert slot_util(8.0, 4, 4.0) == pytest.approx(0.5)
    assert slot_util(1.0, 4, 0.0) == 0.0


def test_self_time_clips_children_to_the_span():
    assert self_time((0, 10), []) == 10
    assert self_time((0, 10), [(2, 4), (3, 6)]) == pytest.approx(6.0)
    assert self_time((0, 10), [(-5, 1), (9, 20)]) == pytest.approx(8.0)

    t = Tracer()
    run = t.add("run", None, 0.0, 10.0)
    op = t.add("op", run, 1.0, 9.0)
    t.add("job", op, 2.0, 5.0)
    selfs = t.self_times()
    assert selfs[run] == pytest.approx(2.0)
    assert selfs[op] == pytest.approx(5.0)


def test_write_amp_arithmetic():
    # a 1% upsert that rewrites a 2.37 MB table for 37 KB of user data
    assert write_amp(2_370_000, 37_000) == pytest.approx(64.05, rel=1e-3)
    assert write_amp(500, 500) == 1.0
    with pytest.raises(ValueError):
        write_amp(10, 0)


def test_frames_match_ignores_row_order_and_float_noise():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0]})
    b = pd.DataFrame({"v": [2.0 + 1e-12, 1.0], "k": ["y", "x"]})
    assert frames_match(a, b) is None
    assert "rows" in frames_match(a, b.iloc[:1])
    assert frames_match(a, b.assign(v=[2.5, 1.0])) is not None
    assert "columns" in frames_match(a, b.rename(columns={"v": "w"}))
