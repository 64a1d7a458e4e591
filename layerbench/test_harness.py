"""Tests of the benchmark's own arithmetic: python -m pytest layerbench -q"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from harness import (
    OpLog,
    Span,
    local_slots,
    median,
    self_times,
    tail_percentile,
    tree_cpu_seconds,
    unspanned,
)


def test_median_of_even_count_is_mean_of_middle_pair():
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([1.0, 9.0]) == 5.0
    assert median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        median([])


def test_tail_percentile_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(99)]
    assert tail_percentile(xs, 90) is None  # 9.9 samples beyond p90
    xs = [float(i) for i in range(100)]
    assert tail_percentile(xs, 90) == pytest.approx(89.1)
    assert tail_percentile(xs, 99) is None
    assert tail_percentile([float(i) for i in range(1000)], 99) == pytest.approx(989.01)


def test_failed_ops_count_raises_and_failed_checks_once():
    log = OpLog()
    assert log.run("main", lambda: 1, lambda out: out == 1) == (True, 1)
    assert log.run("main", lambda: 2, lambda out: out == 1) == (False, 2)
    assert log.run("main", lambda: 1 / 0)[0] is False
    assert log.run("side", lambda: 3, lambda out: out["missing"])[0] is False
    assert log.run("side", lambda: 3)[0] is True
    assert (log.attempted, log.failed) == (5, 3)
    # only ops that passed are samples
    assert len(log.times["main"]) == 1 and len(log.times["side"]) == 1
    assert len(log.cpu["main"]) == 1 and len(log.records) == 2 and len(log.errors) == 3
    # a process tree without a JVM has no JIT compiler time to set apart
    assert log.jit["main"] == [0.0] and log.jit["side"] == [0.0]


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, 0, name)


def test_self_time_subtracts_children_union_once():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 5.0, 0),  # overlaps a: union of a and b is [1, 5]
        _span("c", 6.0, 7.0, 0),
        _span("a.child", 2.0, 3.0, 1),
        _span("late", 9.5, 12.0, 0),  # clipped to the parent's end
    ]
    assert self_times(spans) == pytest.approx([10.0 - 4.0 - 1.0 - 0.5, 2.0, 2.0, 1.0, 1.0, 2.5])


def test_self_times_of_a_chain_sum_to_the_root_wall():
    spans = [_span("r", 0.0, 8.0), _span("m", 1.0, 7.0, 0), _span("l", 2.0, 3.0, 1)]
    assert sum(self_times(spans)) == pytest.approx(8.0)


def test_unspanned_is_op_wall_outside_top_level_spans_and_their_bookkeeping():
    spans = [_span("x", 1.0, 3.0), _span("x.y", 1.5, 2.0, 0), _span("z", 3.5, 4.0)]
    spans[0].bookkeeping_s = 0.25
    records = [("main", 0.5, 4.5), ("side", 5.0, 6.0)]
    assert unspanned(records, spans) == {"main": [pytest.approx(1.25)]}


def test_local_slots():
    assert local_slots("local", 4) == 1
    assert local_slots("local[*]", 4) == 4
    assert local_slots("local[12]", 4) == 12
    assert local_slots("local[3, 2]", 4) == 3
    with pytest.raises(ValueError):
        local_slots("spark://host:7077", 4)


def test_tree_cpu_counts_reaped_children():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"
    before = tree_cpu_seconds(os.getpid())
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tree_cpu_seconds(os.getpid()) - before >= 0.25
