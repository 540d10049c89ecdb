"""Tests for the benchmark's pure helpers; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from proc import tree_cpu_s  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import (  # noqa: E402
    Ledger,
    Span,
    drain_wall,
    page_lags,
    pages_in_batch,
    percentile,
    self_times,
    tail_percentile,
)


# -- percentile rule ----------------------------------------------------------


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, expected_p",
    [
        (19, None),  # the median has 9 beyond it
        (20, 50.0),  # rank 10, 10 beyond
        (39, 50.0),  # p75 rank 30 leaves 9
        (40, 75.0),  # p75 rank 30 leaves 10
        (99, 75.0),  # p90 rank 90 leaves 9
        (100, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected_p):
    values = [float(i) for i in range(n)]
    got = tail_percentile(values)
    if expected_p is None:
        assert got is None
        return
    p, v = got
    assert p == expected_p
    assert sum(1 for x in values if x > v) >= 10


def test_tail_percentile_is_order_free():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 8  # n = 40
    assert tail_percentile(values) == (75.0, 4.0)


# -- span self time -----------------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        Span(0, None, "query", 0.0, 10.0),
        Span(1, 0, "queries.build", 1.0, 4.0),
        Span(2, 0, "exec.action", 4.0, 9.0),
    ]
    got = self_times(spans)
    assert got["query"] == pytest.approx(2.0)
    assert got["queries.build"] == pytest.approx(3.0)
    assert got["exec.action"] == pytest.approx(5.0)


def test_self_time_counts_overlap_once_and_clips_to_parent():
    spans = [
        Span(0, None, "batch", 0.0, 10.0),
        Span(1, 0, "a", 1.0, 5.0),
        Span(2, 0, "b", 3.0, 6.0),  # overlaps a: union 1..6
        Span(3, 0, "c", 8.0, 12.0),  # sticks out: only 8..10 counts
    ]
    assert self_times(spans)["batch"] == pytest.approx(10.0 - 5.0 - 2.0)


def test_self_time_sums_spans_of_one_name():
    spans = [Span(0, None, "q", 0.0, 1.0), Span(1, None, "q", 5.0, 7.0)]
    assert self_times(spans) == {"q": pytest.approx(3.0)}


def test_tracer_nests_spans_and_shares_the_operation_id():
    tr = Tracer(enabled=True)
    with tr.span("query", op="q#0"):
        with tr.span("queries.build"):
            pass
        with tr.span("exec.action"):
            pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["queries.build"].parent == by_name["query"].span_id
    assert by_name["exec.action"].parent == by_name["query"].span_id
    assert {tr.op_of[s.span_id] for s in tr.spans} == {"q#0"}
    assert set(tr.self_times()) == {"query", "queries.build", "exec.action"}


def test_disabled_tracer_keeps_nothing():
    tr = Tracer(enabled=False)
    with tr.span("query", op="q#0"):
        pass
    tr.add("stream.batch", 0.0, 1.0, "live/batch0")
    assert tr.spans == [] and tr.self_times() == {}


# -- offsets to page lag --------------------------------------------------------


def test_pages_in_batch_from_offsets():
    start = {"pages": {"A": 1, "B": 2}}
    end = {"pages": {"A": 3, "B": 2, "C": 1}}
    assert pages_in_batch(start, end) == {"A": range(1, 3), "C": range(0, 1)}
    # The first batch has no start offset.
    assert pages_in_batch(None, {"pages": {"A": 2}}) == {"A": range(0, 2)}


def test_page_lags_maps_each_page_to_the_batch_that_emitted_it():
    created = {("A", 0): 10.0, ("A", 1): 11.0, ("B", 0): 10.5, ("B", 1): 12.0}
    batches = [
        (None, {"pages": {"A": 1, "B": 1}}, 12.0),
        ({"pages": {"A": 1, "B": 1}}, {"pages": {"A": 2, "B": 1}}, 13.5),
    ]
    lags, missing = page_lags(batches, created)
    assert lags == {
        ("A", 0): pytest.approx(2.0),
        ("B", 0): pytest.approx(1.5),
        ("A", 1): pytest.approx(2.5),
    }
    assert missing == [("B", 1)]


def test_page_lags_keeps_the_first_emission_of_a_replayed_page():
    created = {("A", 0): 1.0}
    batches = [
        (None, {"pages": {"A": 1}}, 2.0),
        (None, {"pages": {"A": 1}}, 5.0),  # replay of the same range
    ]
    lags, missing = page_lags(batches, created)
    assert lags == {("A", 0): pytest.approx(1.0)} and missing == []


def test_page_lags_ignores_pages_it_did_not_create():
    lags, missing = page_lags([(None, {"pages": {"A": 2}}, 3.0)], {("A", 1): 1.0})
    assert lags == {("A", 1): pytest.approx(2.0)} and missing == []


def test_drain_wall_spans_every_batch_that_read_the_burst():
    burst = {("A", 2), ("B", 2)}
    batches = [
        ({"pages": {"A": 1, "B": 1}}, {"pages": {"A": 2, "B": 2}}, 0.0, 0.5),  # before
        ({"pages": {"A": 2, "B": 2}}, {"pages": {"A": 3, "B": 2}}, 10.0, 11.0),  # A's page
        ({"pages": {"A": 3, "B": 2}}, {"pages": {"A": 3, "B": 3}}, 11.0, 12.5),  # B's page
        ({"pages": {"A": 3, "B": 3}}, {"pages": {"A": 3, "B": 3}}, 14.0, 14.2),  # no data
    ]
    assert drain_wall(batches, burst) == pytest.approx(2.5)


def test_drain_wall_needs_a_batch_that_read_the_burst():
    with pytest.raises(ValueError):
        drain_wall([({}, {"pages": {"A": 1}}, 0.0, 1.0)], {("A", 5)})


# -- process-tree CPU time ------------------------------------------------------


def test_tree_cpu_counts_a_child_before_and_after_it_is_reaped():
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\nprint(flush=True)\ninput()"
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", spin], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    child.stdout.readline()
    alive = tree_cpu_s() - before
    child.communicate("\n")
    reaped = tree_cpu_s() - before
    assert 0.45 <= alive <= reaped < 1.5


# -- failed_frac accounting -------------------------------------------------------


def test_ledger_counts_failures_against_attempts():
    led = Ledger()
    for ok in (True, True, False, True):
        led.record(ok, "q")
    assert (led.attempted, led.failed) == (4, 1)
    assert led.failed_frac == pytest.approx(0.25)
    assert led.failures == ["q"]


def test_empty_ledger_is_all_failed():
    # A run that attempted nothing must not read as a clean run.
    assert Ledger().failed_frac == 1.0
