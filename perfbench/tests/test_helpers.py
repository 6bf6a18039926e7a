"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import metrics as M  # noqa: E402
import reference as R  # noqa: E402
import workloads as W  # noqa: E402


# -- percentile under the >=10-beyond rule ---------------------------------

@pytest.mark.parametrize("n, pct", [(100, 90), (200, 95), (1000, 99),
                                    (32, 68), (20, 50)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    p, value, beyond = M.tail_percentile(range(1, n + 1))
    assert p == pct
    assert beyond >= 10
    # one percentile higher would leave fewer than ten beyond
    assert n - -(-(p + 1) * n // 100) < 10 or p == 99
    assert value == sorted(range(1, n + 1))[n - beyond - 1]


def test_tail_percentile_omitted_for_short_runs():
    assert M.tail_percentile(range(19)) is None
    assert M.tail_percentile([]) is None


# -- self time of nested spans ---------------------------------------------

def test_self_time_subtracts_covered_children():
    spans = [M.Span(0, None, 7, "request", 0.0, 10.0),
             M.Span(1, 0, 7, "session.cypher", 1.0, 6.0),
             M.Span(2, 1, 7, "plans.plan", 2.0, 5.0),
             # overlapping siblings (a driver thread pool) count once
             M.Span(3, 0, 7, "collect", 5.0, 8.0),
             M.Span(4, 0, 7, "collect", 7.0, 9.0)]
    st = M.self_times(spans)
    assert st[2] == pytest.approx(3000.0)
    assert st[1] == pytest.approx(2000.0)
    assert st[0] == pytest.approx(10000.0 - 8000.0)
    assert M.covered([(1, 6), (5, 8), (7, 9)], 0, 10) == 8


def test_outermost_counts_reentrant_calls_once():
    spans = [M.Span(0, None, 1, "session.cypher", 0.0, 4.0),
             M.Span(1, 0, 1, "plans.plan", 1.0, 3.0),
             M.Span(2, 1, 1, "session.cypher", 1.5, 2.5),
             M.Span(3, None, 1, "session.cypher", 5.0, 6.0)]
    assert [s.span_id for s in M.outermost(spans, "session.cypher")] == [0, 3]


# -- job-window attribution ------------------------------------------------

def test_jobs_attributed_by_id_window_not_group():
    windows = [(0, "g0", 0, 3), (1, "g1", 4, 5), (2, "g2", 6, 5)]
    jobs = [(0, "g0"), (1, None), (2, "g0"), (3, None), (4, "g1"),
            (5, "g1")]
    got = M.attribute_jobs(windows, jobs)
    assert got[0] == {"jobs": [0, 1, 2, 3], "outside_group": 2}
    assert got[1] == {"jobs": [4, 5], "outside_group": 0}
    assert got[2] == {"jobs": [], "outside_group": 0}


# -- seeded request sequences ----------------------------------------------

@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_same_seed_same_sequence(workload):
    a = W.rounds(workload, 11, 3)
    assert a == W.rounds(workload, 11, 3)
    assert a != W.rounds(workload, 12, 3)
    assert W.warmup(workload, 11) == W.warmup(workload, 11)


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_every_round_has_the_same_mix(workload):
    kinds = [sorted(r.kind for r in rnd) for rnd in W.rounds(workload, 5, 4)]
    assert all(k == kinds[0] for k in kinds)


def test_cypher_rounds_reuse_hot_bindings():
    hot = set(W.hot_bindings(3).values())
    for rnd in W.rounds("cypher-interactive", 3, 5):
        assert sum(r in hot for r in rnd) == round(W.HOT_SHARE * len(rnd))
        assert sum(W.TEMPLATES_BY_NAME[r.template].write for r in rnd) == 2


def test_cypher_hot_templates_do_not_depend_on_the_seed():
    def hot_reads(seed):
        hot = set(W.hot_bindings(seed).values())
        return [sorted(r.template for r in rnd if r in hot)
                for rnd in W.rounds("cypher-interactive", seed, 4)]
    assert hot_reads(3) == hot_reads(4)
    assert not any(W.TEMPLATES_BY_NAME[t].write for rnd in hot_reads(3)
                   for t in rnd)


def test_repeat_share():
    assert W.repeat_share([], ["a", "b", "a", "a"]) == 0.5
    assert W.repeat_share(["b"], ["a", "b"]) == 0.5
    assert W.repeat_share(["a"], []) == 0.0


# -- references against hand-checked graphs --------------------------------

def test_reference_algorithms_on_a_small_graph():
    # triangle 1-2-3 plus a tail 3-4; directed 1->2->3->1 cycle plus 3->4
    src, dst = np.array([1, 2, 1, 3]), np.array([2, 3, 3, 4])
    assert R.k_core(src, dst, 2) == {1: 2, 2: 2, 3: 2}
    assert R.strongly_connected_components(
        np.array([1, 2, 3, 3]), np.array([2, 3, 1, 4])) == \
        {1: 1, 2: 1, 3: 1, 4: 4}
    assert R.label_propagation(src, dst, 1) == {1: 2, 2: 1, 3: 1, 4: 3}
    pr = R.pagerank(src, dst, 20)
    assert sum(pr.values()) == pytest.approx(1.0)
    sp = R.weighted_shortest_paths(src, dst, np.array([1.0, 1, 5, 1]), 1, 2)
    assert sp == {1: 0.0, 2: 1.0, 3: 2.0, 4: 6.0}
    comm = R.louvain(src, dst, 5)
    assert set(comm) == {1, 2, 3, 4}
    assert all(comm[x] <= x for x in comm)


def test_rows_match_tolerates_rounding_only():
    assert R.rows_match([("a", 1.005)], [("a", 1.0)], ordered=False)
    assert not R.rows_match([("a", 1.02)], [("a", 1.0)], ordered=False)
    assert R.rows_match([("b", 2), ("a", 1.01)], [("a", 1.0), ("b", 2)],
                        ordered=False)
    assert not R.rows_match([("b", 2), ("a", 1.0)], [("a", 1.0), ("b", 2)],
                            ordered=True)
