"""Workload inputs come from the seed alone, and carry what the
correctness checks expect of them."""

from __future__ import annotations

import itertools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402


def _take(seed: int, client: int, n: int):
    return list(itertools.islice(inputs.p1_payloads(seed, client), n))


def test_payloads_repeat_for_a_seed_and_differ_across_seeds():
    assert _take(3, 0, 50) == _take(3, 0, 50)
    assert _take(3, 0, 50) != _take(4, 0, 50)
    assert _take(3, 0, 50) != _take(3, 1, 50)


def test_only_poison_payloads_carry_the_marker():
    got = _take(7, 2, 2000)
    marker = inputs.POISON_MARKER.encode()
    assert all((marker in body) == poison for poison, body in got)
    share = sum(p for p, _ in got) / len(got)
    assert abs(share - inputs.POISON_SHARE) < 0.03


def test_correlation_drain_is_seeded_and_complete():
    cols, expected, n_orphans = inputs.correlation_drain(5, 2, 200, 0.1)
    assert (cols, expected, n_orphans) == inputs.correlation_drain(5, 2, 200, 0.1)
    assert cols != inputs.correlation_drain(6, 2, 200, 0.1)[0]
    assert n_orphans == 20 and len(expected) == 200
    rows = list(zip(cols["txn_id"], cols["kind"], cols["ts_ms"], cols["status"]))
    requests = {t: ts for t, k, ts, _ in rows if k == "request"}
    events = [(t, ts, st) for t, k, ts, st in rows if k == "event"]
    assert sorted(requests) == sorted(expected)
    answered = [(t, ts, st) for t, ts, st in events if t in expected]
    assert sorted(t for t, _, _ in answered) == sorted(expected)
    assert all(ts > requests[t] and st == expected[t] for t, ts, st in answered)
    assert len(events) - len(answered) == n_orphans


def test_headline_lists_are_frozen_copies():
    assert len(inputs.HEADLINE) == 41 and len(set(inputs.HEADLINE)) == 41
    assert set(inputs.TIMED_HEADLINE) <= set(inputs.HEADLINE)
    assert set(inputs.ROWS_ONLY_COUNTS) <= set(inputs.TIMED_HEADLINE)
