"""Grading-freshness lint (r8, verdict task 7): the driver grades only
the first 50 registered queries per round, so freshness is a rotation
discipline — this test turns it from memory into CI.

Rule: every registered query must either (a) have a green driver row
within the last 4 rounds, (b) sit inside the upcoming round's 50-row
window (``_GRADE_FIRST`` ordering), or (c) — ONE grace round only — sit
in the explicit ``_GRADE_LAST`` deferral list at exactly the freshness
horizon, provided the whole deferral list fits the next window. "Green"
= rows_match true, or the rows-only tier (err == 'no_oracle' with a
recorded row count) that the two float fits grade under by design.

Why (c) exists (r9): the driver grades the CLOSING commit's window,
so the round-N+1 rotation can only land in round N+1's first commit —
at the instant CORRECTNESS_rN.json lands, rows graded exactly
MAX_STALENESS+1 rounds ago are mechanically impossible to have both
(been deferred out of round N's window) and (already be in a rotated
window). Requiring (b) for them made the suite red at every judge
checkpoint BY CONSTRUCTION (r8's one failure). The grace clause keeps
the hard guarantee — a row can never go MAX_STALENESS+2 rounds without
a green row, because one round later ``current - last`` exceeds the
horizon and only (b) can save it — while being satisfiable at the only
moment the builder cannot commit. The deferral-fits-the-window check
preserves the schedulability invariant the lint exists for.

No SparkSession needed — this parses CORRECTNESS_r*.json history and the
registration order only.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # the driver's per-round grading cap
MAX_STALENESS = 4  # rounds a green row stays fresh


def _latest_green() -> tuple[dict[str, int], int]:
    last: dict[str, int] = {}
    rounds = []
    for f in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        rounds.append(rnd)
        with open(f) as fh:
            for name, v in json.load(fh).items():
                green = v.get("rows_match") is True or (
                    v.get("err") == "no_oracle"
                    and v.get("spark_rows") is not None
                )
                if green:
                    last[name] = max(last.get(name, 0), rnd)
    assert rounds, "no CORRECTNESS_r*.json history found"
    return last, max(rounds) + 1  # next driver round


def test_no_registered_query_staler_than_window():
    from vectorsearch_applications_spark.queries import (
        _GRADE_LAST,
        get_queries,
    )

    last, current = _latest_green()
    names = list(get_queries())
    window = set(names[:WINDOW])
    deferred = set(_GRADE_LAST) & set(names)
    # the grace clause is only valid if the deferral list is actually
    # schedulable in one round (otherwise some member MUST be in the
    # window already)
    grace_ok = len(deferred) <= WINDOW
    stale = sorted(
        n
        for n in names
        if n not in window
        and last.get(n, 0) < current - MAX_STALENESS
        and not (
            grace_ok
            and n in deferred
            and last.get(n, 0) == current - MAX_STALENESS - 1
        )
    )
    assert not stale, (
        f"{len(stale)} queries have no green driver row in the last "
        f"{MAX_STALENESS} rounds, are not in the upcoming {WINDOW}-row "
        "window, and are past the one-round _GRADE_LAST grace — rotate "
        f"them into _GRADE_FIRST: {stale}"
    )


def test_rotation_is_schedulable_forever():
    """Registry-capacity policy (r10 verdict task 2, the committed
    decision): with the 4-round horizon + 1 grace round the hard
    capacity is 5×50 = 250 registered queries, held with headroom by
    retiring superseded rows and backfill-smoothing (each round grades
    its obligatory cohort, then backfills free slots with the oldest
    members of the next cohort — see the _GRADE_FIRST comment in
    queries.py). This test PROVES schedulability for the registry at
    HEAD: simulate the greedy rotation forward 20 rounds from the real
    CORRECTNESS history and assert no round's obligatory cohort (rows
    that would go stale past the grace if unscheduled) ever exceeds the
    window. If a registration push breaks this, the fix is retiring
    rows or pre-grading a cohort — BEFORE the round where it strands."""
    from vectorsearch_applications_spark.queries import get_queries

    last, current = _latest_green()
    names = list(get_queries())
    assert len(names) <= (MAX_STALENESS + 1) * WINDOW, (
        f"registry ({len(names)}) exceeds hard rotation capacity "
        f"{(MAX_STALENESS + 1) * WINDOW}"
    )
    # never-graded rows seed at the obligation horizon: the companion
    # lint (test_never_graded_queries_are_in_window) forces them into
    # the IMMEDIATE window, so the simulation must schedule them in its
    # first round too — seeding them "fresh" would let an unschedulable
    # registration push (e.g. 60 new rows at once) simulate as feasible
    sim = {n: last.get(n, current - MAX_STALENESS - 1) for n in names}
    for rnd in range(current, current + 20):
        # obligatory: unscheduled would exceed horizon + grace next round
        oblig = [n for n in names if sim[n] <= rnd - MAX_STALENESS - 1]
        assert len(oblig) <= WINDOW, (
            f"simulated round {rnd}: {len(oblig)} obligatory re-grades "
            f"exceed the {WINDOW}-row window — retire rows or pre-grade"
        )
        # backfill free slots with the oldest remaining vintage
        rest = sorted(
            (n for n in names if n not in set(oblig)), key=lambda n: sim[n]
        )
        for n in oblig + rest[: WINDOW - len(oblig)]:
            sim[n] = rnd


def test_never_graded_queries_are_in_window():
    # a brand-new query that misses the window would ship ungraded
    from vectorsearch_applications_spark.queries import get_queries

    last, _ = _latest_green()
    names = list(get_queries())
    window = set(names[:WINDOW])
    missing = sorted(n for n in names if n not in last and n not in window)
    assert not missing, (
        f"never-driver-graded queries outside the upcoming window: {missing}"
    )


def test_grade_order_rejects_bad_rotation_lists(monkeypatch):
    # a typo in a hand-edited rotation list must not silently drop a
    # row from (or double-count it in) the window
    import pytest

    from vectorsearch_applications_spark import queries as q

    registered = list(q.get_queries())
    first = registered[0]
    bad = [
        ([*q._GRADE_FIRST, "no_such_query"], q._GRADE_LAST, "no_such_query"),
        ([*q._GRADE_FIRST, first], q._GRADE_LAST, first),
        (q._GRADE_FIRST, [*q._GRADE_LAST, first], first),
    ]
    for grade_first, grade_last, offender in bad:
        monkeypatch.setattr(q, "_GRADE_FIRST", grade_first)
        monkeypatch.setattr(q, "_GRADE_LAST", grade_last)
        with pytest.raises(ValueError, match=offender):
            q.get_queries()
