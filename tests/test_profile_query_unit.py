"""Unit checks for tools/profile_query.py's driver-gap arithmetic: jobs
that overlap or nest count once, so the gap is the wall minus the union of
the job intervals inside the query span and is never negative."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from profile_query import idle_gaps  # noqa: E402


@pytest.mark.parametrize(
    ("jobs", "want_gap", "want_per_job"),
    [
        ([], 10.0, []),
        ([(1.0, 3.0), (5.0, 6.0)], 7.0, [1.0, 2.0]),  # disjoint
        ([(1.0, 5.0), (2.0, 7.0)], 4.0, [1.0, 0.0]),  # overlapping
        ([(1.0, 8.0), (2.0, 3.0), (4.0, 9.0)], 2.0, [1.0, 0.0, 0.0]),  # nested
        ([(1.0, 8.0), (2.0, 3.0), (8.5, 9.0)], 2.5, [1.0, 0.0, 0.5]),  # gap after a nested job
        ([(-2.0, 1.0), (9.0, 12.0)], 8.0, [0.0, 8.0]),  # clipped to the span
        ([(-3.0, -1.0), (11.0, 12.0)], 10.0, [0.0, 10.0]),  # wholly outside the span
    ],
)
def test_idle_gaps_is_wall_minus_union_of_jobs(jobs, want_gap, want_per_job):
    gap, per_job = idle_gaps(0.0, 10.0, jobs)
    assert gap == pytest.approx(want_gap)
    assert per_job == pytest.approx(want_per_job)


def test_idle_gaps_never_negative_when_jobs_fill_the_span_many_times():
    jobs = [(0.0, 10.0)] * 5 + [(1.0, 11.0)]
    gap, per_job = idle_gaps(0.0, 10.0, jobs)
    assert gap == 0.0
    assert per_job == [0.0] * 6
