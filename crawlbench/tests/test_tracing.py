"""Per-iteration timing of the graph operators from stamped jobs."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402


def job(site, end):
    return {"site": site, "end": end}


def test_iteration_times_group_jobs_by_action_call():
    lc = "operators.graph:hits:localCheckpoint#"
    jobs = [job(lc + "0", 1.0),  # node set
            # round 1: three checkpoints, the first launched two jobs
            job(lc + "1", 2.0), job(lc + "1", 2.5), job(lc + "2", 3.0),
            job(lc + "3", 4.0),
            # round 2
            job(lc + "4", 5.0), job(lc + "5", 6.0), job(lc + "6", 8.0),
            job("operators.graph:hits:collect#7", 9.0)]
    assert tracing.iteration_times(jobs, 2) == pytest.approx([3.0, 4.0])


def test_iteration_times_needs_every_round():
    jobs = [job("operators.graph:pagerank:localCheckpoint#0", 1.0)]
    assert tracing.iteration_times(jobs, 2) == []
