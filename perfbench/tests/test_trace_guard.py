"""The traced run must fail rather than under-report when Spark's status
store has evicted jobs or stages a span launched.

    python3 -m pytest perfbench/tests/test_trace_guard.py -q

No Spark session: ``JobReader`` reads through stand-ins for the status
tracker and the status store.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import JobReader, TraceError  # noqa: E402


class _Option:
    def __init__(self, value):
        self.value = value

    def isDefined(self):  # noqa: N802 - scala.Option
        return self.value is not None

    def get(self):
        return SimpleNamespace(getTime=lambda: self.value)


class _Stage:
    def __init__(self, sid):
        self.sid = sid

    def status(self):
        return SimpleNamespace(toString=lambda: "COMPLETE")

    def numTasks(self):  # noqa: N802 - StageData accessors
        return 4

    def executorRunTime(self):  # noqa: N802
        return 100

    def inputBytes(self):  # noqa: N802
        return 10

    def outputBytes(self):  # noqa: N802
        return 0

    def shuffleReadBytes(self):  # noqa: N802
        return 0

    def shuffleWriteBytes(self):  # noqa: N802
        return 0

    def memoryBytesSpilled(self):  # noqa: N802
        return 0

    def diskBytesSpilled(self):  # noqa: N802
        return 0


class _EvictedStage(Exception):
    """What ``lastStageAttempt`` raises for a stage no longer held."""


def reader(jobs: dict[int, list[int]], stages: set[int]) -> JobReader:
    """A JobReader over a store that holds ``jobs`` (id -> stage ids)
    and only the stages in ``stages``."""

    def stage(sid):
        if sid not in stages:
            raise _EvictedStage(sid)
        return _Stage(sid)

    r = JobReader.__new__(JobReader)
    r.sc = SimpleNamespace(statusTracker=lambda: SimpleNamespace(
        getJobInfo=lambda jid: SimpleNamespace(status="SUCCEEDED", stageIds=jobs[jid])
        if jid in jobs else None))
    r.store = SimpleNamespace(
        job=lambda jid: SimpleNamespace(submissionTime=lambda: _Option(1000),
                                        completionTime=lambda: _Option(1500)),
        lastStageAttempt=stage,
    )
    r.seen_stages = set()
    return r


def test_held_jobs_are_counted(monkeypatch):
    monkeypatch.setattr("perfbench.trace.Py4JJavaError", _EvictedStage)
    t = reader({1: [10, 11], 2: [11, 12]}, {10, 11, 12}).read([1, 2])
    # stage 11 belongs to both jobs and is counted once
    assert (t.jobs, t.stages, t.tasks, t.input_bytes) == (2, 3, 12, 30)


def test_evicted_job_fails_the_read(monkeypatch):
    monkeypatch.setattr("perfbench.trace.Py4JJavaError", _EvictedStage)
    with pytest.raises(TraceError, match="job 2"):
        reader({1: [10]}, {10}).read([1, 2])


def test_evicted_stage_fails_the_read(monkeypatch):
    monkeypatch.setattr("perfbench.trace.Py4JJavaError", _EvictedStage)
    with pytest.raises(TraceError, match="stage 11"):
        reader({1: [10, 11]}, {10}).read([1])
