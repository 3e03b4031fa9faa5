import time

import pytest

from spans import Span, Tracer, covered, inclusive_counts, self_times
from workloads import layer_totals


def _span(i, name, parent, start, end, jobs=0):
    return Span(i, name, parent, start, end, jobs=jobs)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_only_direct_children():
    spans = [
        _span(0, "root", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 3.0),
        _span(2, "b", 0, 2.0, 5.0),
        _span(3, "leaf", 2, 2.5, 4.5),
        _span(4, "c", 0, 8.0, 10.0),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[2] == pytest.approx(3.0 - 2.0)
    assert got[3] == pytest.approx(2.0)


def test_inclusive_counts_add_descendants():
    spans = [
        _span(0, "query", None, 0, 4, jobs=1),
        _span(1, "plans.build", 0, 0, 2, jobs=2),
        _span(2, "operators.pin", 1, 0.5, 1, jobs=3),
    ]
    counts = inclusive_counts(spans)
    assert [counts[i]["jobs"] for i in range(3)] == [6, 5, 3]


def test_layer_totals_count_outermost_spans_once():
    spans = [
        _span(0, "streaming.checkpoint", None, 0.0, 1.0),
        _span(1, "streaming.checkpoint", 0, 0.2, 0.4),
        _span(2, "streaming.checkpoint", None, 2.0, 2.5),
    ]
    tot = layer_totals(spans, "streaming.checkpoint")
    assert tot["calls"] == 2
    assert tot["s"] == pytest.approx(1.5)
    assert tot["self_s"] == pytest.approx(1.3)


class _SlowContext:
    """The SparkContext calls a span makes, each taking ``delay``."""

    def __init__(self, delay):
        self.delay = delay
        self.props = {}

    def _wait(self):
        time.sleep(self.delay)

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def setJobGroup(self, group, description):
        self._wait()
        self.props["spark.jobGroup.id"] = group

    def statusTracker(self):
        self._wait()
        return self

    def getJobIdsForGroup(self, group):
        return []


def test_overhead_covers_a_parent_wall_outside_its_children():
    tracer = Tracer(_SlowContext(0.01))
    with tracer.span("query"):
        with tracer.span("plans.build"):
            pass
        with tracer.span("exec.action"):
            time.sleep(0.02)
    query, build, action = (next(s for s in tracer.spans if s.name == n) for n in ("query", "plans.build", "exec.action"))
    gap = query.duration - build.duration - action.duration
    assert gap >= 0.04  # two children, each a job group set and a status read
    assert gap <= tracer.overhead_s
    assert tracer.overhead_s >= 0.06  # three spans, each a set and a read
