"""Interval and span arithmetic behind driver gap, concurrency and self time."""

import pytest

from metrics import concurrency, op_spark_metrics
from spans import Span, Tracer, self_times, union_length


def _job(start, end, task_s=0.0):
    return {"start": start, "end": end, "tasks": 1, "failed_tasks": 0,
            "task_s": task_s, "task_cpu_s": task_s, "input_mb": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}


def test_union_of_disjoint_intervals_is_their_sum():
    assert union_length([(0, 1), (2, 4), (5, 5.5)]) == pytest.approx(3.5)


def test_union_of_overlapping_intervals_counts_overlap_once():
    assert union_length([(0, 3), (1, 2), (2.5, 4), (10, 11)]) == pytest.approx(5)


def test_driver_gap_and_concurrency_with_overlapping_jobs():
    # two jobs overlap on [2, 3]; in-job wall is [1, 4] = 3 s of a 10 s op
    jobs = [_job(1, 3, task_s=4.0), _job(2, 4, task_s=2.0)]
    m = op_spark_metrics(jobs, start=0, end=10)
    assert m["jobs"] == 2
    assert m["in_job_s"] == pytest.approx(3)
    assert m["driver_gap_s"] == pytest.approx(7)
    assert concurrency(m["task_s"], m["in_job_s"]) == pytest.approx(2)


def test_driver_gap_with_disjoint_jobs_and_clipping_to_the_op():
    # the second job is clipped to the op's end at 6
    jobs = [_job(1, 2, task_s=1.0), _job(5, 8, task_s=1.0)]
    m = op_spark_metrics(jobs, start=0, end=6)
    assert m["in_job_s"] == pytest.approx(2)
    assert m["driver_gap_s"] == pytest.approx(4)
    assert concurrency(m["task_s"], m["in_job_s"]) == pytest.approx(1)


def test_concurrency_without_jobs_is_zero():
    assert concurrency(0.0, 0.0) == 0.0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(0, "op", "op", 0.0, 10.0),
        Span(1, "build", "queries", 1.0, 6.0, parent=0),
        Span(2, "load", "tables", 2.0, 3.0, parent=1),
        Span(3, "load", "tables", 2.5, 4.0, parent=1),  # overlaps span 2
        Span(4, "action", "queries", 6.0, 9.0, parent=0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10 - 5 - 3)
    assert st["queries"] == pytest.approx((5 - 2) + 3)
    assert st["tables"] == pytest.approx(1 + 1.5)
    assert sum(st.values()) == pytest.approx(10 + 0.5)  # overlap counted twice


def test_tracer_records_nested_spans_of_wrapped_calls():
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: next(ticks))

    class Layer:
        def inner(self):
            return 1

        def outer(self):
            return self.inner() + 1

    tr.wrap(Layer, "inner", "layer.inner", "layer")
    tr.wrap(Layer, "outer", "layer.outer", "layer")
    assert Layer().outer() == 2 and tr.spans == []  # disabled: pass-through
    tr.enabled, tr.op = True, 7
    with tr.span("op", "op"):
        assert Layer().outer() == 2
    names = [(s.name, s.parent, s.op) for s in tr.spans]
    assert names == [("op", None, 7), ("layer.outer", 0, 7), ("layer.inner", 1, 7)]
    assert all(s.end > s.start for s in tr.spans)


def test_pass_s_is_the_median_warm_pass_and_skips_the_cold_one():
    from metrics import end_to_end

    res = {
        "setup_s": 1.0, "checks": [],
        "passes": [{"wall_s": w, "ops": [{"op": "a", "wall_s": w}]}
                   for w in (9.0, 4.0, 2.0, 3.0, 8.0)],
    }
    m = end_to_end(res, peak_rss_bytes=0, failures=0)
    assert m["cold_pass_s"] == pytest.approx(9.0)
    assert m["pass_s"] == pytest.approx(3.5)
