"""Span arithmetic and status-store scoping."""

from perfbench.trace import NullTracer, Span, StatusStore, Tracer, covered, self_time


def _span(i, parent, start, end):
    return Span(id=i, name=f"s{i}", parent=parent, run_id="r", start=start, end=end)


def test_covered_merges_overlaps_and_clips_to_the_window():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_time_subtracts_only_direct_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: covered once
        _span(3, 1, 1.5, 2.0),  # grandchild: already inside span 1
        _span(4, None, 11.0, 12.0),
    ]
    assert self_time(spans[0], spans) == 10.0 - 5.0
    assert self_time(spans[1], spans) == 3.0 - 0.5
    assert self_time(spans[4], spans) == 1.0


def test_tracer_records_parents_and_top_level():
    tr = Tracer(None, "run")
    with tr.span("a", spark=False):
        with tr.span("b", spark=False):
            pass
    with tr.span("c", spark=False):
        pass
    assert [(s.name, s.parent) for s in tr.spans] == [("a", None), ("b", 0), ("c", None)]
    assert [s.name for s in tr.top_level()] == ["a", "c"]
    assert all(s.run_id == "run" and s.end >= s.start for s in tr.spans)
    with NullTracer().span("x") as sp:
        assert sp is None


def test_a_span_never_picks_up_jobs_of_the_span_before(spark):
    sc = spark.sparkContext
    tr = Tracer(StatusStore(spark), "run")
    df = spark.range(0, 2000, numPartitions=4)
    groups = ("perfbench-first", "perfbench-second")
    with tr.span("first"):
        sc.setJobGroup(groups[0], "first")
        df.count()
        df.selectExpr("id % 7 AS k").groupBy("k").count().collect()
    with tr.span("second"):
        sc.setJobGroup(groups[1], "second")
        df.count()
    sc.setJobGroup("perfbench-none", "none")
    with tr.span("idle"):
        pass
    first, second, idle = tr.spans
    for sp, group in zip((first, second), groups):
        assert sp.job_ids == sorted(sc.statusTracker().getJobIdsForGroup(group))
        assert sp.spark["jobs"] == len(sp.job_ids) >= 1
    assert max(first.job_ids) < min(second.job_ids)
    assert idle.job_ids == [] and idle.spark["tasks"] == 0
    assert first.spark["shuffle_write_bytes"] > 0
