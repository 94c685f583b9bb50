"""Tests for the traced run's span recorder and status-store reader.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from spans import Span, StageAttempt, Tracer, inclusive, own_stage_totals, self_seconds  # noqa: E402


def attempt(sid, att=0, status="COMPLETE", t=100, run_ms=1000):
    return StageAttempt(sid, att, status, t, run_ms, run_ms * 10**6, 0, 0, 0)


# -- pure arithmetic --------------------------------------------------------


def test_stage_listed_by_two_jobs_counts_once():
    seen: set[int] = set()
    out = own_stage_totals([attempt(1), attempt(1), attempt(2)], 0, 1000, [], seen)
    assert out["task_s"] == 2.0 and seen == {1, 2}
    # read again at the span's next boundary: nothing new
    again = own_stage_totals([attempt(1), attempt(2)], 0, 1000, [], seen)
    assert again["task_s"] == 0.0


def test_only_completed_attempts_count():
    out = own_stage_totals(
        [attempt(1, 0, "FAILED"), attempt(1, 1, "COMPLETE"), attempt(2, 0, "SKIPPED"),
         attempt(3, 0, "ACTIVE")],
        0, 1000, [], set(),
    )
    assert out["task_s"] == 1.0


def test_reused_stage_from_before_the_span_is_skipped():
    # a reused shuffle stage keeps its first run's submission time
    out = own_stage_totals([attempt(1, t=50), attempt(2, t=150)], 100, 1000, [], set())
    assert out["task_s"] == 1.0


def test_stages_inside_child_windows_are_excluded():
    out = own_stage_totals(
        [attempt(1, t=150), attempt(2, t=250), attempt(3, t=350)], 100, 1000, [(200, 300)], set()
    )
    assert out["task_s"] == 2.0


def test_self_seconds_and_inclusive_counters():
    spans = {
        1: Span(1, "op", None, 1, start=0.0, end=10.0, children=[2, 3]),
        2: Span(2, "a", 1, 1, start=1.0, end=4.0),
        3: Span(3, "b", 1, 1, start=5.0, end=9.5),
    }
    spans[1].own["task_s"] = 1.0
    spans[2].own["task_s"] = 2.0
    spans[3].own["task_s"] = 4.0
    assert self_seconds(spans[1], spans) == pytest.approx(2.5)
    assert self_seconds(spans[1], spans) + spans[2].wall + spans[3].wall == spans[1].wall
    assert inclusive(spans[1], spans)["task_s"] == 7.0
    assert spans[1].own["task_s"] == 1.0


# -- against a live session -------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from scheduler_spark.session import get_spark

    s = get_spark(app_name="perfbench_tests", parallelism=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_short_span_reads_task_time(spark):
    t = Tracer(spark, 2)
    span = t.begin("short")
    spark.range(0, 200_000, numPartitions=2).selectExpr("sum(id * 3)").collect()
    t.end(span)
    assert span.own["jobs"] >= 1
    assert span.own["task_s"] > 0.0
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_reused_shuffle_stage_counts_in_the_span_that_ran_it(spark):
    sc = spark.sparkContext
    pairs = sc.parallelize(range(20_000), 4).map(lambda x: (x % 7, 1)).reduceByKey(
        lambda a, b: a + b, 2
    )
    t = Tracer(spark, 2)
    first = t.begin("first")
    pairs.count()
    pairs.count()  # same map stage id, listed again by the second job
    t.end(first)
    second = t.begin("second")
    pairs.count()  # reuses the map stage's shuffle output
    t.end(second)
    # first: map stage once + two result stages; second: one result stage
    assert len(first._seen_stages) == 3
    assert len(second._seen_stages) == 1
    assert first._seen_stages.isdisjoint(second._seen_stages)
    assert first.own["jobs"] == 2 * second.own["jobs"] > 0


def test_children_plus_self_equal_op_wall_and_parent_excludes_child_stages(spark):
    layer = types.ModuleType("layer")
    layer.group = lambda df: df.selectExpr("id % 5 as k").groupBy("k").count()
    t = Tracer(spark, 2)
    t.wrap(layer, "group", "child")
    out = t.call("op", lambda: (
        spark.range(1000).count(),
        layer.group(spark.range(50_000)).count(),  # forced in the child: read from its checkpoint
        spark.range(1000).count(),
    ))
    assert out[1] == 5
    op = next(s for s in t.spans.values() if s.name == "op")
    child = t.spans[op.children[0]]
    assert child.parent == op.span_id and child.op_id == op.span_id
    assert child.own["jobs"] >= 1
    assert op._seen_stages.isdisjoint(child._seen_stages)
    recs = {r["name"]: r for r in t.records()}
    assert recs["op"]["self_s"] + recs["child"]["wall_s"] == pytest.approx(recs["op"]["wall_s"])
    assert recs["op"]["inclusive"]["jobs"] == op.own["jobs"] + child.own["jobs"]


def test_wrappers_are_restored(spark, tmp_path):
    from scheduler_spark.catalog import Catalog

    mod = types.ModuleType("fake_layer")
    mod.build = lambda df: df.filter("id % 2 = 0")
    original = mod.build
    cat = Catalog(str(tmp_path / "cat"), spark)
    t = Tracer(spark, 2)
    t.wrap(mod, "build", "layer.build", rows_in=True, rows_out=True)
    t.wrap_method(cat, "append", "catalog.append", table_arg=1)
    assert mod.build is not original and "append" in vars(cat)

    df = mod.build(spark.range(10))
    cat.append(df, "t")
    spans = {s.name: s for s in t.spans.values()}
    assert spans["layer.build"].extra == {"rows_in": 10.0, "rows_out": 5.0}
    assert spans["catalog.append"].extra["files_written"] >= 1
    assert "trace.probe" in spans

    t.restore()
    assert mod.build is original
    assert "append" not in vars(cat) and cat.append.__func__ is Catalog.append
