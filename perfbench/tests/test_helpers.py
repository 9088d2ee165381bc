"""Tests for the benchmark's own helpers: span self time, stage attribution
and counter roll-up, plan exchange counting and the output fingerprint."""

import pytest

from perfbench.checks import fingerprint_of
from perfbench.trace import (
    LAYERS,
    Span,
    aggregate_stages,
    attribute_stages,
    count_exchanges,
    layer_metrics,
    self_times,
)


def _span(sid, name, start, end, parent=None, **counters):
    return Span(sid, name, start, "t", parent, end, counters=counters)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(0, "plans.checkpoint", 0.0, 10.0),
        _span(1, "operators.graph_build", 1.0, 3.0, parent=0),
        _span(2, "operators.turn_expand", 2.0, 5.0, parent=0),  # overlaps span 1
        _span(3, "operators.export", 8.0, 12.0, parent=0),  # runs past the parent
        _span(4, "operators.graph_build", 1.5, 2.5, parent=1),  # grandchild
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 8.0))
    assert got[1] == pytest.approx(2.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(1.0)


def test_self_time_without_children_is_duration():
    assert self_times([_span(7, "cells", 2.0, 2.5)]) == {7: pytest.approx(0.5)}


def test_stage_goes_to_span_of_first_job_that_lists_it():
    # span 1's job 5 reuses stage 10, which span 0's job 3 ran
    got = attribute_stages({0: [3], 1: [5, 6]}, {3: [10, 11], 5: [10, 12], 6: [13]})
    assert got == {0: [10, 11], 1: [12, 13]}


def _stage(sid, run_ms, tasks=4, status="COMPLETE", med=10.0, mx=20.0, **kw):
    rec = {"stage_id": sid, "status": status, "tasks": tasks, "run_ms": run_ms,
           "shuffle_write": 0, "shuffle_read": 0, "spill_disk": 0,
           "dur_median": med, "dur_max": mx}
    rec.update(kw)
    return rec


def test_aggregate_stages_sums_and_takes_skew_of_heaviest_stage():
    got = aggregate_stages([
        _stage(1, 1500, shuffle_write=100, spill_disk=7),
        _stage(2, 4000, tasks=8, med=50.0, mx=400.0, shuffle_write=30),
        _stage(3, 9999, status="SKIPPED"),
        _stage(4, 0, tasks=0),
    ])
    assert got["busy_s"] == pytest.approx(5.5)
    assert got["tasks"] == 12
    assert got["shuffle_bytes"] == 130
    assert got["spill_bytes"] == 7
    assert got["task_skew"] == pytest.approx(8.0)
    assert got["heaviest_run_ms"] == 4000


def test_aggregate_stages_of_span_without_jobs():
    got = aggregate_stages([])
    assert got["busy_s"] == 0 and got["tasks"] == 0 and got["task_skew"] == 0.0


def test_layer_metrics_cover_every_layer_and_sum_spans():
    c1 = aggregate_stages([_stage(1, 1000, med=10.0, mx=30.0)])
    c2 = aggregate_stages([_stage(2, 3000, med=10.0, mx=20.0)])
    spans = [
        _span(0, "operators.spatial_join", 0.0, 2.0, **c1),
        _span(1, "operators.spatial_join", 3.0, 4.0, **c2),
        _span(2, "verify", 4.0, 9.0),
    ]
    spans[0].rows_out, spans[1].rows_out, spans[1].exchanges = 5, 7, 2
    got = layer_metrics(spans)
    assert len(got) == len(LAYERS) * 9
    assert got["operators.spatial_join.wall_s"] == pytest.approx(3.0)
    assert got["operators.spatial_join.busy_s"] == pytest.approx(4.0)
    assert got["operators.spatial_join.tasks"] == 8
    assert got["operators.spatial_join.rows_out"] == 12
    assert got["operators.spatial_join.exchanges"] == 2
    assert got["operators.spatial_join.task_skew"] == pytest.approx(2.0)  # stage 2 is heavier
    assert got["cells.wall_s"] == 0.0


def test_count_exchanges_skips_reused_exchanges():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1L], functions=[count(1)])
   +- Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS, [plan_id=20]
      +- BroadcastHashJoin [a#2L], [b#3L], Inner, BuildRight, false
         :- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=15]
         :  +- FileScan parquet [a#2L]
         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]))
            +- ReusedExchange [b#3L], Exchange RoundRobinPartitioning(4)
"""
    assert count_exchanges(plan) == 3


def test_fingerprint_is_order_independent_and_wraps():
    rows = [3, -5, 2**63 - 1, -(2**63)]
    assert fingerprint_of(len(rows), sum(rows)) == fingerprint_of(4, sum(reversed(rows)))
    assert fingerprint_of(1, -1) == "1:ffffffffffffffff"
    assert fingerprint_of(0, None) == "0:0000000000000000"


@pytest.fixture(scope="module")
def spark():
    from navgraph_osm_spark.session import get_spark

    s = get_spark("perfbench-tests", parallelism=2)
    yield s
    s.stop()


def test_summarize_ignores_partitioning_and_order_and_sees_changes(spark):
    from pyspark.sql import functions as F

    from perfbench.checks import summarize

    df = spark.range(0, 1000).select(F.col("id").alias("a"), (F.col("id") % 7).alias("b"))
    base = summarize(df, ["a", "b"], F.col("a") < 3, ["a", "b"])
    shuffled = summarize(df.repartition(5).orderBy(F.desc("a")), ["a", "b"])
    changed = summarize(df.withColumn("b", F.when(F.col("a") == 500, 99).otherwise(F.col("b"))),
                        ["a", "b"])
    assert base["rows"] == 1000
    assert base["fingerprint"] == shuffled["fingerprint"]
    assert base["fingerprint"] != changed["fingerprint"]
    assert sorted(base["sample"]) == [(0, 0), (1, 1), (2, 2)]
