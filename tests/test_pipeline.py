"""End-to-end pipeline: stage outputs, lineage, resume, export parity."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from navgraph_osm_spark.operators.graph_build import build_edges
from navgraph_osm_spark.operators.turn_expand import expand_turns
from navgraph_osm_spark.pipeline import build_pipeline, run_full_pipeline
from navgraph_osm_spark.sources.synth import gen_road_grid


@pytest.fixture(scope="module")
def grid(spark):
    return gen_road_grid(spark, rows=4, cols=4, seed=42)


def test_pipeline_end_to_end_and_resume(spark, grid, tmp_path):
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    out = run_full_pipeline(spark, wh, grid, res=12)

    # stage outputs match direct operator composition
    edges_direct = build_edges(grid["nodes"], grid["ways"], grid["way_nodes"], res=12)
    turns_direct = expand_turns(edges_direct, grid["restrictions"])
    assert out["edges"].count() == edges_direct.count()
    assert out["turns"].count() == turns_direct.count()
    assert out["export"].count() == turns_direct.count()
    got_pairs = {
        (r["src_edge_id"], r["tgt_edge_id"]) for r in out["turns"].collect()
    }
    want_pairs = {
        (r["src_edge_id"], r["tgt_edge_id"]) for r in turns_direct.collect()
    }
    assert got_pairs == want_pairs

    counts = out["counts"].first()
    assert counts["nodes_kept"] == 16  # every grid node used by 2 ways
    assert counts["ways_used"] == 8

    # lineage sidecars: per-partition rows for the partitioned stage
    with open(os.path.join(wh, "edges._lineage.json")) as f:
        lin = json.load(f)
    assert lin["rows"] == out["edges"].count()
    assert lin["partition_by"] == ["part_cell"] and len(lin["partitions"]) >= 1

    n_turns = out["turns"].count()

    def resume():
        runner = build_pipeline(
            spark, wh, grid["nodes"], grid["ways"], grid["way_nodes"],
            grid["restrictions"], res=12,
        )
        return runner.run(resume=True), runner.last_run_report["stages_run"]

    # resume: tables already valid → every stage skipped
    out2, ran = resume()
    assert ran == []
    assert out2["turns"].count() == n_turns

    # corrupt one lineage file → that stage and its dependents recompute
    with open(os.path.join(wh, "turns._lineage.json"), "w") as f:
        json.dump({"rows": -1}, f)
    out3, ran = resume()
    assert ran == ["turns", "export"]
    assert out3["turns"].count() == n_turns


def test_lineage_counts_from_file_metadata_equal_count(spark, tmp_path):
    """Lineage row counts are read from parquet footers after the write
    (no count job) and must equal what Spark counts: the total and every
    partition of a two-column hive layout, including the null partition
    and a value that hive escapes in its directory name."""
    from navgraph_osm_spark.plans.checkpoint import StageRunner

    rows = [(i % 3 if i % 7 else None, "a:b" if i % 2 else "c d", i) for i in range(40)]
    src = spark.createDataFrame(rows, "p1 int, p2 string, v int")
    runner = StageRunner(spark, str(tmp_path / "wh"))
    runner.stage("flat", lambda deps: src)
    runner.stage("parts", lambda deps: src, partition_by=["p1", "p2"])
    out = runner.run()

    for name in ("flat", "parts"):
        with open(tmp_path / "wh" / f"{name}._lineage.json") as f:
            lineage = json.load(f)
        assert lineage["rows"] == out[name].count() == 40
    want = {
        (str(r["p1"]), str(r["p2"])): r["n"]
        for r in out["parts"].groupBy("p1", "p2").agg(F.count("*").alias("n")).collect()
    }
    got = {(p["p1"], p["p2"]): p["rows"] for p in lineage["partitions"]}
    assert got == want and len(got) == 8
