"""End-to-end pipeline: stage outputs, lineage, resume, export parity."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from navgraph_osm_spark.operators.graph_build import build_edges
from navgraph_osm_spark.operators.turn_expand import expand_turns
from navgraph_osm_spark.pipeline import run_full_pipeline
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

    # resume: tables already valid → stages skipped (same row counts, fast)
    out2 = run_full_pipeline(spark, wh, grid, res=12, resume=True)
    assert out2["turns"].count() == n_turns

    # corrupt one lineage file → only that stage recomputes
    with open(os.path.join(wh, "turns._lineage.json"), "w") as f:
        json.dump({"rows": -1}, f)
    out3 = run_full_pipeline(spark, wh, grid, res=12, resume=True)
    assert out3["turns"].count() == n_turns


def _part_files(table_dir: str, col: str) -> dict[str, set[tuple[str, int]]]:
    out: dict[str, set] = {}
    for d in os.listdir(table_dir):
        full = os.path.join(table_dir, d)
        if d.startswith(f"{col}=") and os.path.isdir(full):
            out[d.split("=", 1)[1]] = {
                (f, os.path.getsize(os.path.join(full, f)))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            }
    return out


def test_incremental_partition_resume(spark, tmp_path):
    """Partition-level incremental resume: touching ONE input partition
    recomputes only that partition's output — untouched output partition
    directories keep their parquet files byte-for-byte (name+size
    snapshot), the recomputed partition's files change, lineage row counts
    merge correctly, and a deep-verify resume then skips cleanly."""
    import pandas as pd

    from navgraph_osm_spark.plans.checkpoint import StageRunner

    src = str(tmp_path / "src")
    pdf = pd.DataFrame(
        {"pcol": [0] * 4 + [1] * 5 + [2] * 6, "x": list(range(15))}
    )
    spark.createDataFrame(pdf).write.partitionBy("pcol").parquet(src)
    wh = str(tmp_path / "wh")

    def make_runner():
        runner = StageRunner(spark, wh)

        def st_doubled(deps, partition_values=None):
            df = spark.read.parquet(src)
            if partition_values is not None:
                df = df.filter(
                    F.col("pcol").cast("string").isin(list(partition_values))
                )
            return df.select("pcol", (F.col("x") * 2).alias("y"))

        runner.stage(
            "doubled", st_doubled, partition_by=["pcol"],
            incremental_path=src, incremental_col="pcol",
        )
        return runner

    r1 = make_runner()
    out1 = r1.run()["doubled"]
    assert out1.count() == 15
    assert r1.last_run_report["stages_run"] == ["doubled"]
    table_dir = os.path.join(wh, "doubled")
    before = _part_files(table_dir, "pcol")

    # clean resume: nothing recomputed, files untouched
    r2 = make_runner()
    r2.run()
    assert r2.last_run_report["stages_run"] == []
    assert _part_files(table_dir, "pcol") == before

    # rewrite ONE input partition (pcol=1 gets an extra row)
    spark.createDataFrame(
        pd.DataFrame({"x": [100, 101, 102, 103, 104, 105]})
    ).write.mode("overwrite").parquet(os.path.join(src, "pcol=1"))

    r3 = make_runner()
    out3 = r3.run()["doubled"]
    assert r3.last_run_report["stages_run"] == ["doubled[1 partitions]"]
    after = _part_files(table_dir, "pcol")
    assert after["0"] == before["0"], "untouched partition 0 must keep its files"
    assert after["2"] == before["2"], "untouched partition 2 must keep its files"
    assert after["1"] != before["1"], "changed partition must be rewritten"
    # values: partition 1 now the doubled new rows; 0/2 unchanged
    got = sorted(
        (r["pcol"], r["y"]) for r in out3.filter("pcol = 1").collect()
    )
    assert got == [(1, v * 2) for v in (100, 101, 102, 103, 104, 105)]
    assert out3.count() == 4 + 6 + 6
    lineage = json.load(open(os.path.join(wh, "doubled._lineage.json")))
    assert lineage["rows"] == 16
    assert lineage["incremental"] == {"recomputed": ["1"]}
    assert {p["pcol"]: p["rows"] for p in lineage["partitions"]} == {
        "0": 4, "1": 6, "2": 6,
    }

    # deep-verify resume validates the merged lineage with a full count
    r4 = make_runner()
    r4.run(verify=True)
    assert r4.last_run_report["stages_run"] == []

    # removing an input partition falls back to a FULL recompute
    import shutil

    shutil.rmtree(os.path.join(src, "pcol=2"))
    r5 = make_runner()
    out5 = r5.run()["doubled"]
    assert r5.last_run_report["stages_run"] == ["doubled"]
    assert out5.count() == 10


def test_incremental_resume_chains_downstream(spark, tmp_path):
    """CHAINED partition-level resume: touching one input partition
    recomputes exactly that partition in BOTH downstream stages — the
    second stage declares ``partition_wise`` over the first, so its change
    set comes from the first stage's per-partition output fingerprints.
    Untouched output partitions keep their files byte-for-byte in both
    tables, and a deep-verify resume then skips everything."""
    import pandas as pd

    from navgraph_osm_spark.plans.checkpoint import StageRunner

    src = str(tmp_path / "src")
    pdf = pd.DataFrame(
        {"pcol": [0] * 3 + [1] * 4 + [2] * 5, "x": list(range(12))}
    )
    spark.createDataFrame(pdf).write.partitionBy("pcol").parquet(src)
    wh = str(tmp_path / "wh")

    def make_runner():
        runner = StageRunner(spark, wh)

        def st_doubled(deps, partition_values=None):
            df = spark.read.parquet(src)
            if partition_values is not None:
                df = df.filter(
                    F.col("pcol").cast("string").isin(list(partition_values))
                )
            return df.select("pcol", (F.col("x") * 2).alias("y"))

        def st_sum(deps, partition_values=None):
            df = deps["doubled"]
            if partition_values is not None:
                df = df.filter(
                    F.col("pcol").cast("string").isin(list(partition_values))
                )
            return df.groupBy("pcol").agg(F.sum("y").alias("s"))

        runner.stage(
            "doubled", st_doubled, partition_by=["pcol"],
            incremental_path=src, incremental_col="pcol",
        )
        runner.stage(
            "summed", st_sum, inputs=["doubled"], partition_by=["pcol"],
            partition_wise="pcol",
        )
        return runner

    r1 = make_runner()
    out1 = r1.run()
    assert out1["summed"].count() == 3
    assert r1.last_run_report["stages_run"] == ["doubled", "summed"]
    d_dir = os.path.join(wh, "doubled")
    s_dir = os.path.join(wh, "summed")
    d_before = _part_files(d_dir, "pcol")
    s_before = _part_files(s_dir, "pcol")

    # clean resume: nothing recomputed anywhere
    r2 = make_runner()
    r2.run()
    assert r2.last_run_report["stages_run"] == []

    # rewrite ONE input partition
    spark.createDataFrame(
        pd.DataFrame({"x": [100, 101]})
    ).write.mode("overwrite").parquet(os.path.join(src, "pcol=1"))

    r3 = make_runner()
    out3 = r3.run()
    assert r3.last_run_report["stages_run"] == [
        "doubled[1 partitions]", "summed[1 partitions]",
    ]
    d_after = _part_files(d_dir, "pcol")
    s_after = _part_files(s_dir, "pcol")
    for v in ("0", "2"):
        assert d_after[v] == d_before[v], f"doubled pcol={v} must keep files"
        assert s_after[v] == s_before[v], f"summed pcol={v} must keep files"
    assert d_after["1"] != d_before["1"]
    assert s_after["1"] != s_before["1"]
    got = {r["pcol"]: r["s"] for r in out3["summed"].collect()}
    assert got == {0: (0 + 1 + 2) * 2, 1: (100 + 101) * 2, 2: sum(range(7, 12)) * 2}

    # deep-verify resume validates the chained merged lineage
    r4 = make_runner()
    r4.run(verify=True)
    assert r4.last_run_report["stages_run"] == []


def test_incremental_resume_deletes_emptied_partition(spark, tmp_path):
    """A changed input partition whose recompute yields ZERO rows must
    DELETE the stale output partition (dynamic overwrite alone would leave
    the old files and rows behind), and the merged lineage must not count
    the removed rows."""
    import pandas as pd

    from navgraph_osm_spark.plans.checkpoint import StageRunner

    src = str(tmp_path / "src")
    pdf = pd.DataFrame({"pcol": [0] * 3 + [1] * 4, "x": list(range(7))})
    spark.createDataFrame(pdf).write.partitionBy("pcol").parquet(src)
    wh = str(tmp_path / "wh")

    def make_runner():
        runner = StageRunner(spark, wh)

        def st_pos(deps, partition_values=None):
            df = spark.read.parquet(src)
            if partition_values is not None:
                df = df.filter(
                    F.col("pcol").cast("string").isin(list(partition_values))
                )
            return df.filter(F.col("x") < 50).select("pcol", "x")

        runner.stage(
            "kept", st_pos, partition_by=["pcol"],
            incremental_path=src, incremental_col="pcol",
        )
        return runner

    r1 = make_runner()
    assert r1.run()["kept"].count() == 7

    # partition 1's rows all move above the filter threshold → zero output
    spark.createDataFrame(
        pd.DataFrame({"x": [100, 101, 102]})
    ).write.mode("overwrite").parquet(os.path.join(src, "pcol=1"))

    r2 = make_runner()
    out2 = r2.run()["kept"]
    assert r2.last_run_report["stages_run"] == ["kept[1 partitions]"]
    assert out2.count() == 3, "stale pcol=1 rows must not survive"
    assert not os.path.isdir(os.path.join(wh, "kept", "pcol=1"))
    lineage = json.load(open(os.path.join(wh, "kept._lineage.json")))
    assert lineage["rows"] == 3
    assert {p["pcol"] for p in lineage["partitions"]} == {"0"}

    # and the deep-verify resume agrees with the merged lineage
    r3 = make_runner()
    r3.run(verify=True)
    assert r3.last_run_report["stages_run"] == []


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
