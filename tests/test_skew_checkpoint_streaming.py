"""Skew handling, checkpoint/resume runner, streaming windows."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from navgraph_osm_spark import cells
from navgraph_osm_spark.operators.skew import adaptive_cell_split, cell_histogram, salted_repartition
from navgraph_osm_spark.plans.checkpoint import StageRunner


@pytest.fixture(scope="module")
def skewed_points(spark):
    rng = np.random.default_rng(21)
    # 5000 points in one city block + 500 scattered
    lat = np.concatenate([48.85 + rng.normal(scale=0.002, size=5000), rng.uniform(-60, 60, 500)])
    lng = np.concatenate([2.35 + rng.normal(scale=0.002, size=5000), rng.uniform(-150, 150, 500)])
    pdf = pd.DataFrame({"pid": np.arange(lat.size, dtype=np.int64), "lat": lat, "lng": lng})
    return spark.createDataFrame(pdf)


def test_adaptive_cell_split_bounds_density(skewed_points):
    out = adaptive_cell_split(skewed_points, res=8, threshold=500, max_extra_levels=4)
    hist = cell_histogram(out, "part_cell").toPandas()
    # rows preserved, no cell above threshold unless it hit the level cap at
    # max depth (possible for ultra-dense identical coordinates — not here)
    assert hist["n_rows"].sum() == skewed_points.count()
    deep = cells.cell_res(hist["part_cell"].to_numpy())
    over = hist[hist["n_rows"] > 500]
    assert (deep[hist.index.isin(over.index)] == 12).all()
    # every part_cell is the ancestor-or-self of its rows' finest cell
    sample = out.limit(200).toPandas()
    got_res = cells.cell_res(sample["part_cell"].to_numpy())
    for _, r in sample.iterrows():
        c = cells.latlng_to_cell(np.array([r["lat"]]), np.array([r["lng"]]), int(cells.cell_res(np.array([r["part_cell"]]))[0]))
        assert int(c[0]) == r["part_cell"]


def test_salted_repartition_spreads(skewed_points):
    df = skewed_points.withColumn("cell", F.expr(cells.cell_expr("lat", "lng", 8)))
    out = salted_repartition(df, "cell", salt_buckets=8, partitions=8)
    assert out.count() == df.count()
    assert out.select("salt").distinct().count() == 8


def test_stage_runner_resume(spark, tmp_path):
    wh = str(tmp_path / "wh")
    os.makedirs(wh, exist_ok=True)
    calls = {"a": 0, "b": 0}

    def make_runner():
        runner = StageRunner(spark, wh)

        def stage_a(deps):
            calls["a"] += 1
            return spark.range(100).withColumn("k", F.pmod("id", F.lit(4)))

        def stage_b(deps):
            calls["b"] += 1
            return deps["a"].groupBy("k").agg(F.count("*").alias("n"))

        runner.stage("a", stage_a, partition_by=["k"])
        runner.stage("b", stage_b, inputs=["a"])
        return runner

    r1 = make_runner().run(resume=True)
    assert r1["b"].count() == 4
    assert calls == {"a": 1, "b": 1}
    # lineage sidecars written, with per-partition counts for the partitioned stage
    with open(os.path.join(wh, "a._lineage.json")) as f:
        lin = json.load(f)
    assert lin["rows"] == 100 and len(lin["partitions"]) == 4
    # resume: nothing recomputed
    r2 = make_runner().run(resume=True)
    assert calls == {"a": 1, "b": 1}
    assert r2["b"].count() == 4
    # force: recomputed
    make_runner().run(resume=False)
    assert calls == {"a": 2, "b": 2}


def test_stage_runner_upstream_recompute_propagates(spark, tmp_path):
    """If an upstream stage is re-executed (invalid output), every downstream
    stage must re-execute too — even when its own output still validates —
    so resumed runs never serve results computed from stale inputs."""
    wh = str(tmp_path / "wh2")
    os.makedirs(wh, exist_ok=True)
    calls = {"a": 0, "b": 0, "c": 0}
    size = {"n": 100}

    def make_runner():
        runner = StageRunner(spark, wh)

        def stage_a(deps):
            calls["a"] += 1
            return spark.range(size["n"]).withColumn("k", F.pmod("id", F.lit(4)))

        def stage_b(deps):
            calls["b"] += 1
            return deps["a"].groupBy("k").agg(F.count("*").alias("n"))

        def stage_c(deps):
            calls["c"] += 1
            return deps["b"].agg(F.sum("n").alias("total"))

        runner.stage("a", stage_a)
        runner.stage("b", stage_b, inputs=["a"])
        runner.stage("c", stage_c, inputs=["b"])
        return runner

    make_runner().run(resume=True)
    assert calls == {"a": 1, "b": 1, "c": 1}
    # invalidate a (lineage gone) and change its data; b/c outputs still
    # validate in isolation but must be rebuilt from the new a
    os.remove(os.path.join(wh, "a._lineage.json"))
    size["n"] = 200
    r = make_runner().run(resume=True)
    assert calls == {"a": 2, "b": 2, "c": 2}
    assert r["c"].first()["total"] == 200


def test_stage_runner_resume_is_metadata_only(spark, tmp_path):
    """A fully-valid resume issues ZERO full-table scans: validation reads
    parquet footers and file listings only (round-2 verdict finding #5).
    Enforced by making DataFrame.count raise during the resumed run."""
    import pyspark.sql

    wh = str(tmp_path / "wh3")
    os.makedirs(wh, exist_ok=True)

    def make_runner():
        runner = StageRunner(spark, wh)
        runner.stage("a", lambda deps: spark.range(50).withColumn(
            "k", F.pmod("id", F.lit(2))))
        runner.stage(
            "b", lambda deps: deps["a"].groupBy("k").agg(F.count("*").alias("n")),
            inputs=["a"],
        )
        return runner

    make_runner().run(resume=True)
    orig_count = pyspark.sql.DataFrame.count

    def _no_scan(self):
        raise AssertionError("resume must not run a full-table count")

    pyspark.sql.DataFrame.count = _no_scan
    try:
        r = make_runner().run(resume=True)
    finally:
        pyspark.sql.DataFrame.count = orig_count
    assert r["b"].count() == 2
    # ... while verify=True is the explicit deep check and DOES count
    make_runner().run(resume=True, verify=True)


def test_stage_runner_content_change_same_cardinality(spark, tmp_path):
    """An upstream recomputed with UNCHANGED row count must still invalidate
    downstream — staleness is content fingerprints, not row counts."""
    wh = str(tmp_path / "wh4")
    os.makedirs(wh, exist_ok=True)
    calls = {"b": 0}
    mult = {"v": 1}

    def make_runner():
        runner = StageRunner(spark, wh)
        runner.stage("a", lambda deps: spark.range(100).select(
            (F.col("id") * mult["v"]).alias("x")))

        def stage_b(deps):
            calls["b"] += 1
            return deps["a"].agg(F.sum("x").alias("s"))

        runner.stage("b", stage_b, inputs=["a"])
        return runner

    make_runner().run(resume=True)
    assert calls["b"] == 1
    # force a to rebuild with different CONTENT but the same 100 rows
    os.remove(os.path.join(wh, "a._lineage.json"))
    mult["v"] = 2
    r = make_runner().run(resume=True)
    assert calls["b"] == 2
    assert r["b"].first()["s"] == 2 * sum(range(100))


def test_stage_runner_external_fingerprint(spark, tmp_path):
    """Closure-captured inputs participate in staleness via the stage's
    external fingerprint: a changed source invalidates the checkpoint even
    though no upstream STAGE changed."""
    wh = str(tmp_path / "wh5")
    os.makedirs(wh, exist_ok=True)
    calls = {"a": 0}
    src = {"fp": "v1", "n": 10}

    def make_runner():
        runner = StageRunner(spark, wh)

        def stage_a(deps):
            calls["a"] += 1
            return spark.range(src["n"])

        runner.stage("a", stage_a, external=lambda: src["fp"])
        return runner

    make_runner().run(resume=True)
    make_runner().run(resume=True)
    assert calls["a"] == 1  # unchanged external → skip
    src["fp"], src["n"] = "v2", 20
    r = make_runner().run(resume=True)
    assert calls["a"] == 2  # changed external → rebuild
    assert r["a"].count() == 20


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # the streaming file source requires a directory, not a single file
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "part-0.parquet")
    return str(d)


def test_streaming_tumbling_counts(spark, events_dir):
    from navgraph_osm_spark.streaming.events import read_events_stream, run_to_memory, tumbling_counts

    stream = read_events_stream(spark, events_dir)
    run_to_memory(tumbling_counts(stream, "1 hour", "2 hours"), "tumbling_out", mode="complete")
    got = spark.sql("SELECT sum(n) AS total FROM tumbling_out").first()["total"]
    want = spark.read.parquet(events_dir).count()
    assert got == want


def test_streaming_stateful_running_stats(spark, events_dir):
    """applyInPandasWithState: per-user running stats must converge to the
    batch groupBy answer once all files are processed (update mode keeps the
    LAST row per user the current one)."""
    from navgraph_osm_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        running_user_stats,
    )

    stream = read_events_stream(spark, events_dir)
    run_to_memory(running_user_stats(stream), "running_stats_out", mode="update")
    # update mode appends one row per user per micro-batch; latest wins
    got = spark.sql(
        """
        SELECT user_id, n_events, total_value, max_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY n_events DESC) AS rn FROM running_stats_out) WHERE rn = 1
        """
    ).toPandas().set_index("user_id").sort_index()
    want = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got["n_events"] == want["n_events"]).all()
    assert np.allclose(got["total_value"], want["total_value"])
    assert np.allclose(got["max_value"], want["max_value"])


def test_streaming_geofence_matches_batch(spark, tmp_path_factory):
    """Stream-static geofencing: the streaming PIP join over a file-source
    point stream must produce exactly the batch point_in_polygon_join
    pairs (a rect zone via the rect fast path AND a triangle zone via the
    ray-cast refinement), and the windowed per-zone counts must sum to the
    matched row count."""
    from navgraph_osm_spark.operators.spatial_join import point_in_polygon_join
    from navgraph_osm_spark.streaming.events import run_to_memory
    from navgraph_osm_spark.streaming.spatial import (
        geofence_window_counts,
        streaming_geofence_join,
    )

    rng = np.random.default_rng(33)
    n = 2000
    pdf = pd.DataFrame({
        "point_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime("2026-01-01")
        + pd.to_timedelta(rng.integers(0, 3600, n), unit="s"),
        "lat": rng.uniform(48.0, 49.5, n),
        "lng": rng.uniform(1.5, 3.5, n),
    })
    d = tmp_path_factory.mktemp("geo_stream")
    # several files → several micro-batches
    for i in range(4):
        spark.createDataFrame(pdf.iloc[i * 500:(i + 1) * 500]).write.mode(
            "overwrite"
        ).parquet(str(d / f"chunk{i}"))
    import shutil

    for i in range(4):
        src = [f for f in os.listdir(d / f"chunk{i}") if f.endswith(".parquet")]
        for j, f in enumerate(src):
            shutil.copy(d / f"chunk{i}" / f, d / f"part-{i}-{j}.parquet")
        shutil.rmtree(d / f"chunk{i}")

    zones = spark.createDataFrame(
        pd.DataFrame([
            {"poly_id": 1, "footprint": [  # rect zone (rect fast path)
                {"lat": 48.2, "lng": 1.8}, {"lat": 48.2, "lng": 2.6},
                {"lat": 48.9, "lng": 2.6}, {"lat": 48.9, "lng": 1.8}]},
            {"poly_id": 2, "footprint": [  # triangle zone (ray-cast path)
                {"lat": 48.9, "lng": 2.0}, {"lat": 49.4, "lng": 3.4},
                {"lat": 48.9, "lng": 3.4}]},
        ]),
        "poly_id long, footprint array<struct<lat:double,lng:double>>",
    )

    batch_pts = spark.read.parquet(str(d))
    want = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(batch_pts, zones, res=8).collect()
    }
    assert want, "fixture must produce matches"
    assert {p for _, p in want} == {1, 2}, "both zone kinds must match"

    stream = (
        spark.readStream.format("parquet")
        .schema("point_id long, ts timestamp, lat double, lng double")
        .option("maxFilesPerTrigger", 2)
        .load(str(d))
    )
    matched = streaming_geofence_join(stream, zones, res=8)
    run_to_memory(matched, "geofence_out", mode="append")
    got = {
        (r["point_id"], r["poly_id"])
        for r in spark.sql("SELECT * FROM geofence_out").collect()
    }
    assert got == want

    counts = geofence_window_counts(matched, "15 minutes", "1 hour")
    run_to_memory(counts, "geofence_counts_out", mode="complete")
    total = spark.sql(
        "SELECT sum(n_points) AS t FROM geofence_counts_out"
    ).first()["t"]
    assert total == len(want)


def test_streaming_geofence_transitions(spark, tmp_path_factory):
    """Stateful ENTER/EXIT detection: scripted paths through two zones
    across micro-batches must emit exactly the transitions a batch
    recompute derives (per-ping zone sets diffed in event-time order),
    including exit-to-nowhere (left join keeps zone-less pings) and
    first-ping enters."""
    from navgraph_osm_spark.operators.spatial_join import point_in_polygon_join
    from navgraph_osm_spark.streaming.events import run_to_memory
    from navgraph_osm_spark.streaming.spatial import geofence_transitions

    zones = spark.createDataFrame(
        pd.DataFrame([
            {"poly_id": 1, "footprint": [
                {"lat": 0.0, "lng": 0.0}, {"lat": 0.0, "lng": 10.0},
                {"lat": 10.0, "lng": 10.0}, {"lat": 10.0, "lng": 0.0}]},
            {"poly_id": 2, "footprint": [  # overlaps zone 1 on lng 5-10
                {"lat": 0.0, "lng": 5.0}, {"lat": 0.0, "lng": 15.0},
                {"lat": 10.0, "lng": 15.0}, {"lat": 10.0, "lng": 5.0}]},
        ]),
        "poly_id long, footprint array<struct<lat:double,lng:double>>",
    )
    # point 1 walks east through zone1 -> overlap -> zone2 -> outside;
    # point 2 starts inside the overlap and leaves north
    base = pd.Timestamp("2026-01-01")
    steps = [
        (1, 0, 5.0, 2.0), (1, 1, 5.0, 7.0), (1, 2, 5.0, 12.0), (1, 3, 5.0, 20.0),
        (2, 0, 5.0, 7.0), (2, 1, 20.0, 7.0), (2, 2, 5.0, 7.0),
    ]
    pdf = pd.DataFrame({
        "point_id": [s[0] for s in steps],
        "ts": [base + pd.Timedelta(minutes=s[1]) for s in steps],
        "lat": [s[2] for s in steps],
        "lng": [s[3] for s in steps],
    })
    d = tmp_path_factory.mktemp("trans_stream")
    # one file per time step, written in order → ordered micro-batches
    for i, (_us, grp) in enumerate(
        sorted(pdf.groupby(pdf["ts"].astype("int64")), key=lambda kv: kv[0])
    ):
        tmp = d / f"w{i}"
        spark.createDataFrame(grp).coalesce(1).write.parquet(str(tmp))
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(tmp / src, d / f"part-{i}.parquet")
        import shutil

        shutil.rmtree(tmp)

    stream = (
        spark.readStream.format("parquet")
        .schema("point_id long, ts timestamp, lat double, lng double")
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    out = geofence_transitions(stream, zones, res=6)
    run_to_memory(out, "transitions_out", mode="append")
    got = {
        (r["point_id"], r["ts"], r["zone"], r["event"])
        for r in spark.sql("SELECT * FROM transitions_out").collect()
    }

    # batch oracle: per-ping zone sets (left join) diffed in ts order
    batch_pts = spark.createDataFrame(pdf)
    matched = point_in_polygon_join(batch_pts, zones, res=6, carry=("ts",))
    memb: dict[tuple, set] = {}
    for r in matched.collect():
        memb.setdefault((r["point_id"], r["ts"]), set()).add(r["poly_id"])
    want = set()
    for pid, grp in pdf.groupby("point_id"):
        prev: set = set()
        for _, row in grp.sort_values("ts").iterrows():
            now = memb.get((row["point_id"], row["ts"]), set())
            for z in now - prev:
                want.add((pid, row["ts"], z, "enter"))
            for z in prev - now:
                want.add((pid, row["ts"], z, "exit"))
            prev = now
    assert got == want
    # the scripted path must exercise every transition kind
    assert {ev for _, _, _, ev in want} == {"enter", "exit"}


def test_streaming_proximity_join_matches_batch(spark, tmp_path_factory):
    """Stream-static proximity alerts: the streamed distance join must
    equal the batch distance join pair-for-pair across micro-batches."""
    from navgraph_osm_spark.operators.knn import distance_join
    from navgraph_osm_spark.streaming.events import run_to_memory
    from navgraph_osm_spark.streaming.spatial import streaming_proximity_join

    rng = np.random.default_rng(41)
    n = 600
    pdf = pd.DataFrame({
        "left_id": np.arange(n, dtype=np.int64),
        "lat": rng.uniform(48.0, 49.5, n),
        "lng": rng.uniform(1.5, 3.5, n),
    })
    d = tmp_path_factory.mktemp("prox_stream")
    import shutil

    for i in range(3):
        tmp = d / f"w{i}"
        spark.createDataFrame(pdf.iloc[i * 200:(i + 1) * 200]).coalesce(1)\
            .write.parquet(str(tmp))
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(tmp / src, d / f"part-{i}.parquet")
        shutil.rmtree(tmp)
    places = spark.createDataFrame(pd.DataFrame({
        "right_id": np.arange(25, dtype=np.int64),
        "lat": rng.uniform(48.0, 49.5, 25),
        "lng": rng.uniform(1.5, 3.5, 25),
    })).localCheckpoint(eager=True)

    batch = spark.read.parquet(str(d))
    want = {
        (r["left_id"], r["right_id"])
        for r in distance_join(batch, places, 10.0, res=9).collect()
    }
    assert want, "fixture must produce pairs"

    stream = (
        spark.readStream.format("parquet")
        .schema("left_id long, lat double, lng double")
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    out = streaming_proximity_join(stream, places, 10.0, res=9)
    run_to_memory(out, "prox_out", mode="append")
    got = {
        (r["left_id"], r["right_id"])
        for r in spark.sql("SELECT * FROM prox_out").collect()
    }
    assert got == want


def test_streaming_knn_tracker_matches_batch(spark, tmp_path_factory):
    """Running top-k per static query over a point stream: after all
    micro-batches drain, each query's max-version snapshot must equal the
    batch brute-force kNN over the full point set (ring sized to cover
    the whole fixture region, so completeness is exact)."""
    from navgraph_osm_spark.operators.knn import knn_join_bruteforce
    from navgraph_osm_spark.streaming.events import run_to_memory
    from navgraph_osm_spark.streaming.spatial import streaming_knn_tracker

    rng = np.random.default_rng(55)
    n = 450
    pdf = pd.DataFrame({
        "point_id": np.arange(n, dtype=np.int64),
        "lat": rng.uniform(48.0, 49.0, n),
        "lng": rng.uniform(2.0, 3.0, n),
    })
    d = tmp_path_factory.mktemp("knn_stream")
    import shutil

    for i in range(3):
        tmp = d / f"w{i}"
        spark.createDataFrame(pdf.iloc[i * 150:(i + 1) * 150]).coalesce(1)\
            .write.parquet(str(tmp))
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(tmp / src, d / f"part-{i}.parquet")
        shutil.rmtree(tmp)
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(8, dtype=np.int64),
        "lat": rng.uniform(48.2, 48.8, 8),
        "lng": rng.uniform(2.2, 2.8, 8),
    })).localCheckpoint(eager=True)

    stream = (
        spark.readStream.format("parquet")
        .schema("point_id long, lat double, lng double")
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    # res 7 cells are ~1.4 deg: ring 2 covers the whole 1-deg fixture box
    out = streaming_knn_tracker(stream, queries, k=5, res=7, ring=2)
    run_to_memory(out, "knn_track_out", mode="update")
    snap = spark.sql("""
        SELECT query_id, point_id, dist_km, rank FROM (
          SELECT *, max(version) OVER (PARTITION BY query_id) AS vmax
          FROM knn_track_out) WHERE version = vmax
    """).collect()
    got = {(r["query_id"], r["rank"]): (r["point_id"], round(r["dist_km"], 9))
           for r in snap}

    batch = spark.read.parquet(str(d))
    want = {
        (r["query_id"], r["rank"]): (r["point_id"], round(r["dist_km"], 9))
        for r in knn_join_bruteforce(batch, queries, k=5).collect()
    }
    assert got == want
    assert len(want) == 8 * 5


def test_streaming_session_windows(spark, events_dir):
    from navgraph_osm_spark.streaming.events import read_events_stream, run_to_memory, session_windows

    stream = read_events_stream(spark, events_dir)
    run_to_memory(session_windows(stream, "30 minutes", "2 hours"), "session_out", mode="complete")
    sess = spark.sql("SELECT * FROM session_out")
    assert sess.count() > 0
    assert sess.filter(F.col("session_end") < F.col("session_start")).count() == 0
    total = spark.sql("SELECT sum(n_events) AS t FROM session_out").first()["t"]
    assert total == spark.read.parquet(events_dir).count()
