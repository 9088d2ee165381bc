"""Spatial join, tiling, kNN vs engine-independent numpy oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from navgraph_osm_spark import cells
from navgraph_osm_spark.functions.geo import haversine_np, points_in_polygon_np
from navgraph_osm_spark.operators.knn import knn_join, knn_join_bruteforce, min_ring_for_radius
from navgraph_osm_spark.operators.spatial_join import (
    covering_cells,
    point_in_polygon_join,
    tile_assignment,
)

RES = 12


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(400, dtype=np.int64),
            "lat": rng.uniform(48.0, 49.5, 400),
            "lng": rng.uniform(1.5, 3.5, 400),
        }
    )
    return spark.createDataFrame(pdf), pdf


@pytest.fixture(scope="module")
def polygons(spark):
    rng = np.random.default_rng(5)
    rows = []
    for i in range(30):
        clat = rng.uniform(48.2, 49.3)
        clng = rng.uniform(1.7, 3.3)
        r = rng.uniform(0.02, 0.25)
        nv = int(rng.integers(3, 8))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rows.append(
            {
                "poly_id": i,
                "footprint": [
                    {"lat": clat + r * np.sin(a), "lng": clng + r * np.cos(a)}
                    for a in ang
                ],
            }
        )
    schema = "poly_id long, footprint array<struct<lat:double,lng:double>>"
    return spark.createDataFrame(pd.DataFrame(rows), schema=schema), rows


def test_covering_cells_contain_polygon_cells(spark, polygons):
    poly_df, rows = polygons
    got = covering_cells(poly_df, RES).select("poly_id", "cell").toPandas()
    by_poly = got.groupby("poly_id")["cell"].apply(set)
    for r in rows:
        lats = np.array([p["lat"] for p in r["footprint"]])
        lngs = np.array([p["lng"] for p in r["footprint"]])
        vert_cells = set(cells.latlng_to_cell(lats, lngs, RES).tolist())
        assert vert_cells <= by_poly[r["poly_id"]], r["poly_id"]


def test_pip_join_matches_numpy_oracle(points, polygons):
    pts_df, pts_pdf = points
    poly_df, rows = polygons
    got = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(pts_df, poly_df, RES).collect()
    }
    want = set()
    for r in rows:
        inside = points_in_polygon_np(
            pts_pdf["lat"].to_numpy(),
            pts_pdf["lng"].to_numpy(),
            np.array([p["lat"] for p in r["footprint"]]),
            np.array([p["lng"] for p in r["footprint"]]),
        )
        want |= {(int(pid), r["poly_id"]) for pid in pts_pdf["point_id"][inside]}
    assert got == want
    assert len(want) > 0


def test_pip_bbox_superset(points, polygons):
    pts_df, _ = points
    poly_df, _ = polygons
    exact = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(pts_df, poly_df, RES, exact=True).collect()
    }
    coarse = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(pts_df, poly_df, RES, exact=False).collect()
    }
    assert exact <= coarse


def test_tile_assignment_oracle(spark):
    from navgraph_osm_spark.sources.synth import gen_images

    imgs = gen_images(spark, 200, seed=42, partitions=4)
    got = tile_assignment(imgs, RES).toPandas()
    rows = imgs.select("image_id", "footprint").collect()
    for r in rows[:50]:
        lats = np.array([p["lat"] for p in r["footprint"]])
        lngs = np.array([p["lng"] for p in r["footprint"]])
        x0, y1 = cells.latlng_to_xy(lats.max(), lngs.min(), RES)
        x1, y0 = cells.latlng_to_xy(lats.min(), lngs.max(), RES)
        want = {
            int(cells.xy_to_cell(np.array([x]), np.array([y]), RES)[0])
            for x in range(int(x0), int(x1) + 1)
            for y in range(int(y1), int(y0) + 1)
        }
        got_cells = set(got[got["image_id"] == r["image_id"]]["cell"].tolist())
        assert got_cells == want, r["image_id"]


def test_pip_join_same_lat_different_lng_polygons(spark, points):
    """Two polygons with identical lat arrays but different lng arrays must
    not be conflated (regression: an earlier refinement kernel grouped
    candidate rows by lat bytes only)."""
    pts_df, pts_pdf = points
    # triangles (non-rect → ray-cast path) in the same latitude row
    tri = lambda lng0: [  # noqa: E731
        {"lat": 48.2, "lng": lng0},
        {"lat": 49.3, "lng": lng0 + 0.5},
        {"lat": 48.2, "lng": lng0 + 1.0},
    ]
    poly_df = spark.createDataFrame(
        pd.DataFrame([{"poly_id": 0, "footprint": tri(1.6)},
                      {"poly_id": 1, "footprint": tri(2.4)}]),
        schema="poly_id long, footprint array<struct<lat:double,lng:double>>",
    )
    got = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(pts_df, poly_df, RES).collect()
    }
    want = set()
    for pid, lng0 in ((0, 1.6), (1, 2.4)):
        fp = tri(lng0)
        inside = points_in_polygon_np(
            pts_pdf["lat"].to_numpy(), pts_pdf["lng"].to_numpy(),
            np.array([p["lat"] for p in fp]), np.array([p["lng"] for p in fp]),
        )
        want |= {(int(i), pid) for i in pts_pdf["point_id"][inside]}
    assert got == want
    assert len(got) > 0


def test_pip_rect_fast_path_matches_kernel(spark, points):
    """Axis-aligned rectangles (decided in codegen) and equivalent 5-point
    closed rings / reversed orders must all match the numpy oracle."""
    pts_df, pts_pdf = points
    r0 = [  # plain perimeter order
        {"lat": 48.3, "lng": 1.8}, {"lat": 48.3, "lng": 2.6},
        {"lat": 49.1, "lng": 2.6}, {"lat": 49.1, "lng": 1.8},
    ]
    r1 = r0 + [r0[0]]  # explicitly closed ring (5 points)
    r2 = list(reversed(r0))  # opposite winding
    bowtie = [r0[0], r0[2], r0[1], r0[3]]  # NOT a rectangle: ray-cast path
    poly_df = spark.createDataFrame(
        pd.DataFrame(
            [{"poly_id": i, "footprint": fp} for i, fp in enumerate([r0, r1, r2, bowtie])]
        ),
        schema="poly_id long, footprint array<struct<lat:double,lng:double>>",
    )
    got = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(pts_df, poly_df, RES).collect()
    }
    want = set()
    for pid, fp in enumerate([r0, r1, r2, bowtie]):
        inside = points_in_polygon_np(
            pts_pdf["lat"].to_numpy(), pts_pdf["lng"].to_numpy(),
            np.array([p["lat"] for p in fp]), np.array([p["lng"] for p in fp]),
        )
        want |= {(int(i), pid) for i in pts_pdf["point_id"][inside]}
    assert got == want
    # sanity: rectangle formulations agree with each other
    for pid in (1, 2):
        assert {p for p, q in got if q == pid} == {p for p, q in got if q == 0}


def test_knn_ring_matches_bruteforce(points, spark):
    pts_df, pts_pdf = points
    queries = pts_df.limit(25).select(
        F.col("point_id").alias("query_id"), "lat", "lng"
    )
    k = 5
    # points span ~1.5deg; at RES=12 a big ring guarantees exactness
    ring = min_ring_for_radius(40.0, RES, lat_deg=49.0)
    got = knn_join(pts_df, queries, k, RES, ring=ring).toPandas()
    want = knn_join_bruteforce(pts_df, queries, k).toPandas()
    gs = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    ws = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(gs, ws, check_exact=False, rtol=1e-12)


def test_knn_bruteforce_matches_numpy(points):
    pts_df, pdf = points
    queries = pts_df.limit(5).select(F.col("point_id").alias("query_id"), "lat", "lng")
    got = knn_join_bruteforce(pts_df, queries, 3).toPandas()
    for qid, grp in got.groupby("query_id"):
        q = pdf[pdf["point_id"] == qid].iloc[0]
        d = haversine_np(q["lat"], q["lng"], pdf["lat"].to_numpy(), pdf["lng"].to_numpy())
        order = np.lexsort((pdf["point_id"].to_numpy(), d))[:3]
        assert grp.sort_values("rank")["point_id"].tolist() == pdf["point_id"].to_numpy()[order].tolist()


def test_pip_join_multiring_holes(spark, points):
    """Multi-ring footprints (ring_offsets column): a donut and a two-shell
    multipolygon, refined by ring-summed even-odd crossings.  The join must
    equal the numpy oracle with the SAME ring splitting, and a point inside
    the hole must never match."""
    pts_df, pdf = points
    rows = [
        {  # donut: outer box with a centered hole
            "poly_id": 1,
            "footprint": [
                {"lat": 48.2, "lng": 1.8}, {"lat": 48.2, "lng": 3.2},
                {"lat": 49.3, "lng": 3.2}, {"lat": 49.3, "lng": 1.8},
                {"lat": 48.5, "lng": 2.2}, {"lat": 48.5, "lng": 2.8},
                {"lat": 49.0, "lng": 2.8}, {"lat": 49.0, "lng": 2.2},
            ],
            "ring_offsets": [0, 4],
        },
        {  # two disjoint shells in ONE polygon (multipolygon relation)
            "poly_id": 2,
            "footprint": [
                {"lat": 48.1, "lng": 1.6}, {"lat": 48.1, "lng": 2.0},
                {"lat": 48.4, "lng": 2.0}, {"lat": 48.4, "lng": 1.6},
                {"lat": 49.1, "lng": 3.0}, {"lat": 49.1, "lng": 3.4},
                {"lat": 49.4, "lng": 3.4}, {"lat": 49.4, "lng": 3.0},
            ],
            "ring_offsets": [0, 4],
        },
        {  # plain triangle with a NULL ring_offsets (single ring)
            "poly_id": 3,
            "footprint": [
                {"lat": 48.3, "lng": 2.0}, {"lat": 48.3, "lng": 3.0},
                {"lat": 49.2, "lng": 2.0},
            ],
            "ring_offsets": None,
        },
    ]
    schema = ("poly_id long, footprint array<struct<lat:double,lng:double>>, "
              "ring_offsets array<int>")
    poly_df = spark.createDataFrame(pd.DataFrame(rows), schema=schema)

    def _oracle():
        want = set()
        for r in rows:
            fl = np.array([p["lat"] for p in r["footprint"]])
            fg = np.array([p["lng"] for p in r["footprint"]])
            ins = points_in_polygon_np(
                pdf["lat"].to_numpy(), pdf["lng"].to_numpy(), fl, fg,
                ring_starts=r["ring_offsets"],
            )
            want |= {(int(p), r["poly_id"]) for p in pdf["point_id"].to_numpy()[ins]}
        return want

    want = _oracle()
    assert want, "fixture must produce hits"
    got = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(pts_df, poly_df, RES).collect()
    }
    assert got == want
    # hole exclusion: a point dead-center of poly 1's hole is not a hit
    probe = spark.createDataFrame(
        pd.DataFrame({"point_id": [99001, 99002],
                      "lat": [48.75, 48.25], "lng": [2.5, 2.5]})
    )
    got = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(probe, poly_df, RES).collect()
    }
    assert (99001, 1) not in got       # inside the hole
    assert (99002, 1) in got           # inside the ring band


def test_pip_rect_fast_path_unaffected_by_ring_column(spark, points):
    """Single-ring rectangles with a ring_offsets column present (null or
    [0]) still take the codegen rect fast path — no Python stage planned.
    Non-rect inputs (a triangle and a donut) refine in codegen too."""
    pts_df, pdf = points
    rows = [
        {"poly_id": 7,
         "footprint": [
             {"lat": 48.4, "lng": 2.0}, {"lat": 48.4, "lng": 3.0},
             {"lat": 49.0, "lng": 3.0}, {"lat": 49.0, "lng": 2.0}],
         "ring_offsets": [0]},
        {"poly_id": 8,
         "footprint": [
             {"lat": 48.2, "lng": 1.9}, {"lat": 48.2, "lng": 2.4},
             {"lat": 48.9, "lng": 2.4}, {"lat": 48.9, "lng": 1.9}],
         "ring_offsets": None},
    ]
    schema = ("poly_id long, footprint array<struct<lat:double,lng:double>>, "
              "ring_offsets array<int>")
    poly_df = spark.createDataFrame(pd.DataFrame(rows), schema=schema)
    out = point_in_polygon_join(pts_df, poly_df, RES)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan and "MapInPandas" not in plan
    # results equal the half-open bbox semantics
    want = set()
    for r in rows:
        la = [p["lat"] for p in r["footprint"]]
        ln = [p["lng"] for p in r["footprint"]]
        m = ((pdf["lat"] >= min(la)) & (pdf["lat"] < max(la))
             & (pdf["lng"] >= min(ln)) & (pdf["lng"] < max(ln)))
        want |= {(int(p), r["poly_id"]) for p in pdf["point_id"][m]}
    got = {(r["point_id"], r["poly_id"]) for r in out.collect()}
    assert got == want
    nonrect = spark.createDataFrame(pd.DataFrame([
        {"poly_id": 9,
         "footprint": [
             {"lat": 48.2, "lng": 1.6}, {"lat": 49.3, "lng": 2.1},
             {"lat": 48.2, "lng": 2.6}],
         "ring_offsets": None},
        {"poly_id": 10,
         "footprint": [
             {"lat": 48.2, "lng": 1.8}, {"lat": 48.2, "lng": 3.2},
             {"lat": 49.3, "lng": 3.2}, {"lat": 49.3, "lng": 1.8},
             {"lat": 48.5, "lng": 2.2}, {"lat": 48.5, "lng": 2.8},
             {"lat": 49.0, "lng": 2.8}, {"lat": 49.0, "lng": 2.2}],
         "ring_offsets": [0, 4]},
    ]), schema=schema)
    plan = point_in_polygon_join(
        pts_df, nonrect, RES
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def _pnpoly(px, py, xs, ys):
    """Independent textbook even-odd crossing test (W. R. Franklin's
    PNPOLY construction — public-domain algorithm), used ONLY as an
    oracle: different edge iteration and intercept algebra than the
    engine kernel."""
    inside = False
    j = len(xs) - 1
    for i in range(len(xs)):
        if (ys[i] > py) != (ys[j] > py) and px < (xs[j] - xs[i]) * (
            py - ys[i]
        ) / (ys[j] - ys[i]) + xs[i]:
            inside = not inside
        j = i
    return inside


def test_multiring_kernel_vs_independent_pnpoly_oracle():
    """Random multi-ring polygons (1-3 rings, 3-9 vertices each) vs the
    independent PNPOLY oracle XOR'd across rings — random points never sit
    on edges, so the two constructions must agree everywhere."""
    rng = np.random.default_rng(77)
    for _ in range(120):
        n_rings = int(rng.integers(1, 4))
        ring_lat, ring_lng, starts = [], [], []
        for _r in range(n_rings):
            starts.append(len(ring_lat))
            nv = int(rng.integers(3, 10))
            clat, clng = rng.uniform(-60, 60), rng.uniform(-120, 120)
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            rad = rng.uniform(0.5, 4.0)
            ring_lat += list(clat + rad * np.sin(ang))
            ring_lng += list(clng + rad * np.cos(ang))
        fl = np.array(ring_lat)
        fg = np.array(ring_lng)
        plat = rng.uniform(-65, 65, 60)
        plng = rng.uniform(-125, 125, 60)
        got = points_in_polygon_np(plat, plng, fl, fg, ring_starts=starts)
        bounds = starts + [len(fl)]
        want = np.zeros(60, dtype=bool)
        for a, b in zip(bounds[:-1], bounds[1:]):
            want ^= np.array(
                [_pnpoly(x, y, fg[a:b], fl[a:b]) for y, x in zip(plat, plng)]
            )
        assert (got == want).all()


def test_distance_join_matches_bruteforce(spark):
    """Range join vs an exhaustive numpy oracle — mid-latitudes AND a
    poleward cluster (69-72°N, where lng cells narrow and the ring sizing
    must widen), two radii, including cross-cell-boundary pairs."""
    from navgraph_osm_spark.operators.knn import distance_join

    rng = np.random.default_rng(9)
    la = np.concatenate([rng.uniform(48, 50, 150), rng.uniform(69, 72, 50)])
    ln = np.concatenate([rng.uniform(1, 4, 150), rng.uniform(10, 20, 50)])
    lb = np.concatenate([rng.uniform(48, 50, 120), rng.uniform(69, 72, 40)])
    gb = np.concatenate([rng.uniform(1, 4, 120), rng.uniform(10, 20, 40)])
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": np.arange(200, dtype=np.int64), "lat": la, "lng": ln})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"right_id": np.arange(160, dtype=np.int64), "lat": lb, "lng": gb})
    )
    d = haversine_np(la[:, None], ln[:, None], lb[None, :], gb[None, :])
    for radius in (5.0, 40.0):
        want = {
            (int(i), int(j))
            for i, j in zip(*np.nonzero(d <= radius))
        }
        # BOTH ring modes must be exact: per-row adaptive (default) and
        # the uniform worst-latitude ring
        for kwargs in ({}, {"adaptive_ring": False}):
            got = {
                (r["left_id"], r["right_id"])
                for r in distance_join(
                    left, right, radius, res=10, **kwargs
                ).collect()
            }
            assert got == want, (radius, kwargs)
        # distances agree with the oracle to float tolerance
        one = distance_join(left, right, radius, res=10).collect()
        for r in one[:20]:
            assert abs(r["dist_km"] - d[r["left_id"], r["right_id"]]) < 1e-9


def test_distance_join_adaptive_near_pole(spark):
    """Adaptive per-row rings at 86-89°N (cells a few km wide at res 10):
    the poleward-width sizing and the 2^res cap must keep the join exact
    against the exhaustive oracle."""
    from navgraph_osm_spark.operators.knn import distance_join

    rng = np.random.default_rng(11)
    la = rng.uniform(86, 89, 80)
    ln = rng.uniform(-180, 180, 80)
    lb = rng.uniform(86, 89, 60)
    gb = rng.uniform(-180, 180, 60)
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": np.arange(80, dtype=np.int64), "lat": la, "lng": ln})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"right_id": np.arange(60, dtype=np.int64), "lat": lb, "lng": gb})
    )
    d = haversine_np(la[:, None], ln[:, None], lb[None, :], gb[None, :])
    want = {(int(i), int(j)) for i, j in zip(*np.nonzero(d <= 30.0))}
    got = {
        (r["left_id"], r["right_id"])
        for r in distance_join(left, right, 30.0, res=10).collect()
    }
    assert got == want
    assert want, "fixture must produce pairs"


def test_distance_join_plans_equi_join(spark):
    """The range join must plan as a cell equi join — never a cartesian or
    broadcast-nested-loop product."""
    from navgraph_osm_spark.operators.knn import distance_join

    a = spark.createDataFrame(
        pd.DataFrame({"left_id": [1, 2], "lat": [48.0, 49.0], "lng": [2.0, 3.0]})
    )
    b = spark.createDataFrame(
        pd.DataFrame({"right_id": [7], "lat": [48.5], "lng": [2.5]})
    )
    plan = distance_join(a, b, 25.0, res=10, max_abs_lat=50.0)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tile_assignment_plans_zero_shuffle(spark):
    """tile_assignment pairs are unique by construction, so the default
    plan must be pure codegen: no Exchange, no HashAggregate (the former
    distinct); dedupe=True restores the aggregate."""
    rows = [
        {"image_id": "a",
         "footprint": [{"lat": 1.0, "lng": 1.0}, {"lat": 1.0, "lng": 2.0},
                        {"lat": 2.0, "lng": 2.0}, {"lat": 2.0, "lng": 1.0}]},
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        "image_id string, footprint array<struct<lat:double,lng:double>>",
    )
    plan = tile_assignment(df, 8)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "HashAggregate" not in plan
    plan2 = tile_assignment(df, 8, dedupe=True)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "HashAggregate" in plan2


def test_split_antimeridian(spark):
    """A footprint straddling ±180° splits into tight west/east shells
    sharing the poly id; the PIP join over the split output finds points
    on BOTH sides of the seam with unique pairs, and non-straddling rows
    pass through bit-identical."""
    import pyspark.sql.functions as F

    from navgraph_osm_spark.operators.spatial_join import (
        clip_ring_at_meridian_np,
        split_antimeridian,
    )

    # numpy level: quad from lng 178 to -178 (width 4 deg across the seam)
    la = np.array([0.0, 0.0, 10.0, 10.0])
    ln = np.array([178.0, -178.0, -178.0, 178.0])
    west, east = clip_ring_at_meridian_np(la, ln)
    assert west[1].min() >= 178.0 and west[1].max() == 180.0
    assert east[1].min() == -180.0 and east[1].max() <= -178.0
    # non-straddling ring: no split
    assert clip_ring_at_meridian_np(la, np.array([1.0, 2.0, 2.0, 1.0])) is None

    spark_df_rows = [
        {"poly_id": 1, "footprint": [
            {"lat": 0.0, "lng": 178.0}, {"lat": 0.0, "lng": -178.0},
            {"lat": 10.0, "lng": -178.0}, {"lat": 10.0, "lng": 178.0}]},
        {"poly_id": 2, "footprint": [
            {"lat": 5.0, "lng": 1.0}, {"lat": 5.0, "lng": 2.0},
            {"lat": 6.0, "lng": 2.0}, {"lat": 6.0, "lng": 1.0}]},
    ]
    polys = spark.createDataFrame(
        pd.DataFrame(spark_df_rows),
        "poly_id long, footprint array<struct<lat:double,lng:double>>",
    )
    split = split_antimeridian(polys)
    got = split.collect()
    assert sorted(r["poly_id"] for r in got) == [1, 1, 2]
    # untouched row passes through exactly
    p2 = [r for r in got if r["poly_id"] == 2][0]["footprint"]
    assert [(p["lat"], p["lng"]) for p in p2] == [
        (5.0, 1.0), (5.0, 2.0), (6.0, 2.0), (6.0, 1.0)]

    pts = spark.createDataFrame(
        pd.DataFrame({
            "point_id": [1, 2, 3, 4],
            "lat": [5.0, 5.0, 5.0, 5.5],
            "lng": [179.0, -179.0, 0.0, 1.5],
        })
    )
    pairs = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(pts, split, res=6).collect()
    }
    assert pairs == {(1, 1), (2, 1), (4, 2)}
    # without the split, the straddling bbox would have matched nothing on
    # the short path OR exploded the candidate set — the split output also
    # keeps candidate bboxes tight:
    n_cells = covering_cells(split.filter("poly_id = 1"), 6).count()
    assert n_cells <= 16, n_cells  # two tight shells, not a full lng row


def test_split_antimeridian_multi_ring(spark):
    """A DONUT straddling ±180° splits into two donut halves — each side
    keeps its outer part plus its hole part with rebuilt ring_offsets —
    and the PIP join over the split output honors hole semantics on both
    sides of the seam (band points match, in-hole points do not)."""
    from navgraph_osm_spark.operators.spatial_join import split_antimeridian

    def ring(lat0, lat1, lng_w, lng_e):
        # perimeter order across the seam (west lngs positive, east negative)
        return [
            {"lat": lat0, "lng": lng_w}, {"lat": lat0, "lng": lng_e},
            {"lat": lat1, "lng": lng_e}, {"lat": lat1, "lng": lng_w},
        ]

    rows = [
        {"poly_id": 1,
         "footprint": ring(0.0, 10.0, 170.0, -170.0)      # outer, 20° wide
         + ring(3.0, 7.0, 176.0, -176.0),                  # hole, 8° wide
         "ring_offsets": [0, 4]},
        {"poly_id": 2,  # plain non-straddling donut passes through intact
         "footprint": ring(0.0, 10.0, 10.0, 30.0) + ring(3.0, 7.0, 16.0, 24.0),
         "ring_offsets": [0, 4]},
    ]
    polys = spark.createDataFrame(
        pd.DataFrame(rows),
        "poly_id long, footprint array<struct<lat:double,lng:double>>, "
        "ring_offsets array<int>",
    )
    split = split_antimeridian(polys)
    got = split.collect()
    assert sorted(r["poly_id"] for r in got) == [1, 1, 2]
    for r in got:
        lngs = [p["lng"] for p in r["footprint"]]
        assert max(lngs) - min(lngs) <= 180.0, r["poly_id"]
        if r["poly_id"] == 1:
            assert list(r["ring_offsets"] or []) and len(r["ring_offsets"]) == 2
    p2 = [r for r in got if r["poly_id"] == 2][0]
    assert [(p["lat"], p["lng"]) for p in p2["footprint"]] == [
        (p["lat"], p["lng"]) for p in rows[1]["footprint"]]

    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": [1, 2, 3, 4, 5],
        "lat": [5.0, 5.0, 5.0, 5.0, 5.0],
        # west band, east band, west hole, east hole, far away
        "lng": [172.0, -172.0, 178.0, -178.0, 0.0],
    }))
    pairs = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(pts, split, res=6).collect()
    }
    assert pairs == {(1, 1), (2, 1)}


def test_polygons_intersect_kernel_cases():
    from navgraph_osm_spark.functions.geo import polygons_intersect_np as isect

    sq = lambda x0, y0, s: (np.array([y0, y0, y0 + s, y0 + s]),
                            np.array([x0, x0 + s, x0 + s, x0]))
    # overlapping squares
    assert isect(*sq(0, 0, 2), *sq(1, 1, 2))
    # containment (no edge crossings, inner vertices inside)
    assert isect(*sq(0, 0, 10), *sq(4, 4, 1))
    assert isect(*sq(4, 4, 1), *sq(0, 0, 10))
    # disjoint
    assert not isect(*sq(0, 0, 1), *sq(5, 5, 1))
    # plus-shape: crossing thin rectangles, NO vertex of either inside
    h = (np.array([4.0, 4.0, 6.0, 6.0]), np.array([0.0, 10.0, 10.0, 0.0]))
    v = (np.array([0.0, 0.0, 10.0, 10.0]), np.array([4.0, 6.0, 6.0, 4.0]))
    assert isect(*h, *v)
    # boundary-touch (shared edge, no interior overlap): the half-open
    # even-odd convention reports True through the CLOSED low side —
    # consistent with the closed-interval bbox prefilter (documented)
    assert isect(*sq(0, 0, 2), *sq(2, 0, 2))
    # strictly separated by any gap: False
    assert not isect(*sq(0, 0, 2), *sq(2.000001, 0, 2))


def test_polygon_intersection_join_matches_bruteforce(spark):
    """Overlay join vs per-pair kernel brute force: identical pair sets,
    one row per pair (the responsibility-cell trick needs no distinct)."""
    from navgraph_osm_spark.functions.geo import polygons_intersect_np
    from navgraph_osm_spark.operators.spatial_join import polygon_intersection_join

    rng = np.random.default_rng(13)

    def mk(n, id0):
        rows = []
        for i in range(n):
            clat, clng = rng.uniform(48.2, 49.3), rng.uniform(1.7, 3.3)
            r = rng.uniform(0.02, 0.3)
            nv = int(rng.integers(3, 8))
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            rows.append({
                "pid": id0 + i,
                "footprint": [
                    {"lat": clat + r * np.sin(t), "lng": clng + r * np.cos(t)}
                    for t in ang
                ],
            })
        return rows

    ra, rb = mk(30, 0), mk(20, 100)
    schema = "pid long, footprint array<struct<lat:double,lng:double>>"
    A = spark.createDataFrame(pd.DataFrame(ra), schema).withColumnRenamed("pid", "a_id")
    B = spark.createDataFrame(pd.DataFrame(rb), schema).withColumnRenamed("pid", "b_id")
    rows = polygon_intersection_join(A, B, res=10).collect()
    got = [(r["a_id"], r["b_id"]) for r in rows]
    assert len(got) == len(set(got)), "pairs must be unique without distinct"

    def arrs(row):
        return (np.array([p["lat"] for p in row["footprint"]]),
                np.array([p["lng"] for p in row["footprint"]]))

    want = {
        (a["pid"], b["pid"])
        for a in ra for b in rb
        if polygons_intersect_np(*arrs(a), *arrs(b))
    }
    assert set(got) == want
    assert want, "fixture must produce intersecting pairs"


def test_polygon_intersection_join_vs_duckdb_oracle(spark):
    """CROSS-ENGINE overlay oracle: DuckDB recomputes pair intersection
    from the raw vertex tables with its own SQL formulation of the same
    geometry — even-odd crossing counts for vertex containment plus
    orientation-product tests for proper edge crossings — and must agree
    with the Spark join pair-for-pair."""
    import duckdb

    from navgraph_osm_spark.operators.spatial_join import polygon_intersection_join

    rng = np.random.default_rng(21)

    def mk(n, id0):
        rows = []
        for i in range(n):
            clat, clng = rng.uniform(48.2, 49.3), rng.uniform(1.7, 3.3)
            r = rng.uniform(0.02, 0.35)
            nv = int(rng.integers(3, 7))
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            rows += [
                {"pid": id0 + i, "seq": j,
                 "lat": clat + r * np.sin(t), "lng": clng + r * np.cos(t)}
                for j, t in enumerate(ang)
            ]
        return pd.DataFrame(rows)

    va, vb = mk(25, 0), mk(18, 100)

    def poly_df(v, idc):
        rows = [
            {idc: pid, "footprint": [
                {"lat": r.lat, "lng": r.lng}
                for r in grp.sort_values("seq").itertuples()
            ]}
            for pid, grp in v.groupby("pid")
        ]
        return spark.createDataFrame(
            pd.DataFrame(rows),
            f"{idc} long, footprint array<struct<lat:double,lng:double>>",
        )

    got = {
        (r["a_id"], r["b_id"])
        for r in polygon_intersection_join(
            poly_df(va, "a_id"), poly_df(vb, "b_id"), res=10
        ).collect()
    }

    con = duckdb.connect()
    con.register("va", va)
    con.register("vb", vb)
    # edges with wraparound per polygon
    edges_sql = """
    SELECT pid, lat AS y1, lng AS x1,
           LEAD(lat) OVER w AS y2n, LEAD(lng) OVER w AS x2n,
           FIRST_VALUE(lat) OVER w AS y0, FIRST_VALUE(lng) OVER w AS x0
    FROM {src} WINDOW w AS (PARTITION BY pid ORDER BY seq
                            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """
    con.execute(
        "CREATE VIEW ea AS SELECT pid, y1, x1, COALESCE(y2n, y0) AS y2, "
        "COALESCE(x2n, x0) AS x2 FROM (" + edges_sql.format(src="va") + ")"
    )
    con.execute(
        "CREATE VIEW eb AS SELECT pid, y1, x1, COALESCE(y2n, y0) AS y2, "
        "COALESCE(x2n, x0) AS x2 FROM (" + edges_sql.format(src="vb") + ")"
    )
    want = {
        (int(r[0]), int(r[1]))
        for r in con.execute("""
        WITH in_b AS (  -- any vertex of A inside B (even-odd, kernel's exact term)
          SELECT DISTINCT v.pid AS a, e.pid AS b FROM va v, eb e
          WHERE TRUE GROUP BY v.pid, e.pid, v.lat, v.lng
          HAVING SUM(CASE WHEN (e.y1 > v.lat) <> (e.y2 > v.lat)
                           AND v.lng < e.x1 + (v.lat - e.y1) / (e.y2 - e.y1) * (e.x2 - e.x1)
                     THEN 1 ELSE 0 END) % 2 = 1
        ), in_a AS (
          SELECT DISTINCT e.pid AS a, v.pid AS b FROM vb v, ea e
          WHERE TRUE GROUP BY v.pid, e.pid, v.lat, v.lng
          HAVING SUM(CASE WHEN (e.y1 > v.lat) <> (e.y2 > v.lat)
                           AND v.lng < e.x1 + (v.lat - e.y1) / (e.y2 - e.y1) * (e.x2 - e.x1)
                     THEN 1 ELSE 0 END) % 2 = 1
        ), crossing AS (
          SELECT DISTINCT a.pid AS a, b.pid AS b FROM ea a, eb b
          WHERE ((a.x2 - a.x1) * (b.y1 - a.y1) - (a.y2 - a.y1) * (b.x1 - a.x1))
              * ((a.x2 - a.x1) * (b.y2 - a.y1) - (a.y2 - a.y1) * (b.x2 - a.x1)) < 0
            AND ((b.x2 - b.x1) * (a.y1 - b.y1) - (b.y2 - b.y1) * (a.x1 - b.x1))
              * ((b.x2 - b.x1) * (a.y2 - b.y1) - (b.y2 - b.y1) * (a.x2 - b.x1)) < 0
        )
        SELECT a, b FROM in_b UNION SELECT a, b FROM in_a
        UNION SELECT a, b FROM crossing
        """).fetchall()
    }
    assert got == want
    assert want, "fixture must produce intersecting pairs"


def test_overlay_join_condition_stays_small(spark):
    """The overlay join's responsibility-cell test must appear in the join
    condition as plain grid-coordinate comparisons (greatest/least on
    precomputed ints) — NOT as the inlined Morton interleave, which would
    re-evaluate the full bit-spread per joined row (measured 2.7× the
    whole join at 10k×10k dense)."""
    from navgraph_osm_spark.operators.spatial_join import polygon_intersection_join

    rows = [{"pid": 1, "footprint": [
        {"lat": 1.0, "lng": 1.0}, {"lat": 1.0, "lng": 2.0},
        {"lat": 2.0, "lng": 2.0}, {"lat": 2.0, "lng": 1.0}]}]
    schema = "pid long, footprint array<struct<lat:double,lng:double>>"
    A = spark.createDataFrame(pd.DataFrame(rows), schema).withColumnRenamed(
        "pid", "a_id")
    B = spark.createDataFrame(pd.DataFrame(rows), schema).withColumnRenamed(
        "pid", "b_id")
    plan = polygon_intersection_join(A, B, res=8, exact=False)._jdf\
        .queryExecution().executedPlan().toString()
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines, plan
    for ln in join_lines:
        assert "shiftleft" not in ln, ln[:300]
    assert any("greatest" in ln and "least" in ln for ln in join_lines)


def test_per_ring_covering_tightens_separated_shells(spark):
    """A two-shell multipolygon whose shells sit a continent apart must
    cover only each shell's own cells — the former union-bbox covering
    flooded the whole span — and the PIP join over it stays exact: points
    in either shell match, points in the (huge) gap do not, pairs unique."""
    rows = [{
        "poly_id": 1,
        "footprint": [
            # shell 1: 1°×1° at (10, 0)
            {"lat": 10.0, "lng": 0.0}, {"lat": 10.0, "lng": 1.0},
            {"lat": 11.0, "lng": 1.0}, {"lat": 11.0, "lng": 0.0},
            # shell 2: 1°×1° at (10, 90)
            {"lat": 10.0, "lng": 90.0}, {"lat": 10.0, "lng": 91.0},
            {"lat": 11.0, "lng": 91.0}, {"lat": 11.0, "lng": 90.0},
        ],
        "ring_offsets": [0, 4],
    }]
    polys = spark.createDataFrame(
        pd.DataFrame(rows),
        "poly_id long, footprint array<struct<lat:double,lng:double>>, "
        "ring_offsets array<int>",
    )
    res = 6  # 64x64 grid, ~2.8 deg cells
    per_ring = covering_cells(polys, res, rings="ring_offsets")
    n_per_ring = per_ring.count()
    n_union = covering_cells(polys.drop("ring_offsets"), res).count()
    assert n_per_ring <= 4, n_per_ring  # ≤2 cells per tiny shell
    assert n_union >= 15, n_union  # the union bbox floods the 90° span
    # distinct by construction
    assert per_ring.select("cell").distinct().count() == n_per_ring

    pts = spark.createDataFrame(
        pd.DataFrame({
            "point_id": [1, 2, 3],
            "lat": [10.5, 10.5, 10.5],
            "lng": [0.5, 90.5, 45.0],  # shell 1, shell 2, the gap
        })
    )
    pairs = [
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(pts, polys, res=res).collect()
    ]
    assert sorted(pairs) == [(1, 1), (2, 1)]


def test_polygons_intersect_large_pair_bounded():
    """A 50k×50k-vertex polygon pair must complete in bounded memory (the
    former full |A|·|B| orientation broadcast would allocate 4×2.5G
    doubles) and in bounded time via the bbox edge prefilter + tiling —
    disjoint, containment-overlap and crossing-only cases."""
    import time

    from navgraph_osm_spark.functions.geo import polygons_intersect_np

    def star(clat, clng, n, r0=1.0, r1=2.0):
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
        r = np.where(np.arange(n) % 2 == 0, r0, r1)
        return clat + r * np.sin(ang), clng + r * np.cos(ang)

    a = star(0, 0, 50_000)
    t0 = time.time()
    assert not polygons_intersect_np(*a, *star(0, 50, 50_000))  # disjoint
    assert polygons_intersect_np(*a, *star(0.3, 0.3, 50_000))  # overlap
    assert polygons_intersect_np(*a, *star(0, 3.0, 50_000, 1.9, 2.0))  # crossing
    assert time.time() - t0 < 60.0


def test_polygons_intersect_pairwise_matches_per_pair():
    """The shape-batched pairwise kernel (the overlay join's refinement)
    must agree with the per-pair kernel on every random pair, open and
    closed rings alike."""
    from navgraph_osm_spark.functions.geo import (
        polygons_intersect_np,
        polygons_intersect_pairwise_np,
    )

    rng = np.random.default_rng(7)
    for na, nb in ((3, 3), (4, 5), (6, 3)):
        m = 200

        def mk(n):
            clat = rng.uniform(-60, 60, (m, 1))
            clng = rng.uniform(-120, 120, (m, 1))
            r = rng.uniform(0.5, 8, (m, 1))
            ang = np.sort(rng.uniform(0, 2 * np.pi, (m, n)), axis=1)
            return clat + r * np.sin(ang), clng + r * np.cos(ang)

        al, an = mk(na)
        bl, bn = mk(nb)
        got = polygons_intersect_pairwise_np(al, an, bl, bn)
        want = np.array(
            [polygons_intersect_np(al[i], an[i], bl[i], bn[i]) for i in range(m)]
        )
        assert (got == want).all(), (na, nb)
    # explicitly closed ring (first == last) agrees with the open form
    cl = np.array([[0.0, 0.0, 2.0, 2.0, 0.0]]), np.array([[0.0, 2.0, 2.0, 0.0, 0.0]])
    op = np.array([[1.0, 1.0, 3.0, 3.0]]), np.array([[1.0, 3.0, 3.0, 1.0]])
    assert polygons_intersect_pairwise_np(cl[0], cl[1], op[0], op[1])[0]


def test_compact_cells_matches_recursive_reference(spark):
    """The one-shot highest-full-ancestor algorithm must equal a literal
    recursive sibling-collapse reference on random cell sets (including
    full 4^k blocks planted at several depths), and the exact uncompact
    round trip must hold."""
    from navgraph_osm_spark.operators.spatial_join import (
        compact_cells,
        uncompact_cells,
    )

    res = 7
    rng = np.random.default_rng(29)
    rows = []
    expected_sets = {}
    for img in ("A", "B", "C"):
        cs = set()
        # random scatter
        lat = rng.uniform(-80, 80, 40)
        lng = rng.uniform(-170, 170, 40)
        cs |= {int(c) for c in cells.latlng_to_cell(lat, lng, res)}
        # planted full blocks at depth 1 and 2
        anc1 = int(cells.latlng_to_cell(
            np.array([rng.uniform(-60, 60)]), np.array([rng.uniform(-150, 150)]),
            res - 1)[0])
        cs |= {(anc1 << 2) + i for i in range(4)}
        anc2 = int(cells.latlng_to_cell(
            np.array([rng.uniform(-60, 60)]), np.array([rng.uniform(-150, 150)]),
            res - 2)[0])
        cs |= {(anc2 << 4) + i for i in range(16)}
        rows += [(img, c) for c in sorted(cs)]
        expected_sets[img] = cs

    def recursive_collapse(cs: set, r: int) -> set:
        cur = {(c, r) for c in cs}
        changed = True
        while changed:
            changed = False
            from collections import defaultdict

            groups = defaultdict(set)
            for c, cr in cur:
                groups[(c >> 2, cr)].add((c, cr))
            for (p, cr), members in groups.items():
                if cr > 0 and len(members) == 4:
                    cur -= members
                    cur.add((p, cr - 1))
                    changed = True
        return cur

    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "cell"]),
        "image_id string, cell long",
    )
    comp = compact_cells(tiles, res)
    got = {}
    for r in comp.collect():
        got.setdefault(r["image_id"], set()).add((r["cell"], r["cell_res"]))
    for img, cs in expected_sets.items():
        assert got[img] == recursive_collapse(cs, res), img
    restored = {
        (r["image_id"], r["cell"])
        for r in uncompact_cells(compact_cells(tiles, res), res).collect()
    }
    assert restored == {(i, c) for i, c in rows}


def test_compact_cells_bounded_explode_boundaries(spark):
    """The per-group ancestor-explode bound (min(res, floor(log4 m))) must
    not change results at its edge cases: a group of EXACTLY 4^k cells
    forming one full block still collapses all k levels (the epsilon guard
    against log2 rounding down at exact powers of 4), and a tiny scattered
    group at a deep resolution (bound clamps to 1 level) passes through
    unchanged."""
    from navgraph_osm_spark.operators.spatial_join import compact_cells

    res = 20
    # one full 4^3 block: 64 siblings of a single lvl-3 ancestor
    anc = 0b1011_0110 << 10
    full = [("F", (anc << 6) + i) for i in range(64)]
    # exactly m = 4 cells forming one full parent (log4(4) = 1, exact)
    p = (anc + 1) << 6
    quad = [("Q", (p << 2) + i) for i in range(4)]
    # 3 scattered cells, no common parent: bound floors to 1 level
    scat = [("S", (anc + 7) << 6), ("S", ((anc + 9) << 6) + 3), ("S", ((anc + 11) << 6) + 1)]
    tiles = spark.createDataFrame(
        pd.DataFrame(full + quad + scat, columns=["image_id", "cell"]),
        "image_id string, cell long",
    )
    got = {}
    for r in compact_cells(tiles, res).collect():
        got.setdefault(r["image_id"], set()).add((r["cell"], r["cell_res"]))
    assert got["F"] == {(anc, res - 3)}
    assert got["Q"] == {(p, res - 1)}
    assert got["S"] == {(c, res) for _, c in scat}

    # the explode row count is exactly sum over groups of
    # m * min(res, max(1, floor(log4 m))) — NOT m * res (the unbounded
    # pre-round-6 shape would be (64 + 4 + 3) * 20 = 1420 rows)
    from navgraph_osm_spark.operators.spatial_join import _compact_ancestors

    _, anc_df = _compact_ancestors(tiles, res)
    expected = 64 * 3 + 4 * 1 + 3 * 1
    assert anc_df.count() == expected


def test_polygons_intersect_multi_ring_kernel():
    """Ring-aware intersection kernel: a shape entirely inside the
    other's HOLE reports False; crossing into the band, containing the
    whole donut, or sitting in the band reports True; no spurious
    cross-ring closing edges (the chord between rings is not an edge)."""
    from navgraph_osm_spark.functions.geo import polygons_intersect_np as isect

    donut_lat = np.array([0.0, 0.0, 10.0, 10.0, 3.0, 3.0, 7.0, 7.0])
    donut_lng = np.array([0.0, 10.0, 10.0, 0.0, 3.0, 7.0, 7.0, 3.0])
    rings = [0, 4]

    def sq(y0, x0, s):
        return (np.array([y0, y0, y0 + s, y0 + s]),
                np.array([x0, x0 + s, x0 + s, x0]))

    # entirely inside the hole → no overlap
    assert not isect(*sq(4.0, 4.0, 2.0), donut_lat, donut_lng,
                     b_rings=rings)
    assert not isect(donut_lat, donut_lng, *sq(4.0, 4.0, 2.0),
                     a_rings=rings)
    # crossing from hole into the band
    assert isect(*sq(4.0, 4.0, 5.0), donut_lat, donut_lng, b_rings=rings)
    # inside the band
    assert isect(*sq(0.5, 0.5, 1.0), donut_lat, donut_lng, b_rings=rings)
    # containing the whole donut
    assert isect(*sq(-5.0, -5.0, 20.0), donut_lat, donut_lng, b_rings=rings)
    # disjoint
    assert not isect(*sq(50.0, 50.0, 1.0), donut_lat, donut_lng, b_rings=rings)
    # two separated shells as one multi-ring row: square on shell 2 hits
    shells_lat = np.array([0.0, 0.0, 2.0, 2.0, 0.0, 0.0, 2.0, 2.0])
    shells_lng = np.array([0.0, 2.0, 2.0, 0.0, 50.0, 52.0, 52.0, 50.0])
    assert isect(*sq(0.5, 50.5, 1.0), shells_lat, shells_lng, b_rings=[0, 4])
    assert not isect(*sq(0.5, 20.0, 1.0), shells_lat, shells_lng, b_rings=[0, 4])


def test_polygon_intersection_join_multi_ring(spark):
    """Overlay join with a ring_offsets column: donut A-rows must NOT
    match B polygons confined to their hole, must match band-overlapping
    ones, and plain rows in the same table keep the fast path — all
    against a per-pair ring-aware kernel oracle."""
    from navgraph_osm_spark.functions.geo import polygons_intersect_np
    from navgraph_osm_spark.operators.spatial_join import polygon_intersection_join

    def ring(y0, x0, s):
        return [{"lat": y0, "lng": x0}, {"lat": y0, "lng": x0 + s},
                {"lat": y0 + s, "lng": x0 + s}, {"lat": y0 + s, "lng": x0}]

    a_rows = [
        {"a_id": 1, "footprint": ring(0, 0, 10) + ring(3, 3, 4),
         "ring_offsets": [0, 4]},          # donut
        {"a_id": 2, "footprint": ring(20, 20, 5), "ring_offsets": None},  # plain
    ]
    b_rows = [
        {"b_id": 10, "footprint": ring(4, 4, 2)},     # inside A1's hole
        {"b_id": 11, "footprint": ring(0.5, 0.5, 2)}, # in A1's band
        {"b_id": 12, "footprint": ring(22, 22, 1)},   # inside A2
        {"b_id": 13, "footprint": ring(40, 40, 1)},   # nowhere
    ]
    A = spark.createDataFrame(
        pd.DataFrame(a_rows),
        "a_id long, footprint array<struct<lat:double,lng:double>>, "
        "ring_offsets array<int>",
    )
    B = spark.createDataFrame(
        pd.DataFrame(b_rows),
        "b_id long, footprint array<struct<lat:double,lng:double>>",
    )
    got = {(r["a_id"], r["b_id"])
           for r in polygon_intersection_join(A, B, res=6).collect()}

    def arrs(row):
        return (np.array([p["lat"] for p in row["footprint"]]),
                np.array([p["lng"] for p in row["footprint"]]))

    want = {
        (a["a_id"], b["b_id"])
        for a in a_rows for b in b_rows
        if polygons_intersect_np(
            *arrs(a), *arrs(b), a_rings=a.get("ring_offsets"))
    }
    assert got == want == {(1, 11), (2, 12)}


def test_polygon_to_cells_center_mode(spark):
    """Exact polyfill in pure codegen: cells whose center the footprint
    contains, vs a numpy oracle (same even-odd kernel over cell centers);
    a long thin diagonal sliver must keep far fewer cells than its bbox
    covering; the plan must contain no Python eval and no Exchange."""
    from navgraph_osm_spark.operators.spatial_join import polygon_to_cells

    res = 8
    n = 1 << res
    polys = [
        # triangle
        {"poly_id": 1, "footprint": [
            {"lat": 10.0, "lng": 0.0}, {"lat": 10.0, "lng": 20.0},
            {"lat": 25.0, "lng": 0.0}]},
        # thin diagonal sliver across ~30 degrees
        {"poly_id": 2, "footprint": [
            {"lat": -40.0, "lng": -30.0}, {"lat": -39.0, "lng": -29.0},
            {"lat": -10.0, "lng": 0.0}, {"lat": -11.0, "lng": -1.0}]},
        # hexagon
        {"poly_id": 3, "footprint": [
            {"lat": 50.0 + 5 * np.sin(t), "lng": 100.0 + 8 * np.cos(t)}
            for t in np.linspace(0, 2 * np.pi, 6, endpoint=False)]},
    ]
    df = spark.createDataFrame(
        pd.DataFrame(polys),
        "poly_id long, footprint array<struct<lat:double,lng:double>>",
    )
    out = polygon_to_cells(df, res)
    got = {(r["poly_id"], r["cell"]) for r in out.collect()}

    want = set()
    for p in polys:
        fl = np.array([v["lat"] for v in p["footprint"]])
        fg = np.array([v["lng"] for v in p["footprint"]])
        x0 = int(np.clip((fg.min() + 180.0) / 360.0 * n, 0, n - 1))
        x1 = int(np.clip((fg.max() + 180.0) / 360.0 * n, 0, n - 1))
        y0 = int(np.clip((90.0 - fl.max()) / 180.0 * n, 0, n - 1))
        y1 = int(np.clip((90.0 - fl.min()) / 180.0 * n, 0, n - 1))
        xs, ys = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
        xs, ys = xs.ravel(), ys.ravel()
        clat = 90.0 - (ys + 0.5) * 180.0 / n
        clng = (xs + 0.5) * 360.0 / n - 180.0
        inside = points_in_polygon_np(clat, clng, fl, fg)
        for x, y in zip(xs[inside], ys[inside]):
            want.add((p["poly_id"], int(cells.xy_to_cell(
                np.array([x]), np.array([y]), res)[0])))
    assert got == want
    assert want, "fixture must fill cells"

    # the sliver keeps ~O(perimeter) cells, far below its bbox covering
    n_sliver = sum(1 for pid, _ in got if pid == 2)
    n_bbox = polygon_to_cells(df.filter("poly_id = 2"), res, mode="overlap").count()
    assert n_sliver < n_bbox / 4, (n_sliver, n_bbox)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_polygon_to_cells_exact_overlap(spark):
    """exact_overlap = boundary supercover ∪ center-interior must equal
    the literal cell-square-vs-polygon intersection test over every bbox
    cell (the per-pair kernel with the cell rectangle as the other
    polygon), on triangles, slivers and a hexagon."""
    from navgraph_osm_spark.functions.geo import polygons_intersect_np
    from navgraph_osm_spark.operators.spatial_join import polygon_to_cells

    res = 7
    n = 1 << res
    polys = [
        {"poly_id": 1, "footprint": [
            {"lat": 10.1, "lng": 0.2}, {"lat": 10.1, "lng": 20.3},
            {"lat": 25.2, "lng": 0.2}]},
        {"poly_id": 2, "footprint": [
            {"lat": -40.1, "lng": -30.2}, {"lat": -39.1, "lng": -29.2},
            {"lat": -10.1, "lng": 0.3}, {"lat": -11.1, "lng": -0.7}]},
        {"poly_id": 3, "footprint": [
            {"lat": 50.1 + 5 * np.sin(t), "lng": 100.2 + 8 * np.cos(t)}
            for t in np.linspace(0.1, 0.1 + 2 * np.pi, 6, endpoint=False)]},
    ]
    df = spark.createDataFrame(
        pd.DataFrame(polys),
        "poly_id long, footprint array<struct<lat:double,lng:double>>",
    )
    got = {
        (r["poly_id"], r["cell"])
        for r in polygon_to_cells(df, res, mode="exact_overlap").collect()
    }
    want = set()
    for p in polys:
        fl = np.array([v["lat"] for v in p["footprint"]])
        fg = np.array([v["lng"] for v in p["footprint"]])
        x0 = int(np.clip((fg.min() + 180.0) / 360.0 * n, 0, n - 1))
        x1 = int(np.clip((fg.max() + 180.0) / 360.0 * n, 0, n - 1))
        y0 = int(np.clip((90.0 - fl.max()) / 180.0 * n, 0, n - 1))
        y1 = int(np.clip((90.0 - fl.min()) / 180.0 * n, 0, n - 1))
        for x in range(x0, x1 + 1):
            for y in range(y0, y1 + 1):
                cl0 = 90.0 - (y + 1) * 180.0 / n
                cl1 = 90.0 - y * 180.0 / n
                cg0 = x * 360.0 / n - 180.0
                cg1 = (x + 1) * 360.0 / n - 180.0
                sq_lat = np.array([cl0, cl0, cl1, cl1])
                sq_lng = np.array([cg0, cg1, cg1, cg0])
                if polygons_intersect_np(fl, fg, sq_lat, sq_lng):
                    want.add((p["poly_id"], int(cells.xy_to_cell(
                        np.array([x]), np.array([y]), res)[0])))
    assert got == want
    assert want


def test_polygon_to_cells_multi_ring(spark):
    """Ring-aware polyfill: center mode excludes hole cells and fills
    each separated shell; exact_overlap mode equals the literal
    cell-square-vs-multi-ring-polygon intersection oracle (the ring-aware
    pair kernel with each cell's rectangle)."""
    from navgraph_osm_spark.functions.geo import polygons_intersect_np
    from navgraph_osm_spark.operators.spatial_join import polygon_to_cells

    res = 7
    n = 1 << res

    def ring(lat0, lat1, lng0, lng1):
        return [{"lat": lat0, "lng": lng0}, {"lat": lat0, "lng": lng1},
                {"lat": lat1, "lng": lng1}, {"lat": lat1, "lng": lng0}]

    polys = [
        # donut: 20x20 deg outer, 8x8 hole
        {"poly_id": 1, "footprint": ring(0.3, 20.3, 0.2, 20.2)
         + ring(6.3, 14.3, 6.2, 14.2), "ring_offsets": [0, 4]},
        # two separated shells
        {"poly_id": 2, "footprint": ring(-50.3, -44.3, -100.2, -94.2)
         + ring(-50.3, -44.3, -40.2, -34.2), "ring_offsets": [0, 4]},
    ]
    df = spark.createDataFrame(
        pd.DataFrame(polys),
        "poly_id long, footprint array<struct<lat:double,lng:double>>, "
        "ring_offsets array<int>",
    )

    def bbox_cells(p):
        fl = np.array([v["lat"] for v in p["footprint"]])
        fg = np.array([v["lng"] for v in p["footprint"]])
        x0 = int(np.clip((fg.min() + 180.0) / 360.0 * n, 0, n - 1))
        x1 = int(np.clip((fg.max() + 180.0) / 360.0 * n, 0, n - 1))
        y0 = int(np.clip((90.0 - fl.max()) / 180.0 * n, 0, n - 1))
        y1 = int(np.clip((90.0 - fl.min()) / 180.0 * n, 0, n - 1))
        return fl, fg, x0, x1, y0, y1

    # center mode
    got_c = {
        (r["poly_id"], r["cell"])
        for r in polygon_to_cells(df, res, mode="center").collect()
    }
    want_c = set()
    for p in polys:
        fl, fg, x0, x1, y0, y1 = bbox_cells(p)
        for x in range(x0, x1 + 1):
            for y in range(y0, y1 + 1):
                clat = 90.0 - (y + 0.5) * 180.0 / n
                clng = (x + 0.5) * 360.0 / n - 180.0
                if points_in_polygon_np(
                    np.array([clat]), np.array([clng]), fl, fg,
                    ring_starts=p["ring_offsets"],
                )[0]:
                    want_c.add((p["poly_id"], int(cells.xy_to_cell(
                        np.array([x]), np.array([y]), res)[0])))
    assert got_c == want_c
    # holes actually excluded, shells actually separated
    assert len({c for pid, c in want_c if pid == 1}) > 0
    hole_center = int(cells.latlng_to_cell(
        np.array([10.3]), np.array([10.2]), res)[0])
    assert (1, hole_center) not in got_c

    # exact overlap mode vs the ring-aware cell-square oracle
    got_o = {
        (r["poly_id"], r["cell"])
        for r in polygon_to_cells(df, res, mode="exact_overlap").collect()
    }
    want_o = set()
    for p in polys:
        fl, fg, x0, x1, y0, y1 = bbox_cells(p)
        for x in range(x0, x1 + 1):
            for y in range(y0, y1 + 1):
                cl0 = 90.0 - (y + 1) * 180.0 / n
                cl1 = 90.0 - y * 180.0 / n
                cg0 = x * 360.0 / n - 180.0
                cg1 = (x + 1) * 360.0 / n - 180.0
                if polygons_intersect_np(
                    fl, fg,
                    np.array([cl0, cl0, cl1, cl1]),
                    np.array([cg0, cg1, cg1, cg0]),
                    a_rings=p["ring_offsets"],
                ):
                    want_o.add((p["poly_id"], int(cells.xy_to_cell(
                        np.array([x]), np.array([y]), res)[0])))
    assert got_o == want_o
    assert want_o > want_c  # boundary cells beyond the center fill


def test_polyline_to_cells_supercover(spark):
    """Line rasterization: every densely-sampled point of each way lands
    in an emitted cell (completeness), every emitted cell's closed bbox
    touches the way (tightness — supercover, not bbox flood), duplicates
    merged across segments, and the plan is pure codegen."""
    from navgraph_osm_spark.operators.spatial_join import polyline_to_cells

    res = 9
    n = 1 << res
    rng = np.random.default_rng(17)
    ways = []
    for wid in range(12):
        k = int(rng.integers(2, 7))
        lat = np.cumsum(np.concatenate([[rng.uniform(-60, 60)],
                                        rng.uniform(-3, 3, k - 1)]))
        lng = np.cumsum(np.concatenate([[rng.uniform(-150, 150)],
                                        rng.uniform(-3, 3, k - 1)]))
        lat = np.clip(lat, -89, 89)
        lng = np.clip(lng, -179, 179)
        ways.append({"way_id": wid, "geometry": [
            {"lat": float(a), "lng": float(b)} for a, b in zip(lat, lng)]})
    # a perfectly vertical and a perfectly horizontal way (slope edge cases)
    ways.append({"way_id": 100, "geometry": [
        {"lat": 10.0, "lng": 5.0}, {"lat": 20.0, "lng": 5.0}]})
    ways.append({"way_id": 101, "geometry": [
        {"lat": 10.0, "lng": 5.0}, {"lat": 10.0, "lng": 25.0}]})
    df = spark.createDataFrame(
        pd.DataFrame(ways),
        "way_id long, geometry array<struct<lat:double,lng:double>>",
    )
    out = polyline_to_cells(df, res)
    got: dict[int, set] = {}
    rows = out.collect()
    for r in rows:
        got.setdefault(r["way_id"], set()).add(r["cell"])
    assert len(rows) == sum(len(v) for v in got.values()), "cells unique per way"

    for w in ways:
        lat = np.array([p["lat"] for p in w["geometry"]])
        lng = np.array([p["lng"] for p in w["geometry"]])
        cells_w = got[w["way_id"]]
        # completeness: dense samples along every segment
        for i in range(len(lat) - 1):
            t = np.linspace(0, 1, 500)
            sl = lat[i] + t * (lat[i + 1] - lat[i])
            sg = lng[i] + t * (lng[i + 1] - lng[i])
            cc = cells.latlng_to_cell(sl, sg, res)
            assert set(int(c) for c in cc) <= cells_w, w["way_id"]
        # tightness: each cell's closed bbox must touch some segment
        for c in cells_w:
            y0a, y1a, x0a, x1a = cells.cell_bounds(np.array([c]))
            x0, x1 = float(x0a[0]), float(x1a[0])
            y0v, y1v = float(y0a[0]), float(y1a[0])
            touched = False
            for i in range(len(lat) - 1):
                t = np.linspace(0, 1, 2000)
                sl = lat[i] + t * (lat[i + 1] - lat[i])
                sg = lng[i] + t * (lng[i + 1] - lng[i])
                eps = 1e-6 + 0.75 * max(
                    abs(lat[i + 1] - lat[i]), abs(lng[i + 1] - lng[i])
                ) / 2000
                if ((sg >= x0 - eps) & (sg <= x1 + eps)
                        & (sl >= y0v - eps) & (sl <= y1v + eps)).any():
                    touched = True
                    break
            assert touched, (w["way_id"], c)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_compact_uncompact_cells(spark):
    """H3-style compact/uncompact over the Morton hierarchy: compaction is
    minimal (no four siblings survive), the uncompact round-trip restores
    the EXACT original tile set per key, and a full 4^k block collapses
    all the way to its ancestor."""
    from navgraph_osm_spark.operators.spatial_join import (
        compact_cells,
        uncompact_cells,
    )

    res = 6
    # image A: a full res-6 block under one res-4 ancestor + a lone cell
    anc = int(cells.latlng_to_cell(np.array([10.0]), np.array([10.0]), 4)[0])
    block = [
        (anc << 4) + i for i in range(16)
    ]  # all 16 res-6 descendants of anc
    lone = int(cells.latlng_to_cell(np.array([-30.0]), np.array([60.0]), res)[0])
    # image B: three siblings only (must NOT collapse)
    sib_parent = int(cells.latlng_to_cell(np.array([45.0]), np.array([45.0]), 5)[0])
    sibs = [(sib_parent << 2) + i for i in range(3)]
    rows = [("A", c) for c in block + [lone]] + [("B", c) for c in sibs]
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "cell"]), "image_id string, cell long"
    )
    comp = compact_cells(tiles, res).collect()
    by_img = {}
    for r in comp:
        by_img.setdefault(r["image_id"], set()).add((r["cell"], r["cell_res"]))
    # A: the block collapsed to the res-4 ancestor; the lone cell remains
    assert by_img["A"] == {(anc, 4), (lone, res)}
    # B: three siblings untouched
    assert by_img["B"] == {(c, res) for c in sibs}
    # minimality: no keys-group retains 4 siblings at any res
    from collections import Counter

    for img, cs in by_img.items():
        parents = Counter((c >> 2, cr) for c, cr in cs)
        assert all(v < 4 for v in parents.values()), img
    # exact round trip
    comp_df = compact_cells(tiles, res)
    restored = {
        (r["image_id"], r["cell"])
        for r in uncompact_cells(comp_df, res).collect()
    }
    assert restored == {(i, c) for i, c in rows}


def test_pip_expr_refinement_hof_tail_beyond_unroll(spark):
    """Round-6: the default codegen refinement unrolls 16 edges and routes
    longer footprints through a lazily-evaluated HOF tail — a 24-vertex
    star polygon must refine identically to the numpy kernel."""
    import numpy as np
    import pandas as pd

    from navgraph_osm_spark.functions.geo import points_in_polygon_np

    rng = np.random.default_rng(11)
    n_v = 24  # > max_unrolled=16 → exercises the aggregate tail
    ang = np.linspace(0.0, 2 * np.pi, n_v, endpoint=False)
    rad = np.where(np.arange(n_v) % 2 == 0, 3.0, 1.2)
    vlat = 10.0 + rad * np.sin(ang)
    vlng = 20.0 + rad * np.cos(ang)
    plat = rng.uniform(6.0, 14.0, 400)
    plng = rng.uniform(16.0, 24.0, 400)
    want = {
        int(i)
        for i in np.flatnonzero(points_in_polygon_np(plat, plng, vlat, vlng))
    }
    pts_df = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(400), "lat": plat, "lng": plng})
    )
    poly_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": [1],
                "footprint": [
                    [{"lat": float(a), "lng": float(o)} for a, o in zip(vlat, vlng)]
                ],
            }
        ),
        "poly_id long, footprint array<struct<lat:double,lng:double>>",
    )
    got = {
        r["point_id"]
        for r in point_in_polygon_join(pts_df, poly_df, res=6).collect()
    }
    assert got == want
