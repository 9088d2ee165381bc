"""SQL-text geometry builders against their numpy twins at the edges of
their domains: the poles and the antimeridian, resolution 0 and ``MAX_RES``,
null inputs, polygons past the 16-edge unroll, and rings with holes."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from navgraph_osm_spark import cells
from navgraph_osm_spark.functions.geo import (
    haversine_expr,
    haversine_np,
    point_in_ring_expr,
    points_in_polygon_np,
)
from navgraph_osm_spark.operators.spatial_join import point_in_polygon_join

LATS = [-90.0, 90.0, 0.0, 89.9999999, -89.9999999, 45.5, -0.0]
LNGS = [-180.0, 180.0, 179.9999999, -179.9999999, 0.0, 33.3, -0.0]
RESES = (0, 1, 12, cells.MAX_RES)


@pytest.fixture(scope="module")
def edge_points(spark):
    lat, lng = (a.ravel() for a in np.meshgrid(LATS, LNGS))
    pdf = pd.DataFrame({"i": np.arange(lat.size), "lat": lat, "lng": lng})
    return pdf, spark.createDataFrame(pdf)


def test_cell_expr_and_bounds_match_numpy_at_domain_edges(spark, edge_points):
    pdf, df = edge_points
    n = len(pdf)
    # null coordinates: Spark's least/greatest skip nulls, so the clamp
    # sends a null coordinate to the LAST grid row/column — the cell of
    # lat -90 (null lat) or lng 180 (null lng).  Pinned here so a change
    # to null handling is deliberate (ROADMAP lists it as an open item).
    nulls = spark.createDataFrame(
        [(n, None, 33.3), (n + 1, 45.5, None)], "i long, lat double, lng double"
    )
    for res in RESES:
        bounds = cells.cell_bounds_expr("c", res)
        got = (
            df.unionByName(nulls)
            .select("i", F.expr(cells.cell_expr("lat", "lng", res)).alias("c"))
            .select("i", "c", *[F.expr(b).alias(f"b{k}") for k, b in enumerate(bounds)])
            .toPandas()
            .sort_values("i")
        )
        want = cells.latlng_to_cell(
            np.append(pdf["lat"].to_numpy(), [-90.0, 45.5]),
            np.append(pdf["lng"].to_numpy(), [33.3, 180.0]),
            res,
        )
        assert (got["c"].to_numpy() == want).all(), res
        for k, w in enumerate(cells.cell_bounds(want)):
            assert (got[f"b{k}"].to_numpy() == w).all(), (res, k)


def test_grid_disk_expr_matches_numpy_at_domain_edges(edge_points):
    pdf, df = edge_points
    for res, k in ((0, 1), (1, 2), (12, 1), (cells.MAX_RES, 2)):
        x, y = cells.xy_expr("lat", "lng", res)
        got = (
            df.select("i", F.explode(F.expr(cells.grid_disk_expr(x, y, res, k))).alias("nb"))
            .select("i", F.expr(cells.cell_from_xy_expr("nb.x", "nb.y", res)).alias("c"))
            .toPandas()
        )
        centers = cells.latlng_to_cell(pdf["lat"].to_numpy(), pdf["lng"].to_numpy(), res)
        for i, center in enumerate(centers):
            want = set(cells.grid_disk_np(int(center), k).tolist())
            assert set(got.loc[got["i"] == i, "c"]) == want, (res, k, i)
            assert (got["i"] == i).sum() == len(want)  # distinct per disk


def test_haversine_expr_matches_numpy(spark):
    rng = np.random.default_rng(5)
    lat1 = np.concatenate([LATS, rng.uniform(-90, 90, 200)])
    lng1 = np.concatenate([LNGS, rng.uniform(-180, 180, 200)])
    lat2 = np.concatenate([[90.0, -90.0, 0.0, -89.9999999, 89.9999999, -45.5, 0.0],
                           rng.uniform(-90, 90, 200)])
    lng2 = np.concatenate([[180.0, -180.0, 0.0, 0.2, -180.0, -146.7, 180.0],
                           rng.uniform(-180, 180, 200)])
    pdf = pd.DataFrame({"i": np.arange(lat1.size), "a": lat1, "b": lng1, "c": lat2, "d": lng2})
    nulls = spark.createDataFrame(
        [(lat1.size, None, 0.0, 1.0, 1.0)], "i long, a double, b double, c double, d double"
    )
    got = (
        spark.createDataFrame(pdf).unionByName(nulls)
        .select("i", F.expr(haversine_expr("a", "b", "c", "d")).alias("km"))
        .toPandas()
        .sort_values("i")["km"]
        .to_numpy()
    )
    want = haversine_np(lat1, lng1, lat2, lng2)
    assert np.isnan(got[-1])
    np.testing.assert_allclose(got[:-1], want, rtol=1e-12, atol=1e-9)


def _star(n_tips: int, clat: float, clng: float, r_out: float, r_in: float):
    t = np.linspace(0.0, 2.0 * np.pi, 2 * n_tips, endpoint=False)
    r = np.where(np.arange(2 * n_tips) % 2 == 0, r_out, r_in)
    return clat + r * np.sin(t), clng + r * np.cos(t)


def _polygons():
    """(poly_id, lat, lng, ring_offsets): a 40-edge star, a 24-edge donut
    (square hole), a two-shell multipolygon, and a 4-edge triangle-ish
    quad — the ray cast's unrolled terms and its aggregate tail both run."""
    star_lat, star_lng = _star(20, 10.0, 20.0, 2.0, 0.8)
    outer_lat, outer_lng = _star(12, -30.0, 150.0, 3.0, 2.6)
    hole_lat = np.array([-31.0, -31.0, -29.0, -29.0])
    hole_lng = np.array([149.0, 151.0, 151.0, 149.0])
    shell_a = (np.array([60.0, 60.0, 61.0]), np.array([10.0, 11.0, 10.5]))
    shell_b = (np.array([60.0, 60.0, 61.0]), np.array([12.0, 13.0, 12.5]))
    return [
        (1, star_lat, star_lng, None),
        (2, np.concatenate([outer_lat, hole_lat]), np.concatenate([outer_lng, hole_lng]),
         [0, outer_lat.size]),
        (3, np.concatenate([shell_a[0], shell_b[0]]), np.concatenate([shell_a[1], shell_b[1]]),
         [0, 3]),
        (4, np.array([0.0, 0.0, 1.0, 0.5]), np.array([0.0, 1.0, 1.0, 0.2]), None),
    ]


@pytest.fixture(scope="module")
def pip_frames(spark):
    rng = np.random.default_rng(9)
    rows, pts = [], []
    for pid, lat, lng, rings in _polygons():
        fp = [{"lat": float(a), "lng": float(b)} for a, b in zip(lat, lng)]
        rows.append((pid, fp, rings))
        n = 400
        plat = rng.uniform(lat.min() - 0.2, lat.max() + 0.2, n)
        plng = rng.uniform(lng.min() - 0.2, lng.max() + 0.2, n)
        pts += [(pid * 10_000 + j, float(a), float(b))
                for j, (a, b) in enumerate(zip(plat, plng))]
    pts += [(-1, None, 20.0), (-2, 10.0, None)]
    polys = spark.createDataFrame(
        rows,
        "poly_id long, footprint array<struct<lat:double,lng:double>>, ring_offsets array<int>",
    )
    points = spark.createDataFrame(pts, "point_id long, lat double, lng double")
    want = set()
    arr = np.array([(p, a, b) for p, a, b in pts if a is not None and b is not None])
    for pid, lat, lng, rings in _polygons():
        inside = points_in_polygon_np(arr[:, 1], arr[:, 2], lat, lng, ring_starts=rings)
        want |= {(int(p), pid) for p in arr[inside, 0]}
    return points, polys, want


def test_unrolled_ray_cast_matches_numpy_beyond_16_edges_and_holes(pip_frames):
    points, polys, want = pip_frames
    got = {
        (r["point_id"], r["poly_id"])
        for r in point_in_polygon_join(points, polys, res=6).collect()
    }
    assert {pid for _, pid in want} == {1, 2, 3, 4}
    assert got == want


def test_point_in_ring_expr_matches_numpy(pip_frames):
    points, polys, want = pip_frames
    pairs = points.crossJoin(polys)
    with_rings = {
        (r["point_id"], r["poly_id"])
        for r in pairs.filter(
            F.expr(point_in_ring_expr("lat", "lng", "footprint", "ring_offsets"))
        ).collect()
    }
    assert with_rings == want
    # without ring offsets the single-ring rows are unchanged
    single = {(p, q) for p, q in want if q in (1, 4)}
    no_rings = {
        (r["point_id"], r["poly_id"])
        for r in pairs.filter("poly_id IN (1, 4)")
        .filter(F.expr(point_in_ring_expr("lat", "lng", "footprint")))
        .collect()
    }
    assert no_rings == single
