"""spatial_joins: roughly uniform points against polygons of mixed shape
through the four spatial joins — point-in-polygon, polygon overlay,
distance and adaptive kNN.

Candidate generation, exact refinement, the cell resolution and the kNN
rounds do the work; there is no Python decode and no hot cell.  The
polygons are rectangles, triangles, donuts (one hole) and regular n-gons of
up to 4096 vertices.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from navgraph_osm_spark.functions.geo import (
    haversine_np,
    points_in_polygon_np,
    polygons_intersect_np,
)
from navgraph_osm_spark.operators.knn import distance_join, knn_join_adaptive
from navgraph_osm_spark.operators.spatial_join import (
    point_in_polygon_join,
    polygon_intersection_join,
)
from navgraph_osm_spark.sources.tables import load_table
from perfbench.checks import compare_sets, seeded_sample, summarize

N_POINTS, N_SITES, N_QUERIES = 200_000, 3_000, 200
N_RECT, N_TRI, N_DONUT, NGON_SIZES = 1_000, 500, 200, (16, 64, 256, 1024, 4096)
N_NGON_EACH, N_B = 8, 1_500
RES_PIP, RES_OVERLAY, RES_DIST, RES_KNN = 6, 5, 8, 6  # the repo's query settings
RADIUS_KM, K = 100.0, 5
SAMPLE_POINTS, SAMPLE_POLYS, SAMPLE_QUERIES = 400, 100, 50
_FP = pa.list_(pa.struct([("lat", pa.float64()), ("lng", pa.float64())]))


def _uniform(rng, n):
    return rng.uniform(-70.0, 70.0, n), rng.uniform(-179.0, 179.0, n)


def _polygons(rng, n_rect, n_tri, n_donut, ngons):
    """(lats, lngs, ring_starts or None) per polygon, in id order."""
    out = []
    lat, lng = _uniform(rng, n_rect + n_tri + n_donut + len(ngons))
    size = rng.uniform(0.2, 2.0, (lat.size, 2))
    for i in range(lat.size):
        c_lat, c_lng, h_lat, h_lng = lat[i], lng[i], size[i, 0], size[i, 1]
        if i < n_rect:
            v = ([c_lat - h_lat, c_lat - h_lat, c_lat + h_lat, c_lat + h_lat],
                 [c_lng - h_lng, c_lng + h_lng, c_lng + h_lng, c_lng - h_lng], None)
        elif i < n_rect + n_tri:
            d = rng.uniform(-1.0, 1.0, (3, 2)) * (h_lat, h_lng)
            v = (list(c_lat + d[:, 0]), list(c_lng + d[:, 1]), None)
        elif i < n_rect + n_tri + n_donut:
            g_lat, g_lng = h_lat * 0.4, h_lng * 0.4  # the hole
            v = ([c_lat - h_lat, c_lat - h_lat, c_lat + h_lat, c_lat + h_lat,
                  c_lat - g_lat, c_lat - g_lat, c_lat + g_lat, c_lat + g_lat],
                 [c_lng - h_lng, c_lng + h_lng, c_lng + h_lng, c_lng - h_lng,
                  c_lng - g_lng, c_lng + g_lng, c_lng + g_lng, c_lng - g_lng], [0, 4])
        else:
            t = np.linspace(0.0, 2 * np.pi, ngons[i - n_rect - n_tri - n_donut], endpoint=False)
            v = (list(c_lat + h_lat * np.sin(t)), list(c_lng + h_lng * np.cos(t)), None)
        out.append((np.asarray(v[0]), np.asarray(v[1]), v[2]))
    return out


def _write_polygons(path, polys, id_col):
    fps = [[{"lat": a, "lng": b} for a, b in zip(la, ln)] for la, ln, _r in polys]
    pq.write_table(
        pa.table({
            id_col: pa.array(range(len(polys)), pa.int64()),
            "footprint": pa.array(fps, _FP),
            "ring_offsets": pa.array([r for _a, _b, r in polys], pa.list_(pa.int32())),
        }),
        path,
    )


def _write_points(path, id_col, lat, lng, files):
    os.makedirs(path)
    ids = np.arange(lat.size, dtype=np.int64)
    for k, part in enumerate(np.array_split(ids, files)):
        pq.write_table(
            pa.table({id_col: part, "lat": lat[part], "lng": lng[part]}),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


def _bboxes(polys):
    return np.array([(la.min(), la.max(), ln.min(), ln.max()) for la, ln, _r in polys])


class SpatialJoins:
    name = "spatial_joins"
    warmup_passes = 1

    def __init__(self, seed: int, input_dir: str):
        self.seed = seed
        self.dir = input_dir
        self.input_rows = N_POINTS

    def generate(self, cpus: int) -> None:
        rng = np.random.default_rng(self.seed)
        files = cpus * 2
        p_lat, p_lng = _uniform(rng, N_POINTS)
        s_lat, s_lng = _uniform(rng, N_SITES)
        q_lat, q_lng = _uniform(rng, N_QUERIES)
        _write_points(os.path.join(self.dir, "points.parquet"), "point_id", p_lat, p_lng, files)
        _write_points(os.path.join(self.dir, "sites.parquet"), "right_id", s_lat, s_lng, 1)
        _write_points(os.path.join(self.dir, "queries.parquet"), "query_id", q_lat, q_lng, 1)
        ngons = [n for n in NGON_SIZES for _ in range(N_NGON_EACH)]
        polys_a = _polygons(rng, N_RECT, N_TRI, N_DONUT, ngons)
        polys_b = _polygons(rng, N_B // 2, N_B - N_B // 2, 0, [])
        _write_polygons(os.path.join(self.dir, "polygons.parquet"), polys_a, "poly_id")
        _write_polygons(os.path.join(self.dir, "overlay_b.parquet"), polys_b, "b_id")

        # independent answers for seeded samples
        pts = seeded_sample(rng, np.arange(N_POINTS), SAMPLE_POINTS)
        self.sample_points = [int(i) for i in pts]
        box_a, box_b = _bboxes(polys_a), _bboxes(polys_b)
        self.want_pip = set()
        for pid, (la, ln, rings) in enumerate(polys_a):
            b = box_a[pid]
            near = pts[(p_lat[pts] >= b[0]) & (p_lat[pts] <= b[1])
                       & (p_lng[pts] >= b[2]) & (p_lng[pts] <= b[3])]
            if near.size:
                inside = points_in_polygon_np(p_lat[near], p_lng[near], la, ln, rings)
                self.want_pip.update((int(i), pid) for i in near[inside])
        a_ids = seeded_sample(rng, np.arange(len(polys_a)), SAMPLE_POLYS)
        self.sample_polys = [int(i) for i in a_ids]
        self.want_overlay = set()
        for a in a_ids:
            ba = box_a[a]
            hits = np.flatnonzero((box_b[:, 0] <= ba[1]) & (ba[0] <= box_b[:, 1])
                                  & (box_b[:, 2] <= ba[3]) & (ba[2] <= box_b[:, 3]))
            la, ln, ra = polys_a[a]
            for b in hits:
                lb, nb, rb = polys_b[b]
                if polygons_intersect_np(la, ln, lb, nb, ra, rb):
                    self.want_overlay.add((int(a), int(b)))
        d = haversine_np(p_lat[pts][:, None], p_lng[pts][:, None], s_lat[None, :], s_lng[None, :])
        near_edge = np.abs(d - RADIUS_KM) < 1e-9 * RADIUS_KM
        self.maybe_dist = {(int(pts[i]), int(j)) for i, j in zip(*np.nonzero(near_edge))}
        self.want_dist = {
            (int(pts[i]), int(j)) for i, j in zip(*np.nonzero((d <= RADIUS_KM) & ~near_edge))
        }
        qs = seeded_sample(rng, np.arange(N_QUERIES), SAMPLE_QUERIES)
        self.sample_queries = [int(i) for i in qs]
        # exhaustive top-k by (distance, point id), as knn_join_bruteforce ranks
        d = haversine_np(q_lat[qs][:, None], q_lng[qs][:, None], p_lat[None, :], p_lng[None, :])
        self.want_knn = set()
        for q, row in zip(qs, d):
            top = np.argpartition(row, K)[: K + 1]
            top = top[np.lexsort((top, row[top]))][:K]
            self.want_knn.update((int(q), int(p), r + 1) for r, p in enumerate(top))

    def run_pass(self, spark, tr) -> dict:
        with tr.span("sources.tables"):
            points = tr.out(load_table(spark, self.dir, "points"))
            polys = tr.out(load_table(spark, self.dir, "polygons"))
            others = tr.out(load_table(spark, self.dir, "overlay_b"))
            sites = tr.out(load_table(spark, self.dir, "sites"))
            queries = tr.out(load_table(spark, self.dir, "queries"))
        with tr.span("operators.spatial_join"):
            pip = tr.out(point_in_polygon_join(points, polys, res=RES_PIP))
            overlay = tr.out(polygon_intersection_join(
                polys.withColumnRenamed("poly_id", "a_id"), others, res=RES_OVERLAY
            ))
        with tr.span("operators.knn"):
            dist = tr.out(distance_join(
                points.withColumnRenamed("point_id", "left_id"), sites, RADIUS_KM, res=RES_DIST
            ))
            knn = tr.out(knn_join_adaptive(points, queries, k=K, res=RES_KNN, ring=3, max_rounds=2))

        with tr.span("verify"):
            pip_s = summarize(pip, ["point_id", "poly_id"],
                              F.col("point_id").isin(self.sample_points), ["point_id", "poly_id"])
            ovl_s = summarize(overlay, ["a_id", "b_id"],
                              F.col("a_id").isin(self.sample_polys), ["a_id", "b_id"])
            dist_s = summarize(dist, ["left_id", "right_id"],
                               F.col("left_id").isin(self.sample_points), ["left_id", "right_id"])
            knn_s = summarize(knn, ["query_id", "point_id", "rank"],
                              F.col("query_id").isin(self.sample_queries),
                              ["query_id", "point_id", "rank"])
        errors = compare_sets("pip sample", pip_s["sample"], self.want_pip)
        errors += compare_sets("overlay sample", ovl_s["sample"], self.want_overlay)
        errors += compare_sets(
            "distance sample", set(dist_s["sample"]) - self.maybe_dist, self.want_dist
        )
        errors += compare_sets("knn sample", knn_s["sample"], self.want_knn)
        if knn_s["rows"] != N_QUERIES * K:
            errors.append(f"knn: {knn_s['rows']} rows, want {N_QUERIES * K}")
        return {
            "errors": errors,
            "fingerprint": "|".join(s["fingerprint"] for s in (pip_s, ovl_s, dist_s, knn_s)),
            "pip": (points, polys, RES_PIP, "poly_id", pip_s["rows"]),
            "scan_tasks": sum(d.rdd.getNumPartitions()
                              for d in (points, polys, others, sites, queries))
            if tr.enabled else 0,
        }
