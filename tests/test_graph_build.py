"""Graph build on the deterministic road-grid fixture (FIXTURES.md §2-3).

Golden values are hand-derivable: a rows×cols jittered grid has every
crossing shared by one horizontal + one vertical way ⇒ used ≥ 2 ⇒ split.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from navgraph_osm_spark.functions.geo import haversine_np
from navgraph_osm_spark.operators.graph_build import build_edges, filter_ways, node_usage, _kept_way_nodes
from navgraph_osm_spark.sources.synth import gen_road_grid

ROWS, COLS = 4, 3


@pytest.fixture(scope="module")
def grid(spark):
    return gen_road_grid(spark, rows=ROWS, cols=COLS, seed=42)


@pytest.fixture(scope="module")
def edges(spark, grid):
    df = build_edges(grid["nodes"], grid["ways"], grid["way_nodes"], res=12)
    df.cache()
    df.count()
    return df


def test_filter_ways_drops_non_highway(grid):
    kept = filter_ways(grid["ways"]).toPandas()
    assert len(kept) == ROWS + COLS  # footway + null-highway dropped
    # oneway parsing: 'yes' and '1' true, 'no' false
    ow = dict(zip(kept["way_id"], kept["oneway"]))
    assert ow[1000] is True or ow[1000] == True  # noqa: E712 (r=0 → 'yes')
    assert bool(ow[1001]) is True  # r=1 → '1'
    assert bool(ow[1002]) is False  # r=2 → 'no'


def test_node_usage_grid_counts(grid):
    wn = _kept_way_nodes(grid["ways"], grid["way_nodes"])
    used = {r["node_id"]: r["used"] for r in node_usage(wn).collect()}
    # every node belongs to exactly 1 horizontal + 1 vertical way.
    for r in range(ROWS):
        for c in range(COLS):
            nid = r * COLS + c
            w_h = 2 if c in (0, COLS - 1) else 1  # endpoint of horizontal way?
            w_v = 2 if r in (0, ROWS - 1) else 1
            assert used[nid] == w_h + w_v, nid


def test_segment_counts(edges):
    # horizontal ways: every node is a crossing (used≥2) ⇒ COLS-1 segments.
    fwd = edges.filter(F.col("direction") == 0)
    per_way = {
        r["way_id"]: r["n"]
        for r in fwd.groupBy("way_id").agg(F.count("*").alias("n")).collect()
    }
    for r in range(ROWS):
        assert per_way[1000 + r] == COLS - 1
    for c in range(COLS):
        assert per_way[1000 + ROWS + c] == ROWS - 1
    # reverse edges only for non-oneway ways
    rev_ways = {
        r["way_id"]
        for r in edges.filter(F.col("direction") == 1).select("way_id").distinct().collect()
    }
    oneway_ids = {1000 + r for r in range(ROWS) if r % 3 in (0, 1)}
    assert rev_ways == ({1000 + r for r in range(ROWS)} | {1000 + ROWS + c for c in range(COLS)}) - oneway_ids


def test_costs_match_haversine_oracle(edges, grid):
    nodes = {r["id"]: (r["lat"], r["lng"]) for r in grid["nodes"].collect()}
    rows = edges.filter((F.col("direction") == 0)).collect()
    for e in rows:
        pts = [(p["lat"], p["lng"]) for p in e["geom"]]
        want = sum(
            haversine_np(a[0], a[1], b[0], b[1]) for a, b in zip(pts, pts[1:])
        )
        assert abs(e["cost"] - want) < 1e-9
        assert pts[0] == (nodes[e["src_node"]]), e
        assert pts[-1] == (nodes[e["tgt_node"]]), e


def test_reverse_edges_mirror_forward(edges):
    fwd = edges.filter(F.col("direction") == 0).toPandas().set_index(["way_id", "seg"])
    rev = edges.filter(F.col("direction") == 1).toPandas().set_index(["way_id", "seg"])
    for key, r in rev.iterrows():
        f = fwd.loc[key]
        assert r["src_node"] == f["tgt_node"] and r["tgt_node"] == f["src_node"]
        assert abs(r["cost"] - f["cost"]) < 1e-12
        assert [ (p["lat"], p["lng"]) for p in r["geom"] ] == [
            (p["lat"], p["lng"]) for p in f["geom"][::-1]
        ]


def test_edge_ids_unique(edges):
    n = edges.count()
    assert edges.select("edge_id").distinct().count() == n


def test_geom_endpoints_and_cells(edges):
    pdf = edges.toPandas()
    assert (pdf["src_cell"] > 0).all()
    border = pdf[pdf["is_border"]]
    non_border = pdf[~pdf["is_border"]]
    assert (border["src_cell"] != border["tgt_cell"]).all()
    assert (non_border["src_cell"] == non_border["tgt_cell"]).all()
