"""Plan-building cost, in py4j round trips, of the geometry operators.

The geometry builders compose Spark SQL text that the JVM parses once per
output column; the Column-API trees they replaced paid one py4j round trip
per operator node.  Building (not running) each operator on tiny frames
must stay within twice the round trips measured for the SQL-text builders,
so a builder that slides back to per-node Column calls fails here.
"""

from __future__ import annotations

import py4j.clientserver
import py4j.protocol
import pytest

from navgraph_osm_spark.operators.export import export_rows
from navgraph_osm_spark.operators.graph_build import build_edges
from navgraph_osm_spark.operators.knn import distance_join
from navgraph_osm_spark.operators.spatial_join import (
    point_in_polygon_join,
    tile_assignment,
)

FP = "array<struct<lat:double,lng:double>>"
TRIANGLE = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0)]

# Round trips per warm build on PySpark 4.1.2 with this module's frames, for
# the SQL-text builders; each bound is twice that count.
BOUNDS = {
    "point_in_polygon_join": 2 * 127,
    "tile_assignment": 2 * 73,
    "distance_join": 2 * 46,
    "build_edges": 2 * 220,
    "export_rows": 2 * 88,
}


@pytest.fixture(scope="module")
def builders(spark):
    pts = spark.createDataFrame([(1, 10.0, 20.0)], "point_id long, lat double, lng double")
    polys = spark.createDataFrame([(1, TRIANGLE)], f"poly_id long, footprint {FP}")
    images = spark.createDataFrame([("a", TRIANGLE)], f"image_id string, footprint {FP}")
    left = pts.withColumnRenamed("point_id", "left_id")
    right = pts.withColumnRenamed("point_id", "right_id")
    nodes = spark.createDataFrame([(1, 1.0, 2.0)], "id long, lat double, lng double")
    ways = spark.createDataFrame(
        [(1, {"highway": "primary"})], "id long, tags map<string,string>"
    )
    way_nodes = spark.createDataFrame([(1, 0, 1)], "way_id long, seq int, node_id long")
    edges = spark.createDataFrame(
        [(1, TRIANGLE, False, 1, 2)],
        f"edge_id long, geom {FP}, oneway boolean, src_node long, tgt_node long",
    )
    turns = spark.createDataFrame(
        [(1, 1, 1.0, 1, 1)],
        "src_edge_id long, tgt_edge_id long, cost double, from_way long, to_way long",
    )
    return {
        "point_in_polygon_join": lambda: point_in_polygon_join(pts, polys, res=6),
        "tile_assignment": lambda: tile_assignment(images, 8),
        "distance_join": lambda: distance_join(left, right, 5.0, res=8),
        "build_edges": lambda: build_edges(nodes, ways, way_nodes, res=12),
        "export_rows": lambda: export_rows(edges, turns),
    }


@pytest.mark.parametrize("name", sorted(BOUNDS))
def test_plan_build_round_trips_bounded(builders, monkeypatch, name):
    """Round trips of the Column-API builders these bounds replaced: on the
    headline frames point_in_polygon_join 9,395, tile_assignment 901 and
    distance_join 1,905; on this module's frames 7,549, 900, 1,904,
    build_edges 3,077 and export_rows 751."""
    build = builders[name]
    build()  # warm: first use of a JVM function resolves and caches it
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        # garbage-collection detaches ("m" commands) fire whenever Python
        # frees a proxy — timing noise, not plan-building work
        calls[0] += not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    build()
    assert calls[0] <= BOUNDS[name], f"{name}: {calls[0]} py4j round trips"
