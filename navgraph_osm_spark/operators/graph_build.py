"""Graph build: OSM-like tables → per-cell routable edge DataFrame.

Re-expresses the reference's EP2 macro-phase (reference main.cpp:224-755) as
a declarative Spark plan:

- F1/F2 highway + oneway predicates (reference worker.hpp:92-122)
- A1 endpoint-weighted node usage counts (reference main.cpp:270-283,
  endpoint weight 2 via negated ids at worker.hpp:142-144)
- J1 nodes ⋈ usage (reference main.cpp:298-327) — inner join doubles as the
  "drop unused nodes" filter
- W1 way segmentation at nodes with ``used > 1`` (reference main.cpp:557-717)
- W2 haversine leg costs with the reference's Earth radius
  (reference utils/geomath.cpp:7-21, geomath.hpp:6)
- §2.6 union: reverse edges for two-way streets (reference main.cpp:609-617)
- geo-cell assignment on the source node (reference main.cpp:587-620);
  border edges flagged when endpoints fall in different cells (the
  reference's dual-pixel duplication, main.cpp:621-708, is deferred to the
  turn-expansion join which keys by the via node's cell — zero duplication).

Scale notes: one shuffle for the usage agg (map-side partial), one for the
node join, one window shuffle keyed by way_id, one groupBy (way_id, seg).
Edge ids are content-derived (way_id/seg/direction packed) — no global
row_number, so no single-partition bottleneck at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from navgraph_osm_spark.cells import cell_expr
from navgraph_osm_spark.functions.geo import haversine_expr
from navgraph_osm_spark.sources.synth import HIGHWAY_ALLOWED

MAX_SEGMENTS_PER_WAY = 1 << 19  # edge-id packing bound (OSM max nodes/way = 2000)
_ALLOWED = ", ".join(f"'{h}'" for h in HIGHWAY_ALLOWED)


def filter_ways(ways: DataFrame) -> DataFrame:
    """F1 highway allowlist + F2 oneway predicate → (way_id, oneway:boolean).

    Accepts either flat ``highway``/``oneway`` columns or an OSM-shaped
    ``tags`` map column (the reference reads the string-table tag map,
    worker.hpp:94-121) — the map path dispatches to :func:`filter_ways_tags`.
    """
    if "tags" in ways.columns:
        return filter_ways_tags(ways)
    return ways.filter(f"highway IN ({_ALLOWED})").selectExpr(
        "id AS way_id", "coalesce(oneway IN ('yes', '1'), false) AS oneway"
    )


def filter_ways_tags(ways: DataFrame, tags: str = "tags") -> DataFrame:
    """F1/F2 over a ``tags: map<string,string>`` column (reference
    worker.hpp:94-106 highway allowlist, :110-122 oneway ∈ {yes, 1})."""
    return ways.filter(f"try_element_at({tags}, 'highway') IN ({_ALLOWED})").selectExpr(
        "id AS way_id",
        # a missing oneway tag means two-way (reference worker.hpp:110-122
        # defaults isOneWay to false)
        f"coalesce(try_element_at({tags}, 'oneway') IN ('yes', '1'), false) AS oneway",
    )


def node_usage(way_nodes_kept: DataFrame) -> DataFrame:
    """A1: per node, sum(endpoint ? 2 : 1) over occurrences in kept ways."""
    return way_nodes_kept.groupBy("node_id").agg(
        F.sum(F.when(F.col("is_endpoint"), 2).otherwise(1)).alias("used")
    )


def _kept_way_nodes(ways: DataFrame, way_nodes: DataFrame) -> DataFrame:
    kept = filter_ways(ways)
    return way_nodes.join(kept, "way_id").withColumns({
        "min_seq": F.expr("min(seq) OVER (PARTITION BY way_id)"),
        "max_seq": F.expr("max(seq) OVER (PARTITION BY way_id)"),
    }).withColumn("is_endpoint", F.expr("seq = min_seq OR seq = max_seq"))


def build_edges(
    nodes: DataFrame, ways: DataFrame, way_nodes: DataFrame, res: int = 12
) -> DataFrame:
    """Full EP2 pipeline → edges DataFrame.

    Output columns: edge_id, way_id, seg, direction (0 fwd / 1 rev),
    oneway, src_node, src_lat, src_lng, tgt_node, tgt_lat, tgt_lng,
    cost (km), geom array<struct<lat,lng>>, src_cell, tgt_cell, is_border.
    """
    wn = _kept_way_nodes(ways, way_nodes)
    # A1 + J1 in ONE pass: per-node usage attached via a window over
    # node_id instead of a groupBy + join-back — the join-back re-planned
    # the whole way-node pipeline a second time (the DataFrame fans out,
    # Spark shares no subtrees), which doubled every upstream scan and
    # shuffle.  The node join is keyed the same way, so it reuses the
    # window's node_id partitioning.
    occ = wn.selectExpr(
        "way_id", "seq", "node_id", "oneway", "min_seq", "max_seq",
        "sum(CASE WHEN is_endpoint THEN 2 ELSE 1 END) OVER (PARTITION BY node_id) AS used",
    ).join(
        # deliberate SHUFFLE_HASH (guide §3): the node dim is modest per
        # partition and pre-sorted output is not needed — the sort-merge
        # default pays two sorts of the full occurrence relation
        nodes.selectExpr("id AS node_id", "lat", "lng").hint("shuffle_hash"),
        "node_id",
    )

    # W1 segmentation: cut_before = #split-nodes strictly before this seq.
    # The leg cost is computed in the SAME way-keyed window pass (lag over
    # seq) rather than per (way_id, seg) after the explode: within a
    # segment rows are seq-contiguous, so the way-level lag equals the
    # segment-level lag everywhere except the segment-opening duplicate of
    # a split row, which is zeroed explicitly below — one window sort less.
    w_seq = "PARTITION BY way_id ORDER BY seq"
    occ = occ.withColumns({
        "cut_before": F.expr(
            f"coalesce(sum(CAST(used > 1 AS INT)) OVER ({w_seq}"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        ),
        "prev_lat": F.expr(f"lag(lat) OVER ({w_seq})"),
        "prev_lng": F.expr(f"lag(lng) OVER ({w_seq})"),
    })
    # membership: split rows close segment (cut_before-1) and open (cut_before);
    # non-split rows belong to (cut_before-1) only.
    occ = occ.withColumn("seg", F.expr(
        "explode(CASE WHEN used > 1 THEN filter(array("
        "CASE WHEN seq > min_seq THEN cut_before - 1 END, "
        "CASE WHEN seq < max_seq THEN cut_before END), __s -> __s IS NOT NULL) "
        "ELSE array(cut_before - 1) END)"
    ))

    # a split row opening segment `cut_before` is that segment's first row —
    # its way-level lag belongs to the previous segment
    leg = (
        "CASE WHEN prev_lat IS NULL OR (used > 1 AND seg = cut_before) THEN 0.0D "
        f"ELSE {haversine_expr('prev_lat', 'prev_lng', 'lat', 'lng')} END"
    )
    # W2 + A6: one groupBy per (way, segment); geometry inline, cost from
    # legs.  hash(way_id) satisfies the (way_id, seg) clustering, so the
    # aggregate runs exchange-free on the window's partitioning, and rows
    # arrive seq-sorted — the float summation order of the previous
    # per-segment window formulation is preserved exactly.
    segs = occ.withColumn("leg_cost", F.expr(leg)).groupBy("way_id", "seg").agg(*map(F.expr, [
        "first(oneway) AS oneway",
        "sum(leg_cost) AS cost",
        "count(*) AS n_points",
        "min_by(node_id, seq) AS src_node",
        "min_by(lat, seq) AS src_lat",
        "min_by(lng, seq) AS src_lng",
        "max_by(node_id, seq) AS tgt_node",
        "max_by(lat, seq) AS tgt_lat",
        "max_by(lng, seq) AS tgt_lng",
        "transform(array_sort(collect_list(struct(seq, lat, lng))),"
        " __s -> struct(__s.lat AS lat, __s.lng AS lng)) AS geom",
    ]))

    # §2.6 reverse edges via a 1-or-2-element explode instead of a union of
    # two branches — a union re-plans the whole upstream pipeline per
    # branch (same fan-out problem as the usage join-back)
    def _dir(fwd: str, rev: str, name: str) -> str:
        return f"CASE WHEN direction = 1 THEN {rev} ELSE {fwd} END AS {name}"

    edges = segs.withColumn(
        "direction", F.expr("explode(CASE WHEN oneway THEN array(0) ELSE array(0, 1) END)")
    ).selectExpr(
        "way_id", "seg", "oneway", "cost", "n_points",
        _dir("src_node", "tgt_node", "src_node"),
        _dir("src_lat", "tgt_lat", "src_lat"),
        _dir("src_lng", "tgt_lng", "src_lng"),
        _dir("tgt_node", "src_node", "tgt_node"),
        _dir("tgt_lat", "src_lat", "tgt_lat"),
        _dir("tgt_lng", "src_lng", "tgt_lng"),
        _dir("geom", "reverse(geom)", "geom"),
        "direction",
    )

    return edges.withColumns({
        "src_cell": F.expr(cell_expr("src_lat", "src_lng", res)),
        "tgt_cell": F.expr(cell_expr("tgt_lat", "tgt_lng", res)),
    }).selectExpr(
        f"way_id * {2 * MAX_SEGMENTS_PER_WAY} + seg * 2 + direction AS edge_id",
        "way_id", "seg", "direction", "oneway",
        "src_node", "src_lat", "src_lng", "tgt_node", "tgt_lat", "tgt_lng",
        "cost", "n_points", "geom", "src_cell", "tgt_cell",
        "src_cell != tgt_cell AS is_border",
    )


def construction_counts(
    nodes: DataFrame, ways: DataFrame, way_nodes: DataFrame, edges: DataFrame
) -> DataFrame:
    """The reference's stderr counters as a metrics DataFrame.

    Mirrors Filestat (reference include/benchmark/filestat.hpp:7-20,
    reported main.cpp:204-222) + per-cell edge counts (main.cpp:916).
    """
    wn = _kept_way_nodes(ways, way_nodes)
    used = node_usage(wn)
    nodes_kept = nodes.join(used, nodes["id"] == used["node_id"], "left_semi")
    return (
        edges.agg(
            F.countDistinct("src_cell").alias("cells_used"),
            F.count("*").alias("edges_emitted"),
            F.countDistinct("way_id").alias("ways_split"),
        )
        .crossJoin(nodes_kept.agg(F.count("*").alias("nodes_kept")))
        .crossJoin(nodes.agg(F.count("*").alias("nodes_total")))
        .crossJoin(filter_ways(ways).agg(F.count("*").alias("ways_used")))
    )
