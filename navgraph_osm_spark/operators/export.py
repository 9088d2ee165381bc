"""CSV sink: expanded-edge graph → reference-shaped CSV rows.

Reproduces the reference's export (reference include/csv/generate.hpp:19-542;
row shape :44-56, emit :238-263,463-488): per expanded edge a row

    weight, geom, was_one_way, osm_way_from, osm_way_to,
    osm_way_from_source_node, osm_way_from_target_node,
    osm_way_to_source_node, osm_way_to_target_node

where ``geom`` is ``LINESTRING(lon lat;lon lat;…)`` (';'-separated,
"lon lat" order, 6 decimals) running midpoint(source edge) → shared via
node → midpoint(target edge) (reference generate.hpp:187-216, midpoints
geomath.cpp:77-97).

J10's offset joins become two DataFrame joins on edge id (one per side, each
side computing only its half); the geometry midpoint and the two
half-polylines are one Spark SQL expression
(:func:`halves_expr`: ``zip_with`` legs, ``aggregate`` folds, ``slice``/
``concat``) and the string assembly is ``format_number``/``concat_ws``, so
the export runs no Python; every projection is Spark SQL text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _let(name: str, value: str, body: str) -> str:
    """``body`` with the lambda variable ``name`` bound to ``value``,
    which is evaluated once per row (SQL text)."""
    return f"transform(array({value}), {name} -> {body})[0]"


def _leg_expr(p: str, q: str) -> str:
    """Planar length of the leg from point ``p`` to point ``q`` (reference
    findDistance, geomath.cpp:48-53) — the DuckDB oracles' formula."""
    dlat, dlng = f"({q}.lat - {p}.lat)", f"({q}.lng - {p}.lng)"
    return f"sqrt({dlat} * {dlat} + {dlng} * {dlng})"


def halves_expr(geom: str) -> str:
    """``struct<half_out, half_in>`` of the polyline ``geom`` split at the
    point at half its Euclidean length (SQL text) — W4, reference
    geomath.cpp:77-97 + csv/generate.hpp:187-216: ``half_out`` runs from
    that midpoint to the end, ``half_in`` from the start to the midpoint.

    ``split`` counts the running offsets ``<= half`` (offset 0 included,
    searchsorted-right semantics); vertices before it go to ``half_in``.
    Offsets are summed left to right by ``aggregate``, the association
    order of the oracles' windowed SUM.  A zero-length (or 1-point)
    polyline takes its first point as the midpoint.
    """
    n = f"size({geom})"
    legs = (
        f"zip_with(slice({geom}, 1, {n} - 1), slice({geom}, 2, {n} - 1), "
        f"(__p, __q) -> {_leg_expr('__p', '__q')})"
    )
    total = "aggregate(__legs, 0.0D, (__a, __v) -> __a + __v)"
    # one left fold: running offset, last offset <= half, count of offsets <= half
    below = "__s.off + __v <= __total / 2.0D"
    fold = (
        "aggregate(__legs, struct(0.0D AS off, 0.0D AS last, 1 AS split), (__s, __v) -> "
        f"struct(__s.off + __v AS off, IF({below}, __s.off + __v, __s.last) AS last, "
        f"__s.split + IF({below}, 1, 0) AS split))"
    )
    # the leg holding the midpoint, from offset __fold.last (whenever the
    # leg is not zero-length); i0 + 1 is clamped for 1-point polylines
    i0 = "IF(__total = 0.0D, 0, __fold.split - 1)"
    seg = f"struct({geom}[{i0}] AS p, {geom}[least({i0} + 1, {n} - 1)] AS q)"
    leg = _leg_expr("__seg.p", "__seg.q")
    frac = f"IF({leg} > 0.0D, (__total / 2.0D - __fold.last) / {leg}, 0.0D)"
    mid = (
        "struct(__seg.p.lat + (__seg.q.lat - __seg.p.lat) * __frac AS lat, "
        "__seg.p.lng + (__seg.q.lng - __seg.p.lng) * __frac AS lng)"
    )
    tail = f"slice({geom}, __fold.split + 1, {n} - __fold.split)"
    halves = (
        f"struct(concat(array(__mid), {tail}) AS half_out, "
        f"concat(slice({geom}, 1, __fold.split), array(__mid)) AS half_in)"
    )
    for name, value in reversed(
        [("__legs", legs), ("__total", total), ("__fold", fold),
         ("__seg", seg), ("__frac", frac), ("__mid", mid)]
    ):
        halves = _let(name, value, halves)
    return halves


def export_rows(edges: DataFrame, exp_edges: DataFrame) -> DataFrame:
    """Expanded edges joined to edge geometry, with formatted LINESTRING."""
    halves = halves_expr("geom")
    src = edges.selectExpr(
        "edge_id AS src_edge_id", "oneway AS src_oneway",
        "src_node AS from_source_node", "tgt_node AS from_target_node",
        f"{halves}.half_out AS half_out",
    )
    tgt = edges.selectExpr(
        "edge_id AS tgt_edge_id", "src_node AS to_source_node", "tgt_node AS to_target_node",
        f"{halves}.half_in AS half_in",
    )

    joined = exp_edges.join(src, "src_edge_id").join(tgt, "tgt_edge_id")
    # geometry: midpoint(src)…via…midpoint(tgt); drop the duplicated via point
    line = "concat(half_out, slice(half_in, 2, greatest(size(half_in) - 1, 0)))"
    point = "concat_ws(' ', format_number(__p.lng, 6), format_number(__p.lat, 6))"
    points = f"transform({line}, __p -> {point})"
    return joined.selectExpr(
        "cost AS weight",
        f"concat('LINESTRING(', concat_ws(';', {points}), ')') AS geom",
        "CAST(src_oneway AS INT) AS was_one_way",
        "from_way AS osm_way_from",
        "to_way AS osm_way_to",
        "from_source_node",
        "from_target_node",
        "to_source_node",
        "to_target_node",
        "element_at(half_out, 1).lat AS src_mid_lat",
        "element_at(half_out, 1).lng AS src_mid_lng",
        "element_at(half_in, -1).lat AS tgt_mid_lat",
        "element_at(half_in, -1).lng AS tgt_mid_lng",
    )


# the reference's exact CSV row shape (csv/generate.hpp:44-56) — export_rows
# additionally returns the four src/tgt midpoint columns for oracle checks;
# the file sink emits only these nine
REFERENCE_CSV_COLUMNS = [
    "weight", "geom", "was_one_way", "osm_way_from", "osm_way_to",
    "from_source_node", "from_target_node", "to_source_node", "to_target_node",
]


def write_csv(rows: DataFrame, path: str) -> None:
    """Write :func:`export_rows` output as the reference's CSV file."""
    rows.select(*REFERENCE_CSV_COLUMNS).write.mode("overwrite").option(
        "header", True
    ).csv(path)
