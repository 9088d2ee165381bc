"""CSV export: reference row shape + geometry midpoint semantics."""

from __future__ import annotations

import re

import numpy as np
import pytest

from navgraph_osm_spark.operators.export import export_rows, halves_expr, write_csv
from navgraph_osm_spark.operators.graph_build import build_edges
from navgraph_osm_spark.operators.turn_expand import expand_turns
from navgraph_osm_spark.sources.synth import gen_road_grid

_LS = re.compile(r"^LINESTRING\((-?\d+\.\d{6} -?\d+\.\d{6})(;-?\d+\.\d{6} -?\d+\.\d{6})*\)$")


def _scalar_halves(lats, lngs):
    """Scalar reference for one polyline: (midpoint, split).  The export's
    leg formula ``sqrt(dlat*dlat + dlng*dlng)`` and a sequential cumsum
    (the SQL oracle's association order), one half for both split and
    midpoint; a 1-point or zero-length polyline takes its first point."""
    lats, lngs = np.asarray(lats, dtype=np.float64), np.asarray(lngs, dtype=np.float64)
    dlat, dlng = np.diff(lats), np.diff(lngs)
    legs = np.sqrt(dlat * dlat + dlng * dlng)
    cum = np.concatenate(([0.0], np.cumsum(legs)))
    half = cum[-1] / 2.0
    split = int(np.searchsorted(cum, half, side="right"))
    if lats.size == 1:
        return (lats[0], lngs[0]), split
    i0 = 0 if cum[-1] == 0.0 else min(split - 1, legs.size - 1)
    frac = (half - cum[i0]) / legs[i0] if legs[i0] > 0 else 0.0
    mid = (lats[i0] + (lats[i0 + 1] - lats[i0]) * frac,
           lngs[i0] + (lngs[i0 + 1] - lngs[i0]) * frac)
    return mid, split


@pytest.fixture(scope="module")
def graph(spark):
    grid = gen_road_grid(spark, rows=3, cols=3, seed=42)
    edges = build_edges(grid["nodes"], grid["ways"], grid["way_nodes"], res=12)
    edges.cache()
    turns = expand_turns(edges, grid["restrictions"])
    return edges, turns


def test_export_shape_and_counts(graph):
    edges, turns = graph
    out = export_rows(edges, turns)
    assert out.columns == [
        "weight", "geom", "was_one_way", "osm_way_from", "osm_way_to",
        "from_source_node", "from_target_node", "to_source_node", "to_target_node",
        "src_mid_lat", "src_mid_lng", "tgt_mid_lat", "tgt_mid_lng",
    ]
    rows = out.collect()
    assert len(rows) == turns.count()
    for r in rows:
        assert _LS.match(r["geom"]), r["geom"]
        assert r["was_one_way"] in (0, 1)
        assert r["weight"] > 0


def test_geom_starts_at_source_midpoint(graph):
    edges, turns = graph
    t = turns.first()
    e = edges.filter(edges["edge_id"] == t["src_edge_id"]).first()
    lats = [p["lat"] for p in e["geom"]]
    lngs = [p["lng"] for p in e["geom"]]
    (mlat, mlng), _split = _scalar_halves(lats, lngs)
    row = (
        export_rows(edges, turns.limit(0).unionByName(turns.filter(
            (turns["src_edge_id"] == t["src_edge_id"]) & (turns["tgt_edge_id"] == t["tgt_edge_id"])
        )))
    ).first()
    assert (row["src_mid_lat"], row["src_mid_lng"]) == (float(mlat), float(mlng))
    first_pt = row["geom"][len("LINESTRING(") :].split(";")[0]
    lng_s, lat_s = first_pt.split(" ")
    assert abs(float(lng_s) - mlng) < 5e-7 and abs(float(lat_s) - mlat) < 5e-7


def test_write_csv(tmp_path, graph):
    edges, turns = graph
    write_csv(export_rows(edges, turns), str(tmp_path / "out"))
    import glob

    files = glob.glob(str(tmp_path / "out" / "*.csv"))
    assert files


def _sql_halves(spark, edges):
    """Run :func:`halves_expr` over ``(edge_id, lats, lngs)`` rows →
    {edge_id: (half_out, half_in)} as lists of (lat, lng) tuples."""
    df = spark.createDataFrame(
        [(e, [(float(a), float(b)) for a, b in zip(la, ln)]) for e, la, ln in edges],
        "edge_id long, geom array<struct<lat:double,lng:double>>",
    )
    rows = df.selectExpr("edge_id", f"{halves_expr('geom')} AS h").collect()
    return {
        r["edge_id"]: (
            [(p["lat"], p["lng"]) for p in r["h"]["half_out"]],
            [(p["lat"], p["lng"]) for p in r["h"]["half_in"]],
        )
        for r in rows
    }


def test_halves_kernel_vectorized_matches_scalar(spark):
    """The SQL halves reproduce the scalar reference semantics (midpoint +
    split index) bit for bit on random polylines, including the degenerate
    zero-length, 2-point and 1-point cases."""
    rng = np.random.default_rng(11)
    edges = []
    for e in range(300):
        k = int(rng.integers(2, 12))
        edges.append((e, rng.uniform(-80, 80, k), rng.uniform(-179, 179, k)))
    edges.append((9001, np.array([1.0, 1.0, 1.0]), np.array([2.0, 2.0, 2.0])))
    edges.append((9002, np.array([3.0, 4.0]), np.array([5.0, 6.0])))
    # symmetric polyline: half lands EXACTLY on the middle vertex — the
    # split-index equality case must match the sequential-cumsum oracle
    edges.append((9003, np.array([0.0, 1.0, 2.0]), np.array([0.0, 1.0, 2.0])))
    edges.append((9004, np.array([7.0]), np.array([8.0])))
    got = _sql_halves(spark, edges)

    for eid, lats, lngs in edges:
        mid, split = _scalar_halves(lats, lngs)
        pts = list(zip(lats, lngs))
        want_out = [mid] + pts[split:]
        want_in = pts[:split] + [mid]
        got_out, got_in = got[eid]
        assert got_out == [(float(a), float(b)) for a, b in want_out], eid
        assert got_in == [(float(a), float(b)) for a, b in want_in], eid


def test_halves_kernel_mixed_degenerate_batch_bit_exact(spark):
    """A degenerate (1-point) geometry among ordinary rows must NOT change
    any ordinary edge's arithmetic: their halves are bitwise identical to an
    all-ordinary input (row-composition independence), and the degenerate
    row itself still yields non-empty halves."""
    rng = np.random.default_rng(23)
    edges = []
    for e in range(40):
        la = rng.uniform(-80, 80, int(rng.integers(2, 9)))
        edges.append((e, la, rng.uniform(-179, 179, la.size)))

    pure = _sql_halves(spark, edges)
    degenerate = (999, np.array([7.0]), np.array([8.0]))
    mixed = _sql_halves(spark, edges[:20] + [degenerate] + edges[20:])
    for e, _la, _ln in edges:
        assert mixed[e] == pure[e], e  # bitwise: equality on floats
    # scalar reference for one point: split=1 → out=[mid], in=[p, mid]
    assert mixed[999] == ([(7.0, 8.0)], [(7.0, 8.0), (7.0, 8.0)])


def test_halves_kernel_split_equality_case(spark):
    """Half exactly equal to a vertex offset: the vertex belongs to half_in
    (searchsorted side='right' semantics), bit-for-bit."""
    lats, lngs = np.array([0.0, 3.0, 6.0]), np.array([0.0, 4.0, 8.0])  # legs 5,5
    ho, hi = _sql_halves(spark, [(1, lats, lngs)])[1]
    # half == 5.0 == cum[1] exactly → split=2 → mid is the middle vertex
    assert hi == [(0.0, 0.0), (3.0, 4.0), (3.0, 4.0)]
    assert ho == [(3.0, 4.0), (6.0, 8.0)]


def test_export_rows_runs_no_python(graph):
    """The whole export — halves, joins, LINESTRING assembly — plans as
    JVM operators: no Python node anywhere in it.  Each join side computes
    its own half from ``edges``, so the export plans only its two joins to
    the expanded edges, no self-join of ``edges``.  The inputs are
    checkpointed so the plan holds only the export's own operators."""
    edges, turns = (df.localCheckpoint() for df in graph)
    plan = export_rows(edges, turns)._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in plan, plan
    assert len(re.findall(r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", plan)) == 2, plan
