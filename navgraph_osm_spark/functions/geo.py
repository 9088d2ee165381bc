"""Geodesic + planar geometry functions.

Spark SQL-text implementations of the reference's scalar geometry library
(reference: include/utils/geomath.cpp) so the hot path stays JVM-side
(builders return SQL fragments, see :mod:`navgraph_osm_spark.cells`):

- ``haversine_expr``  ↔ ``geopointsDistance`` (geomath.cpp:7-21), including
  the reference's idiosyncratic ``EARTH_RADIUS = 6370.986884258304`` km
  (geomath.hpp:6) so costs match the reference bit-for-bit semantics.
- ``haversine_sql``   — the same formula as ANSI SQL text for DuckDB oracles.
- ``polyline_cost_expr`` ↔ ``wayCost`` (geomath.cpp:23-46) via the
  ``aggregate`` higher-order function over an inline geometry array.
- numpy versions (suffix ``_np``) for pandas-UDF composition and tests.
- ``points_in_polygon_np`` — vectorized ray-casting point-in-polygon
  (the PIP join's test oracle and the overlay kernel's containment test;
  the reference has no polygon ops — this is graft functionality per
  BASELINE.json).
"""

from __future__ import annotations

import numpy as np

from navgraph_osm_spark.cells import dbl

EARTH_RADIUS_KM = 6370.986884258304  # reference include/utils/geomath.hpp:6


def haversine_expr(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    """Great-circle distance in km as Spark SQL text (reference
    geomath.cpp:7-21); arguments are SQL fragments."""
    a = (
        f"power(sin(radians(({lat2}) - ({lat1})) / 2), 2) + cos(radians({lat1})) "
        f"* cos(radians({lat2})) * power(sin(radians(({lng2}) - ({lng1})) / 2), 2)"
    )
    return f"{dbl(2.0 * EARTH_RADIUS_KM)} * atan2(sqrt({a}), sqrt(1.0D - ({a})))"


def haversine_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    """DuckDB/ANSI SQL text computing the identical haversine value."""
    phi1, phi2 = f"radians({lat1})", f"radians({lat2})"
    dphi, dlmb = f"radians({lat2} - {lat1})", f"radians({lng2} - {lng1})"
    a = (
        f"(pow(sin(({dphi})/2), 2) + cos({phi1}) * cos({phi2}) * "
        f"pow(sin(({dlmb})/2), 2))"
    )
    return f"(2.0 * {EARTH_RADIUS_KM!r} * atan2(sqrt({a}), sqrt(1.0 - {a})))"


def haversine_np(lat1, lng1, lat2, lng2) -> np.ndarray:
    lat1, lng1, lat2, lng2 = (np.asarray(v, dtype=np.float64) for v in (lat1, lng1, lat2, lng2))
    phi1, phi2 = np.radians(lat1), np.radians(lat2)
    dphi, dlmb = np.radians(lat2 - lat1), np.radians(lng2 - lng1)
    a = np.sin(dphi / 2) ** 2 + np.cos(phi1) * np.cos(phi2) * np.sin(dlmb / 2) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))


def polyline_cost_expr(geom: str) -> str:
    """Sum of haversine leg lengths over ``array<struct<lat,lng>>``.

    Reference ``wayCost`` (geomath.cpp:23-46) re-expressed with the
    ``aggregate``/``zip_with`` higher-order functions — no Python.
    """
    legs = (
        f"zip_with(slice({geom}, 1, size({geom}) - 1), slice({geom}, 2, size({geom}) - 1), "
        f"(__p, __q) -> {haversine_expr('__p.lat', '__p.lng', '__q.lat', '__q.lng')})"
    )
    return f"aggregate({legs}, 0.0D, (__acc, __v) -> __acc + __v)"


# ---------------------------------------------------------------------------
# numpy geometry kernels (used inside Arrow-batched pandas UDFs and tests)
# ---------------------------------------------------------------------------

def _orient_np(ax, ay, bx, by, cx, cy):
    """Sign of the cross product (b-a) × (c-a), broadcastable."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


_EDGE_TILE = 2048  # edge-pair tile side: ≤4M elements (~32 MB) per array


def _any_point_in_polygon_np(plat, plng, poly_lat, poly_lng, ring_starts=None) -> bool:
    """Early-exiting ``points_in_polygon_np(...).any()``: points are tested
    in geometrically growing chunks (1k, 8k, rest) so a hit in the first
    chunk skips the full ray-cast — the common case for genuinely
    overlapping large polygons."""
    n = plat.size
    s = 0
    for chunk in (1024, 8192, n):
        if s >= n:
            break
        e = min(n, s + chunk)
        if points_in_polygon_np(
            plat[s:e], plng[s:e], poly_lat, poly_lng, ring_starts=ring_starts
        ).any():
            return True
        s = e
    return False


def _ring_edges_np(lat: np.ndarray, lng: np.ndarray, ring_starts):
    """Closed edge arrays (x1, y1, x2, y2) of a (multi-)ring polygon —
    each ring closes onto its own first vertex; no cross-ring edges."""
    if ring_starts is None or len(ring_starts) <= 1:
        return lng, lat, np.roll(lng, -1), np.roll(lat, -1)
    starts = [int(s) for s in ring_starts]
    bounds = starts + [lat.size]
    x1s, y1s, x2s, y2s = [], [], [], []
    for a, b in zip(bounds[:-1], bounds[1:]):
        if b - a < 2:
            continue
        x1s.append(lng[a:b]); y1s.append(lat[a:b])
        x2s.append(np.roll(lng[a:b], -1)); y2s.append(np.roll(lat[a:b], -1))
    return (np.concatenate(x1s), np.concatenate(y1s),
            np.concatenate(x2s), np.concatenate(y2s))


def polygons_intersect_np(
    a_lat: np.ndarray, a_lng: np.ndarray, b_lat: np.ndarray, b_lng: np.ndarray,
    a_rings=None, b_rings=None,
) -> bool:
    """Do two simple polygons overlap?  True iff any vertex of one lies in
    the other (even-odd interior) OR any edge pair properly crosses.

    Boundary semantics are the half-open even-odd convention of
    :func:`points_in_polygon_np`: a polygon's low-side edges are closed,
    so axis-aligned neighbors sharing an edge or corner report True
    through the closed side (consistent with the closed-interval bbox
    prefilter of the overlay join).  Known limitation of the strict
    proper-crossing test (``o1*o2 < 0``): an overlap whose ONLY crossings
    pass exactly through a vertex of the other polygon (collinear /
    degenerate contact) is reported through the vertex-containment term
    when a vertex lands inside, but a zero-area-contact crossing that
    threads exactly through vertices with NO vertex of either polygon
    interior to the other can report False — exact-vertex-crossing
    contacts share the boundary-semantics caveat above.

    Memory is bounded for arbitrarily large polygons: edges are first
    prefiltered against the other polygon's bbox (a crossing edge pair
    must have both edges meeting the shared bbox), then the |A'|×|B'|
    orientation test runs in fixed-size tiles (``_EDGE_TILE``²) with early
    exit — a 50k×50k-vertex pair allocates tile-sized scratch, never the
    full 2.5G-element broadcast.

    ``a_rings`` / ``b_rings`` (optional ring start offsets, as in
    :func:`points_in_polygon_np`) extend the test to MULTI-RING polygons
    with even-odd interiors: vertex containment ray-casts against the
    ring-summed parity (a shape entirely inside the other's HOLE reports
    False), and the crossing test uses per-ring closed edge lists (no
    spurious cross-ring closing edges).
    """
    a_lat = np.asarray(a_lat, dtype=np.float64)
    a_lng = np.asarray(a_lng, dtype=np.float64)
    b_lat = np.asarray(b_lat, dtype=np.float64)
    b_lng = np.asarray(b_lng, dtype=np.float64)
    # bbox overlap region FIRST: disjoint bboxes → no containment and no
    # crossing, before any O(vertices) work
    ox0 = max(b_lng.min(), a_lng.min())
    ox1 = min(b_lng.max(), a_lng.max())
    oy0 = max(b_lat.min(), a_lat.min())
    oy1 = min(b_lat.max(), a_lat.max())
    if ox0 > ox1 or oy0 > oy1:
        return False
    # vertex containment — only vertices inside the OTHER's bbox can be
    # contained, so the ray-cast runs on that (usually tiny) subset, with
    # geometrically-growing point chunks for early exit on the first hit
    ca = (a_lng >= ox0) & (a_lng <= ox1) & (a_lat >= oy0) & (a_lat <= oy1)
    if ca.any() and _any_point_in_polygon_np(
        a_lat[ca], a_lng[ca], b_lat, b_lng, ring_starts=b_rings
    ):
        return True
    cb = (b_lng >= ox0) & (b_lng <= ox1) & (b_lat >= oy0) & (b_lat <= oy1)
    if cb.any() and _any_point_in_polygon_np(
        b_lat[cb], b_lng[cb], a_lat, a_lng, ring_starts=a_rings
    ):
        return True
    # per-ring closed edge lists
    ax1, ay1, ax2, ay2 = _ring_edges_np(a_lat, a_lng, a_rings)
    bx1, by1, bx2, by2 = _ring_edges_np(b_lat, b_lng, b_rings)
    # segment prefilter: a crossing pair's edges both intersect the bbox
    # overlap region of the two polygons — for disjoint or barely-touching
    # footprints this eliminates nearly every edge before the O(|A|·|B|)
    # work (coastline-scale polygons)

    def _touch(x1, y1, x2, y2):
        return (
            (np.minimum(x1, x2) <= ox1) & (np.maximum(x1, x2) >= ox0)
            & (np.minimum(y1, y2) <= oy1) & (np.maximum(y1, y2) >= oy0)
        )

    ka = _touch(ax1, ay1, ax2, ay2)
    kb = _touch(bx1, by1, bx2, by2)
    if not ka.any() or not kb.any():
        return False
    ax1, ay1, ax2, ay2 = ax1[ka], ay1[ka], ax2[ka], ay2[ka]
    bx1, by1, bx2, by2 = bx1[kb], by1[kb], bx2[kb], by2[kb]
    # tiled |A'|×|B'| orientation broadcast, early exit per tile
    for i in range(0, ax1.size, _EDGE_TILE):
        sl = slice(i, i + _EDGE_TILE)
        tax1, tay1 = ax1[sl][:, None], ay1[sl][:, None]
        tax2, tay2 = ax2[sl][:, None], ay2[sl][:, None]
        for j in range(0, bx1.size, _EDGE_TILE):
            sj = slice(j, j + _EDGE_TILE)
            tbx1, tby1 = bx1[sj][None, :], by1[sj][None, :]
            tbx2, tby2 = bx2[sj][None, :], by2[sj][None, :]
            o1 = _orient_np(tax1, tay1, tax2, tay2, tbx1, tby1)
            o2 = _orient_np(tax1, tay1, tax2, tay2, tbx2, tby2)
            o3 = _orient_np(tbx1, tby1, tbx2, tby2, tax1, tay1)
            o4 = _orient_np(tbx1, tby1, tbx2, tby2, tax2, tay2)
            if ((o1 * o2 < 0) & (o3 * o4 < 0)).any():
                return True
    return False


def points_in_polygons_pairwise_np(
    plat: np.ndarray, plng: np.ndarray, vlat: np.ndarray, vlng: np.ndarray
) -> np.ndarray:
    """Batched pairwise even-odd test: for each row ``i``, are the points
    ``(plat[i,:], plng[i,:])`` inside the polygon ``(vlat[i,:], vlng[i,:])``?

    Shapes: points ``(m, k)``, polygons ``(m, n)`` → bool ``(m, k)``.  All
    ``m`` rows evaluate in ``n`` vectorized edge passes (the loop is over
    the shared vertex count, not rows) with the EXACT float expression of
    :func:`points_in_polygon_np` — rings close via the cyclic edge
    ``n-1 → 0``; for inputs already closed (first == last vertex) that
    wrap edge is degenerate and contributes no crossings, so open and
    closed rings agree with the per-pair kernel.
    """
    plat = np.asarray(plat, dtype=np.float64)
    plng = np.asarray(plng, dtype=np.float64)
    vlat = np.asarray(vlat, dtype=np.float64)
    vlng = np.asarray(vlng, dtype=np.float64)
    n = vlat.shape[1]
    inside = np.zeros(plat.shape, dtype=bool)
    for i in range(n):
        j = (i + 1) % n
        y1 = vlat[:, i][:, None]
        x1 = vlng[:, i][:, None]
        y2 = vlat[:, j][:, None]
        x2 = vlng[:, j][:, None]
        crosses = (y1 > plat) != (y2 > plat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (plat - y1) / (y2 - y1) * (x2 - x1)
        inside ^= crosses & (plng < xint)
    return inside


def polygons_intersect_pairwise_np(
    a_lat: np.ndarray, a_lng: np.ndarray, b_lat: np.ndarray, b_lng: np.ndarray,
    chunk_elems: int = 4_000_000,
) -> np.ndarray:
    """Batched pairwise :func:`polygons_intersect_np`: row ``i`` of the
    ``(m,)`` bool output answers "do polygon ``(a_lat[i], a_lng[i])`` and
    polygon ``(b_lat[i], b_lng[i])`` overlap?".

    Shapes: ``(m, na)`` and ``(m, nb)`` — the caller groups pairs by
    vertex-count shape (the overlay join's refinement batches this way)
    so ONE numpy call covers the whole shape group instead of a Python
    dispatch per pair.  The ``(m, na, nb)`` edge-orientation broadcast is
    chunked over rows to at most ``chunk_elems`` elements.  Semantics are
    identical to the per-pair kernel (same float expressions, same
    half-open even-odd boundary convention and vertex-contact caveat).
    """
    a_lat = np.asarray(a_lat, dtype=np.float64)
    a_lng = np.asarray(a_lng, dtype=np.float64)
    b_lat = np.asarray(b_lat, dtype=np.float64)
    b_lng = np.asarray(b_lng, dtype=np.float64)
    m, na = a_lat.shape
    nb = b_lat.shape[1]
    hit = points_in_polygons_pairwise_np(a_lat, a_lng, b_lat, b_lng).any(axis=1)
    rem = ~hit
    if rem.any():
        hit[rem] |= points_in_polygons_pairwise_np(
            b_lat[rem], b_lng[rem], a_lat[rem], a_lng[rem]
        ).any(axis=1)
        rem = ~hit
    if not rem.any():
        return hit
    # proper edge crossings for the remaining rows, chunked over rows
    idx = np.flatnonzero(rem)
    rows_per_chunk = max(1, chunk_elems // max(1, na * nb))
    for s in range(0, idx.size, rows_per_chunk):
        ii = idx[s : s + rows_per_chunk]
        ax1, ay1 = a_lng[ii][:, :, None], a_lat[ii][:, :, None]
        ax2 = np.roll(a_lng[ii], -1, axis=1)[:, :, None]
        ay2 = np.roll(a_lat[ii], -1, axis=1)[:, :, None]
        bx1, by1 = b_lng[ii][:, None, :], b_lat[ii][:, None, :]
        bx2 = np.roll(b_lng[ii], -1, axis=1)[:, None, :]
        by2 = np.roll(b_lat[ii], -1, axis=1)[:, None, :]
        o1 = _orient_np(ax1, ay1, ax2, ay2, bx1, by1)
        o2 = _orient_np(ax1, ay1, ax2, ay2, bx2, by2)
        o3 = _orient_np(bx1, by1, bx2, by2, ax1, ay1)
        o4 = _orient_np(bx1, by1, bx2, by2, ax2, ay2)
        hit[ii] = ((o1 * o2 < 0) & (o3 * o4 < 0)).any(axis=(1, 2))
    return hit


def ring_bounds_expr(fp: str, rings: str | None = None) -> str:
    """``array<struct<s,e>>`` of [start, end) vertex offsets per ring of a
    flat footprint (SQL text).  ``rings`` is an ``array<int>`` of ring
    start offsets; null, empty or absent means one ring.  The
    ``struct(… AS s).s`` wrappers only name the zipped fields — the
    optimizer strips them."""
    if rings is None:
        starts = "array(0)"
    else:
        starts = f"CASE WHEN ({rings}) IS NULL OR size({rings}) = 0 THEN array(0) ELSE {rings} END"
    ends = f"concat(slice({starts}, 2, greatest(size({starts}) - 1, 0)), array(size({fp})))"
    return f"arrays_zip(struct({starts} AS s).s, struct({ends} AS e).e)"


def _ring_crossings_expr(lat: str, lng: str, ring: str) -> str:
    """Crossing count of the rightward ray from (lat, lng) against ONE
    closed ring (SQL text; the kernel's exact float terms)."""
    closed = f"concat({ring}, slice({ring}, 1, 1))"
    e1 = f"slice({closed}, 1, size({closed}) - 1)"
    e2 = f"slice({closed}, 2, size({closed}) - 1)"
    above_p, above_q = f"(__p.lat > ({lat}))", f"(__q.lat > ({lat}))"
    xint = f"__p.lng + (({lat}) - __p.lat) / (__q.lat - __p.lat) * (__q.lng - __p.lng)"
    crossing = (
        f"CASE WHEN ({above_p} AND NOT {above_q}) OR (NOT {above_p} AND {above_q}) "
        f"THEN CASE WHEN ({lng}) < {xint} THEN 1 ELSE 0 END ELSE 0 END"
    )
    return f"aggregate(zip_with({e1}, {e2}, (__p, __q) -> {crossing}), 0, (__a, __v) -> __a + __v)"


def point_in_ring_expr(lat: str, lng: str, fp: str, rings: str | None = None) -> str:
    """Even-odd ray cast as SQL text: is the point (``lat``, ``lng``)
    inside the footprint ``fp`` (``array<struct<lat,lng>>``)?

    Reproduces :func:`points_in_polygon_np`'s exact float expression —
    ``(y1 > p) != (y2 > p)`` crossing test with
    ``x1 + (p - y1)/(y2 - y1) * (x2 - x1)`` strict-``<`` intercept — as
    ``zip_with`` over the closed edge list + an ``aggregate`` parity sum,
    so the whole test stays in whole-stage codegen: no Python, no join.
    Horizontal edges contribute nothing (the crossing guard is false
    before the division is reached — CASE WHEN is lazy in codegen).
    Used by :func:`operators.spatial_join.polygon_to_cells` for exact
    polyfill; open rings close via the appended first vertex.

    ``rings`` (optional ring start offsets, ``array<int>``) sums
    crossings across ring slices — even-odd hole semantics, the SQL twin
    of the numpy kernel's ``ring_starts``.
    """
    if rings is None:
        return f"pmod({_ring_crossings_expr(lat, lng, fp)}, 2) = 1"
    per_ring = (
        f"transform({ring_bounds_expr(fp, rings)}, __b -> "
        f"{_ring_crossings_expr(lat, lng, f'slice({fp}, __b.s + 1, __b.e - __b.s)')})"
    )
    return f"pmod(aggregate({per_ring}, 0, (__a, __v) -> __a + __v), 2) = 1"


def points_in_polygon_np(
    plat: np.ndarray,
    plng: np.ndarray,
    poly_lat: np.ndarray,
    poly_lng: np.ndarray,
    ring_starts=None,
) -> np.ndarray:
    """Vectorized even-odd ray casting: are points inside the polygon?

    Boundary handling: points exactly on a horizontal edge follow the
    even-odd crossing convention (deterministic, matches the numpy oracle
    used by the tests).

    ``ring_starts`` (optional, e.g. ``[0, 4]``) splits the flat vertex
    arrays into rings — outer boundary first, then holes / additional
    shells (OSM multipolygon relations, building footprints with
    courtyards).  Each ring is closed independently and crossings are
    summed across rings, so even-odd parity gives hole semantics: a point
    inside both the outer ring and a hole counts two crossings → outside.
    ``None`` or a single ring is the plain polygon case.
    """
    plat = np.asarray(plat, dtype=np.float64)
    plng = np.asarray(plng, dtype=np.float64)
    vy = np.asarray(poly_lat, dtype=np.float64)
    vx = np.asarray(poly_lng, dtype=np.float64)
    if ring_starts is not None and len(ring_starts) > 1:
        starts = [int(s) for s in ring_starts]
        bounds = starts + [vy.size]
        inside = np.zeros(plat.shape, dtype=bool)
        for a, b in zip(bounds[:-1], bounds[1:]):
            if b > a:
                # XOR of per-ring parities == parity of the summed crossings
                inside ^= points_in_polygon_np(plat, plng, vy[a:b], vx[a:b])
        return inside
    if vy.size and (vy[0] != vy[-1] or vx[0] != vx[-1]):
        vy = np.concatenate((vy, vy[:1]))
        vx = np.concatenate((vx, vx[:1]))
    inside = np.zeros(plat.shape, dtype=bool)
    for i in range(vy.size - 1):
        y1, x1, y2, x2 = vy[i], vx[i], vy[i + 1], vx[i + 1]
        crosses = (y1 > plat) != (y2 > plat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (plat - y1) / (y2 - y1) * (x2 - x1)
        inside ^= crosses & (plng < xint)
    return inside
