"""Hierarchical geospatial cell index (Morton/quadkey-packed int64 ids).

Replaces the reference's HEALPix ``ang2pix_ring(N_SIDE=50)`` partitioning
(reference: include/healpix/utils.hpp:13, call sites worker.hpp:163-175,
main.cpp:305-316) with a resolution-parameterized hierarchical grid in the
spirit of H3/S2 (neither library is available in this container, so the index
is implemented from first principles — standard Bing-quadkey / Morton-code
construction, public knowledge).

Cell id layout (int64)::

    cell_id = (1 << (2*res)) | morton(x, y)

where at resolution ``res`` the world (equirectangular lat/lng) is a
``2^res × 2^res`` grid, ``x`` indexes longitude west→east, ``y`` indexes
latitude north→south, and ``morton`` interleaves x (even bits) and y (odd
bits).  The leading marker bit makes ids self-describing (resolution is
recoverable) and gives S2-style algebra:

- ``parent(cell) = cell >> 2``
- ``children(cell) = [cell<<2, cell<<2 | 1, cell<<2 | 2, cell<<2 | 3]``
- ``is_ancestor(a, b) = (b >> 2*(res_b - res_a)) == a``

Two implementations, guaranteed equal (tested):

- **Spark SQL text** (``cell_expr`` etc.) — arithmetic/bit-op expressions
  parsed once per output column; stays inside whole-stage codegen, no
  Python in the hot path.  This is what the engine uses for 100 TB scans.
- **numpy** (``latlng_to_cell`` etc.) — vectorized, for pandas-UDF composition
  and as the test oracle.

``cell_xy_expr`` / ``xy_cell`` give the simpler non-hierarchical encoding
``x * 2^res + y`` used where an ANSI-SQL DuckDB oracle must reproduce the id.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 25  # 2*25+1 = 51 bits: exact in doubles, far below int64 limits.

_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


# ---------------------------------------------------------------------------
# numpy implementation (vectorized; oracle + pandas-UDF building block)
# ---------------------------------------------------------------------------

def _spread_bits_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    for shift, mask in _SPREAD_MASKS:
        v = (v | (v << shift)) & mask
    return v


def _compact_bits_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64) & 0x5555555555555555
    v = (v | (v >> 1)) & 0x3333333333333333
    v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0F
    v = (v | (v >> 4)) & 0x00FF00FF00FF00FF
    v = (v | (v >> 8)) & 0x0000FFFF0000FFFF
    v = (v | (v >> 16)) & 0x00000000FFFFFFFF
    return v


def latlng_to_xy(lat: np.ndarray, lng: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << res
    x = np.floor((np.asarray(lng, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((90.0 - np.asarray(lat, dtype=np.float64)) / 180.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def xy_to_cell(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    marker = np.int64(1) << np.int64(2 * res)
    return marker | _spread_bits_np(np.asarray(x)) | (_spread_bits_np(np.asarray(y)) << 1)


def latlng_to_cell(lat: np.ndarray, lng: np.ndarray, res: int) -> np.ndarray:
    """Vectorized lat/lng → hierarchical cell id (numpy)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    x, y = latlng_to_xy(lat, lng, res)
    return xy_to_cell(x, y, res)


def cell_res(cell: np.ndarray) -> np.ndarray:
    """Resolution encoded by the marker bit: floor(log2(cell)) / 2."""
    c = np.asarray(cell, dtype=np.int64)
    bits = np.zeros_like(c)
    v = c.copy()
    for s in (32, 16, 8, 4, 2, 1):
        ge = v >= (np.int64(1) << s)
        bits = np.where(ge, bits + s, bits)
        v = np.where(ge, v >> s, v)
    return bits // 2


def cell_to_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cell, dtype=np.int64)
    res = cell_res(c)
    morton = c ^ (np.int64(1) << (2 * res))
    return _compact_bits_np(morton), _compact_bits_np(morton >> 1), res


def cell_parent(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) >> (2 * steps)


def cell_children(cell: int) -> list[int]:
    base = int(cell) << 2
    return [base, base | 1, base | 2, base | 3]


def is_ancestor(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """True where cell ``a`` is an ancestor-or-self of cell ``b``."""
    ra, rb = cell_res(np.asarray(a)), cell_res(np.asarray(b))
    shift = np.maximum(2 * (rb - ra), 0)
    return (np.asarray(b, dtype=np.int64) >> shift == np.asarray(a)) & (rb >= ra)


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lat_min, lat_max, lng_min, lng_max) of each cell."""
    x, y, res = cell_to_xy(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lng_min = x / n * 360.0 - 180.0
    lng_max = (x + 1) / n * 360.0 - 180.0
    lat_max = 90.0 - y / n * 180.0
    lat_min = 90.0 - (y + 1) / n * 180.0
    return lat_min, lat_max, lng_min, lng_max


def grid_disk_np(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (wrapping lng, clamping lat)."""
    x, y, res = cell_to_xy(np.asarray([cell]))
    x, y, res = int(x[0]), int(y[0]), int(res[0])
    n = 1 << res
    dxs, dys = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    nx = (x + dxs.ravel()) % n
    ny = y + dys.ravel()
    ok = (ny >= 0) & (ny < n)
    return np.unique(xy_to_cell(nx[ok], ny[ok], res))


# ---------------------------------------------------------------------------
# Spark SQL-text implementation (JVM-side, codegen'd)
# ---------------------------------------------------------------------------
#
# Builders compose Spark SQL text: arguments are SQL fragments (a column
# name is one) and the result is a fragment, parsed ONCE per output column
# by ``F.expr`` / ``selectExpr``.  Building the same tree through the Column
# API costs one py4j round trip per operator node (505 for one cell id).
# Double literals carry a ``D`` suffix — a bare ``180.0`` is a DECIMAL in
# Spark SQL.  Lambda variables are ``__``-prefixed so they never shadow a
# column referenced by an argument fragment.

def dbl(v: float) -> str:
    """A Spark SQL DOUBLE literal with the exact value of ``v``."""
    return f"{float(v)!r}D"


def _spread_bits_expr(v: str) -> str:
    for shift, mask in _SPREAD_MASKS:
        v = f"(({v}) | shiftleft({v}, {shift})) & {mask}"
    return v


def xy_expr(lat: str, lng: str, res: int) -> tuple[str, str]:
    n = 1 << res
    x = f"CAST(floor((({lng}) + 180.0D) / 360.0D * {dbl(n)}) AS BIGINT)"
    y = f"CAST(floor((90.0D - ({lat})) / 180.0D * {dbl(n)}) AS BIGINT)"
    return f"greatest(0, least({n - 1}, {x}))", f"greatest(0, least({n - 1}, {y}))"


def _marker(res: int) -> str:
    return f"CAST({1 << (2 * res)} AS BIGINT)"


def cell_expr(lat: str, lng: str, res: int) -> str:
    """lat/lng → hierarchical cell id as Spark SQL text.

    Equivalent to :func:`latlng_to_cell`; stays in whole-stage codegen.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    return cell_from_xy_expr(*xy_expr(lat, lng, res), res)


def cell_from_xy_expr(x: str, y: str, res: int) -> str:
    """(x, y) grid coordinates → hierarchical cell id (SQL text)."""
    sx = _spread_bits_expr(f"CAST({x} AS BIGINT)")
    sy = _spread_bits_expr(f"CAST({y} AS BIGINT)")
    return f"({_marker(res)} | ({sx})) | shiftleft({sy}, 1)"


def cell_xy_expr(lat: str, lng: str, res: int) -> str:
    """Non-hierarchical ``x * 2^res + y`` id — ANSI-SQL-reproducible (oracle)."""
    x, y = xy_expr(lat, lng, res)
    return f"(({x}) * {1 << res}) + ({y})"


def cell_xy_sql(lat: str, lng: str, res: int) -> str:
    """The exact DuckDB/ANSI SQL equivalent of :func:`cell_xy_expr`."""
    n = 1 << res
    return (
        f"(GREATEST(0, LEAST({n - 1}, CAST(FLOOR(({lng} + 180.0) / 360.0 * {n}.0) AS BIGINT))) * {n} "
        f"+ GREATEST(0, LEAST({n - 1}, CAST(FLOOR((90.0 - {lat}) / 180.0 * {n}.0) AS BIGINT))))"
    )


def cell_morton_sql(lat: str, lng: str, res: int) -> str:
    """DuckDB SQL computing the exact HIERARCHICAL cell id of
    :func:`cell_expr` (marker bit | morton(x, y)).

    Bit spreading is a per-bit list comprehension instead of the
    shift/mask cascade — list_sum([((x >> i) & 1) << 2i]) — because SQL has
    no cheap way to reuse a subexpression five times without a CTE.  This
    makes the full Morton/quadkey id (and therefore parent/child shifts)
    DuckDB-checkable, so adaptive-split results can be oracled.
    """
    n = 1 << res
    x = (
        f"GREATEST(0, LEAST({n - 1}, "
        f"CAST(FLOOR(({lng} + 180.0) / 360.0 * {n}.0) AS BIGINT)))"
    )
    y = (
        f"GREATEST(0, LEAST({n - 1}, "
        f"CAST(FLOOR((90.0 - {lat}) / 180.0 * {n}.0) AS BIGINT)))"
    )

    def spread(v: str, extra_shift: int) -> str:
        return (
            f"CAST(COALESCE(list_sum([((({v}) >> i) & 1) << (2 * i + {extra_shift}) "
            f"FOR i IN range(0, {res})]), 0) AS BIGINT)"  # res=0: empty list -> 0
        )

    return f"({1 << (2 * res)} | {spread(x, 0)} | {spread(y, 1)})"


def _compact_bits_expr(v: str) -> str:
    """Inverse Morton interleave (SQL twin of :func:`_compact_bits_np`)."""
    v = f"({v}) & {0x5555555555555555}"
    for shift, mask in (
        (1, 0x3333333333333333),
        (2, 0x0F0F0F0F0F0F0F0F),
        (4, 0x00FF00FF00FF00FF),
        (8, 0x0000FFFF0000FFFF),
        (16, 0x00000000FFFFFFFF),
    ):
        v = f"(({v}) | shiftright({v}, {shift})) & {mask}"
    return v


def cell_bounds_expr(cell: str, res: int) -> tuple[str, str, str, str]:
    """(lat_min, lat_max, lng_min, lng_max) of a cell id at a KNOWN ``res``
    as SQL text — the raster→vector direction (tile id → geographic
    extent, e.g. emitting tile footprints for export or feeding tiles back
    into the polygon joins).  SQL twin of :func:`cell_bounds` (which also
    derives per-row res for mixed inputs).
    """
    morton = f"({cell}) ^ {_marker(res)}"
    x = f"CAST({_compact_bits_expr(morton)} AS DOUBLE)"
    y = f"CAST({_compact_bits_expr(f'shiftright({morton}, 1)')} AS DOUBLE)"
    n = dbl(1 << res)
    lng_min = f"{x} / {n} * 360.0D - 180.0D"
    lng_max = f"({x} + 1) / {n} * 360.0D - 180.0D"
    lat_max = f"90.0D - {y} / {n} * 180.0D"
    lat_min = f"90.0D - ({y} + 1) / {n} * 180.0D"
    return lat_min, lat_max, lng_min, lng_max


def grid_disk_expr(
    cell_x: str, cell_y: str, res: int, k: int | str,
    ky: int | str | None = None,
) -> str:
    """Array of (x, y) neighbor structs within Chebyshev distance k.

    Meant to be exploded: ``explode(<grid_disk_expr>)``.  Longitude
    wraps; latitude clamps (out-of-range rows are filtered).
    Pure SQL expressions (sequence + transform + filter + flatten).

    ``k`` may be an SQL fragment for per-row disk sizing (distance_join
    sizes each row's disk from its own latitude — equatorial rows get
    ring 1, only poleward rows pay wide disks).  ``ky`` makes the disk
    ASYMMETRIC: ``k`` spans longitude (x), ``ky`` latitude (y) — a
    fixed-radius search needs far fewer lat rows than poleward lng
    columns, so the rectangle (2k+1)×(2ky+1) beats the square.

    The result is DISTINCT per disk (array_distinct, per-row — no shuffle):
    when ``2k+1 > 2^res`` the longitude wrap revisits cells, and downstream
    joins (knn_join) rely on "each disk contains a cell at most once" to
    emit unique candidate pairs without a dedup shuffle.
    """
    n = 1 << res

    def _k(v: int | str) -> str:
        return str(v) if isinstance(v, int) else f"CAST({v} AS BIGINT)"

    kc = _k(k)
    kyc = kc if ky is None else _k(ky)
    pairs = (
        f"flatten(transform(sequence(-({kc}), {kc}), __i -> "
        f"transform(sequence(-({kyc}), {kyc}), __j -> struct("
        f"pmod(({cell_x}) + __i, {n}) AS x, ({cell_y}) + __j AS y))))"
    )
    return f"array_distinct(filter({pairs}, __p -> __p.y >= 0 AND __p.y < {n}))"
