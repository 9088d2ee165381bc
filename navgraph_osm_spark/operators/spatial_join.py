"""Spatial join + raster↔vector tiling (the graft's headline operators).

Design (BASELINE.json north_star): candidate generation by **cell equi join**
— points indexed at resolution ``res``, polygons expanded to their covering
cell set — then **exact refinement**.  The point-in-polygon join refines
with an unrolled even-odd ray cast in whole-stage codegen; the polygon
overlay join refines in an Arrow-batched ``mapInPandas``.  This reuses the
reference's spatial-locality pattern (per-pixel partitioning + border
replication, reference main.cpp:226-238, 621-708): a polygon is
"replicated" into every cell it covers, exactly like the reference's
border edges are written to both incident pixels.

Scale notes: the candidate join is a plain equi join on ``cell`` — AQE
handles skew splitting; dense city-core cells can additionally be salted /
adaptively split (operators.skew).  Covering-cell expansion is pure column
arithmetic (sequence × sequence explode), so Catalyst pushes the whole
candidate stage into codegen; Python runs only in the overlay join's final
refinement over candidate pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from navgraph_osm_spark.cells import cell_expr, cell_from_xy_expr, dbl, xy_expr
from navgraph_osm_spark.functions.geo import ring_bounds_expr


def _q(name: str) -> str:
    """Backtick-quote a column name for a ``selectExpr`` pass-through."""
    return "`" + name.replace("`", "``") + "`"


def assign_cells(df: DataFrame, res: int, lat: str = "lat", lng: str = "lng",
                 out: str = "cell") -> DataFrame:
    """Point rows → + hierarchical cell column (pure codegen, no Python)."""
    return df.withColumn(out, F.expr(cell_expr(lat, lng, res)))


_BBOX = ("lat_min", "lat_max", "lng_min", "lng_max")


def footprint_bbox(df: DataFrame, fp: str = "footprint") -> DataFrame:
    """Polygon rows → bbox columns via array higher-order functions."""
    lats = f"transform({fp}, __p -> __p.lat)"
    lngs = f"transform({fp}, __p -> __p.lng)"
    return df.withColumns({
        "lat_min": F.expr(f"array_min({lats})"),
        "lat_max": F.expr(f"array_max({lats})"),
        "lng_min": F.expr(f"array_min({lngs})"),
        "lng_max": F.expr(f"array_max({lngs})"),
    })


def covering_cells(df: DataFrame, res: int, fp: str = "footprint",
                   out: str = "cell", keep_bbox: bool = False,
                   keep_xy: bool = False, rings: str | None = None) -> DataFrame:
    """Explode each polygon row into its bbox-covering cell ids.

    This is the raster↔vector tiling primitive: for images, the footprint's
    covering cells ARE its tile assignments.  Pure SQL expressions.
    ``keep_bbox=True`` retains the lat/lng min/max columns (the spatial join
    uses them as a codegen-side candidate prefilter); ``keep_xy=True``
    retains the per-cell ``cx``/``cy`` grid coordinates (the overlay join's
    responsibility-cell test compares them directly — Morton encoding is
    bijective in (x, y), so coordinate equality IS cell equality without
    re-deriving the interleave).

    ``rings`` names a ring-offsets column (``array<int>`` of ring start
    indices, as in :func:`point_in_polygon_join`): covering cells are then
    the DISTINCT UNION of per-ring bbox coverings instead of the whole
    footprint's bbox — a multipolygon with widely-separated shells covers
    only each shell's own cells rather than flooding the span between
    them.  For single-ring rows (null / ≤1 offsets) and for hole-in-outer
    donuts the set is identical to the bbox covering, so existing
    single-bbox consumers are unaffected.  The bbox columns stay the
    UNION bbox (prefilter semantics unchanged); still pure SQL
    expressions (nested sequence transforms + ``array_distinct``), but
    the per-row cell set materializes as one array — bounded by the
    footprint covering size, fine for image/building footprints.
    """
    df = footprint_bbox(df, fp)
    dropped = ({"cx", "cy"} if not keep_xy else set()) | (
        set(_BBOX) if not keep_bbox else set()
    )
    if rings is not None and rings in df.columns:
        if keep_xy:
            raise ValueError("keep_xy is not supported with per-ring coverings")
        sub = f"slice({fp}, __b.s + 1, __b.e - __b.s)"
        lats = f"transform({sub}, __p -> __p.lat)"
        lngs = f"transform({sub}, __p -> __p.lng)"
        x0, y_top = xy_expr(f"array_max({lats})", f"array_min({lngs})", res)
        x1, y_bot = xy_expr(f"array_min({lats})", f"array_max({lngs})", res)
        ring_cells = (
            f"flatten(transform(sequence({x0}, {x1}), __x -> transform("
            f"sequence({y_top}, {y_bot}), __y -> {cell_from_xy_expr('__x', '__y', res)})))"
        )
        cells = (
            f"explode(array_distinct(flatten(transform("
            f"{ring_bounds_expr(fp, rings)}, __b -> {ring_cells}))))"
        )
    else:
        x0, y_at_latmax = xy_expr("lat_max", "lng_min", res)
        x1, y_at_latmin = xy_expr("lat_min", "lng_max", res)
        # y grows north→south: lat_max → smaller y
        df = df.withColumn("cx", F.expr(f"explode(sequence({x0}, {x1}))")).withColumn(
            "cy", F.expr(f"explode(sequence({y_at_latmax}, {y_at_latmin}))")
        )
        cells = cell_from_xy_expr("cx", "cy", res)
    keep = [_q(c) for c in df.columns if c not in dropped and c != out]
    return df.selectExpr(*keep, f"{cells} AS {_q(out)}")


PER_CELL_STATS_SCHEMA = "cell long, n_rows long, avg_lat double, avg_lng double"


def per_cell_stats_grouped(points_with_cell: DataFrame) -> DataFrame:
    """Per-cell stats via ``groupBy(cell).applyInPandas`` — the grouped-map
    UDF surface (SURVEY §2.9), the Spark analogue of the reference's
    per-pixel ``tbb::parallel_for_each`` (reference main.cpp:926): one
    pandas kernel invocation per cell, each receiving that cell's full rows.

    For THIS reduction the production path is the built-in ``groupBy.agg``
    (codegen'd, map-side partial); the grouped map exists for per-cell
    kernels Spark can't express — custom geometry passes, per-cell model
    fits — and this entry keeps the surface exercised and oracled.  Skew
    note: one fat city-core cell = one big pandas batch; pair with
    operators.skew.adaptive_cell_split at scale.
    """

    def _stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "cell": [pdf["cell"].iloc[0]],
                "n_rows": [len(pdf)],
                "avg_lat": [pdf["lat"].mean()],
                "avg_lng": [pdf["lng"].mean()],
            }
        )

    return points_with_cell.select("cell", "lat", "lng").groupBy("cell").applyInPandas(
        _stats, schema=PER_CELL_STATS_SCHEMA
    )


def tile_assignment(images: DataFrame, res: int, dedupe: bool = False) -> DataFrame:
    """image_id → covering tile cells of its footprint.

    (image_id, cell) pairs are UNIQUE BY CONSTRUCTION — the covering-cell
    explode emits each (x, y) of the bbox grid exactly once per row — so
    the default plan is pure codegen with ZERO shuffle (the former
    ``.distinct()`` added a two-stage HashAggregate exchange for nothing;
    at 10^12 images that shuffle IS the job).  ``dedupe=True`` restores
    the aggregate for callers whose input carries duplicate image rows.
    """
    out = covering_cells(images.select("image_id", "footprint"), res).select(
        "image_id", "cell"
    )
    return out.distinct() if dedupe else out


def polygon_to_cells(
    polygons: DataFrame,
    res: int,
    poly_id: str = "poly_id",
    fp: str = "footprint",
    mode: str = "center",
    rings: str = "ring_offsets",
) -> DataFrame:
    """EXACT polyfill (H3 ``polygonToCells`` analogue): the cells of each
    footprint at resolution ``res``.

    - ``mode="center"`` (H3's semantics): cells whose CENTER lies inside
      the polygon — decided ENTIRELY IN CODEGEN by a per-cell even-odd
      ray cast over the footprint array
      (:func:`functions.geo.point_in_ring_expr`): bbox covering explode →
      cell-center lat/lng (pure arithmetic) → HOF parity filter.  No
      Python, no join, no shuffle — a long diagonal sliver keeps only the
      ~O(perimeter) cells its body actually touches instead of the full
      bbox rectangle.
    - ``mode="overlap"``: the bbox covering (conservative superset,
      :func:`covering_cells` — an image overlaps every bbox cell, the
      tile-assignment semantics).
    - ``mode="exact_overlap"``: the cells whose HALF-OPEN square
      ``[k, k+1)`` (the engine's cell convention, see
      :func:`polyline_to_cells`) intersects the polygon — the union of
      the boundary's supercover (:func:`polyline_to_cells` over the
      closed ring: any cell the boundary passes through intersects) and
      the center-mode interior (a cell with no boundary crossing is
      either fully inside — its center is — or fully outside).  A
      polygon edge lying EXACTLY on a cell-grid line therefore claims
      the higher-indexed side only, not the closed-boundary neighbor
      (round-5 advice: stated convention, not a bug — buffer by an
      epsilon for closed "touches" semantics).  Both legs stay pure
      codegen; ONE distinct merges them (boundary cells re-appear in
      the interior leg only when the center also falls inside).
      Tightest possible tiling for non-rectangular footprints.

    MULTI-RING footprints (a ``rings`` column with start offsets): the
    center test sums crossings across ring slices — the column twin of
    the numpy kernel's ``ring_starts`` — so hole cells are excluded and
    separated shells each fill their own cells; ``exact_overlap``
    rasterizes every ring's boundary.  (``mode="overlap"`` stays the
    single-bbox covering.)  Output (poly_id, cell), unique per row by
    construction.
    """
    has_rings = rings in polygons.columns
    if mode == "overlap":
        return covering_cells(polygons.select(poly_id, fp), res, fp).select(
            poly_id, "cell"
        )
    if mode == "exact_overlap":
        if has_rings:
            # one boundary row PER RING: explode ring slices, rasterize each
            ring_rows = polygons.selectExpr(
                poly_id, fp, f"explode({ring_bounds_expr(fp, rings)}) AS __b"
            )
            sub = f"slice({fp}, __b.s + 1, __b.e - __b.s)"
            boundary = polyline_to_cells(
                ring_rows.selectExpr(
                    poly_id, f"concat({sub}, slice({sub}, 1, 1)) AS geometry"
                ),
                res, line_id=poly_id,
            ).distinct()  # seam cells shared by two rings appear once
        else:
            boundary = polyline_to_cells(
                polygons.selectExpr(
                    poly_id, f"concat({fp}, slice({fp}, 1, 1)) AS geometry"
                ),
                res, line_id=poly_id,
            )
        interior = polygon_to_cells(polygons, res, poly_id, fp, mode="center",
                                    rings=rings)
        return boundary.unionByName(interior).distinct()
    if mode != "center":
        raise ValueError(f"unknown mode {mode!r}")
    from navgraph_osm_spark.functions.geo import point_in_ring_expr

    n = 1 << res
    if has_rings:
        # per-ring coverings would DROP hole-only candidate cells — fine:
        # hole cells are excluded by parity anyway, and separated shells
        # cover only their own cells (tight); the per-ring covering has no
        # cx/cy, so the cell center comes from the cell bounds
        from navgraph_osm_spark.cells import cell_bounds_expr

        cov = covering_cells(polygons.select(poly_id, fp, rings), res, fp,
                             keep_bbox=True, rings=rings)
        lat_min_c, lat_max_c, lng_min_c, lng_max_c = cell_bounds_expr("cell", res)
        center_lat = f"(({lat_min_c}) + ({lat_max_c})) / 2.0D"
        center_lng = f"(({lng_min_c}) + ({lng_max_c})) / 2.0D"
        inside = point_in_ring_expr(center_lat, center_lng, fp, rings)
    else:
        cov = covering_cells(polygons.select(poly_id, fp), res, fp, keep_xy=True)
        center_lat = f"90.0D - (cy + 0.5D) * {dbl(180.0 / n)}"
        center_lng = f"(cx + 0.5D) * {dbl(360.0 / n)} - 180.0D"
        inside = point_in_ring_expr(center_lat, center_lng, fp)
    return cov.filter(inside).select(poly_id, "cell")


def polyline_to_cells(
    lines: DataFrame,
    res: int,
    line_id: str = "way_id",
    geom: str = "geometry",
) -> DataFrame:
    """SUPERCOVER line rasterization (H3 ``gridPathCells`` made exact):
    every cell a polyline passes through at resolution ``res`` — the
    way→tile primitive for road geometry (which tiles does this road
    touch), entirely in whole-stage codegen.

    Column-walk construction, per segment: walk the integer grid columns
    the segment's x-extent spans (``sequence`` explode); within column
    ``c`` the segment occupies x ∈ [max(xs, c), min(xe, c+1)], and since
    y is linear (monotone) in x along a segment, its y-extent there is
    the interval between the y values at those two x — one more
    ``sequence`` over the rows of that interval yields the column's
    cells.  Per-way: ``zip_with`` pairs consecutive vertices into
    segments, nested transforms build each segment's cell array, a
    single ``flatten`` + ``array_distinct`` merges segments (shared
    endpoint cells appear once), then ``explode``.  No Python, no join,
    no shuffle.

    Boundary convention (HALF-OPEN, round-5 advice): cells are the
    half-open squares ``[k, k+1)`` in grid coordinates, so a segment
    running exactly ALONG a cell edge (or touching a corner) lands only
    in the higher-indexed cell — the one whose half-open interval
    contains the coordinate — not in both neighbors.  This matches the
    floor-based point-cell assignment everywhere else in the engine
    (``xy_expr``); a crossing segment still collects every cell interior
    it passes through (supercover of the open trajectory).  Callers who
    need closed-boundary "touches" semantics for grid-aligned geometry
    should buffer by an epsilon or use the bbox covering.  Longitude
    does not wrap: split antimeridian-crossing ways upstream
    (:func:`split_antimeridian` emits seam-sharing parts).
    Output (line_id, cell), unique per row by construction.
    """
    n = 1 << res
    nf = dbl(n)

    def _gx(p):
        return f"(({p}.lng + 180.0D) / 360.0D * {nf})"

    def _gy(p):
        return f"((90.0D - {p}.lat) / 180.0D * {nf})"

    def _clamp(v):
        return f"greatest(CAST(0 AS BIGINT), least(CAST({n - 1} AS BIGINT), CAST({v} AS BIGINT)))"

    # per segment (__p, __q): walk the grid columns __c of its x-extent
    x0, y0, x1, y1 = _gx("__p"), _gy("__p"), _gx("__q"), _gy("__q")
    xs, xe = f"least({x0}, {x1})", f"greatest({x0}, {x1})"
    cs, ce = _clamp(f"floor({xs})"), _clamp(f"floor({xe})")
    xa = f"greatest({xs}, CAST(__c AS DOUBLE))"
    xb = f"least({xe}, CAST(__c AS DOUBLE) + 1.0D)"
    # y at xa / xb — linear in x; vertical segments take the full y-extent
    # (the guard keeps the division unevaluated)
    def _y_at(x: str, vertical: str) -> str:
        return (
            f"CASE WHEN {x1} = {x0} THEN {vertical}({y0}, {y1}) "
            f"ELSE {y0} + ({x} - {x0}) / ({x1} - {x0}) * ({y1} - {y0}) END"
        )

    ya, yb = _y_at(xa, "least"), _y_at(xb, "greatest")
    lo = _clamp(f"floor(least({ya}, {yb}))")
    hi = _clamp(f"floor(greatest({ya}, {yb}))")
    col_cells = f"transform(sequence({lo}, {hi}), __yy -> {cell_from_xy_expr('__c', '__yy', res)})"
    segment_cells = f"flatten(transform(sequence({cs}, {ce}), __c -> {col_cells}))"
    g = geom
    seg_cells = (
        f"zip_with(slice({g}, 1, size({g}) - 1), slice({g}, 2, size({g}) - 1), "
        f"(__p, __q) -> {segment_cells})"
    )
    # single-vertex "lines" degrade to their point cell
    first = f"element_at({g}, 1)"
    point_cell = cell_from_xy_expr(
        _clamp(f"floor({_gx(first)})"), _clamp(f"floor({_gy(first)})"), res
    )
    all_cells = (
        f"CASE WHEN size({g}) >= 2 THEN array_distinct(flatten({seg_cells})) "
        f"ELSE array({point_cell}) END"
    )
    return lines.selectExpr(line_id, f"explode({all_cells}) AS cell")


def _compact_ancestors(
    tiles: DataFrame,
    res: int,
    cell: str = "cell",
    keys: tuple[str, ...] = ("image_id",),
) -> tuple[DataFrame, DataFrame]:
    """(base, anc) stages of :func:`compact_cells` — the deduped input and
    its level-bounded ancestor explode.  Split out so the explode bound is
    testable (its row count is asserted ≤ Σ_groups m·min(res, max(1,
    floor(log4 m))) in tests)."""
    kcols = list(keys)
    base = tiles.select(*kcols, F.col(cell).alias("cell")).distinct()
    if kcols:
        from pyspark.sql import Window

        m = F.count("*").over(Window.partitionBy(*kcols))
        # epsilon guards an exact-power-of-4 count against log2 rounding
        # DOWN (which would silently skip a legitimately full level);
        # rounding UP only adds a level that can never be full (harmless)
        lvl_cap = F.greatest(
            F.lit(1),
            F.least(
                F.lit(res),
                F.floor((F.log2(m) + F.lit(1e-9)) / F.lit(2.0)).cast("int"),
            ),
        )
    else:
        lvl_cap = F.lit(res)
    # window expr materialized in a Project first (a window function cannot
    # sit inside a Generate's child expression)
    base = base.withColumn("__lvl_cap", lvl_cap)
    # (cell, lvl, ancestor) for lvl 1..min(res, log4(group size)) — bit-shift explode
    anc = base.select(
        *kcols,
        "cell",
        F.explode(F.sequence(F.lit(1), F.col("__lvl_cap"))).alias("__lvl"),
    ).withColumn("__anc", F.expr("shiftright(cell, int(__lvl * 2))"))
    return base, anc


def compact_cells(
    tiles: DataFrame,
    res: int,
    cell: str = "cell",
    keys: tuple[str, ...] = ("image_id",),
) -> DataFrame:
    """Minimal mixed-resolution covering (H3 ``compact_cells`` analogue):
    wherever all four siblings of a parent are present (per ``keys``
    group), they collapse into the parent, recursively — a tile pyramid's
    minimal representation.  Input cells are at resolution ``res``
    (a SET per keys group — duplicates are deduped first); output
    columns: keys + ``cell`` + ``cell_res``.

    ONE-SHOT set algebra, no driver loop (the former implementation ran
    ≤ ``res`` sequential collapse rounds with per-round checkpoints):
    recursive sibling collapse is equivalent to mapping every input cell
    to its HIGHEST ancestor whose full descendant block is present — an
    ancestor at ``lvl`` levels up is full iff its distinct-descendant
    count equals 4^lvl, and grandparent fullness implies parent fullness,
    so intermediate levels are automatic.  Plan: explode each cell's
    ancestors (pure bit shifts) → one count aggregation → keep
    full ancestors → max-level join back → distinct.  Three shuffles
    TOTAL at any resolution — the 100 TB shape.

    The ancestor explode is BOUNDED per group: an ancestor ``lvl`` levels
    up needs 4^lvl distinct descendants, so a group holding ``m`` cells
    can never fill an ancestor above ``floor(log4 m)`` — the explode runs
    to ``min(res, max(1, floor(log4 m)))`` levels (per-group count via one
    window over ``keys``), not to ``res``.  At fine resolutions this caps
    the pre-aggregation row blowup at the group's information content
    (log4 of its size) instead of the grid depth — e.g. res 25 with
    1k-cell groups explodes ×5, not ×25 — for one added exchange of the
    (deduped) input.  Result-invariant: levels above the bound can never
    be full, so dropping them removes no collapse.
    """
    kcols = list(keys)
    base, anc = _compact_ancestors(tiles, res, cell, keys)
    full = (
        anc.groupBy(*kcols, "__lvl", "__anc")
        .agg(F.count("*").alias("__n"))
        # count == 4^lvl → the ancestor's full block is present
        .filter(F.col("__n") == F.expr("shiftleft(1L, int(__lvl * 2))"))
        .select(*kcols, "__lvl", "__anc")
    )
    best = (
        anc.join(full, kcols + ["__lvl", "__anc"], "inner")
        .groupBy(*kcols, "cell")
        .agg(F.max("__lvl").alias("__up"))
    )
    out = (
        base.join(best, kcols + ["cell"], "left")
        .select(
            *kcols,
            F.when(
                F.col("__up").isNotNull(),
                F.expr("shiftright(cell, int(__up * 2))"),
            ).otherwise(F.col("cell")).alias("cell"),
            F.coalesce(F.lit(res) - F.col("__up"), F.lit(res)).cast("int").alias(
                "cell_res"
            ),
        )
        .distinct()
    )
    return out


def uncompact_cells(
    compacted: DataFrame,
    to_res: int,
    cell: str = "cell",
    res_col: str = "cell_res",
) -> DataFrame:
    """Inverse of :func:`compact_cells`: every (cell, cell_res) row
    explodes into its 4^(to_res−cell_res) descendants at ``to_res`` —
    pure column expressions (sequence explode + bit shifts)."""
    # shift amounts are COLUMNS (per-row res), so the shifts go through SQL
    # expr (the python shiftleft helper only takes literal bit counts)
    count = F.expr(f"shiftleft(1L, int(({to_res} - {res_col}) * 2))")
    other = [c for c in compacted.columns if c not in (cell, res_col)]
    return (
        compacted.withColumn(
            "__i", F.explode(F.sequence(F.lit(0).cast("long"), (count - 1).cast("long")))
        )
        .select(
            *other,
            (
                F.expr(f"shiftleft({cell}, int(({to_res} - {res_col}) * 2))")
                + F.col("__i")
            ).alias(cell),
        )
    )


def polygon_intersection_join(
    a_polys: DataFrame,
    b_polys: DataFrame,
    res: int,
    a_id: str = "a_id",
    b_id: str = "b_id",
    fp: str = "footprint",
    exact: bool = True,
    rings: str = "ring_offsets",
) -> DataFrame:
    """Polygon ⋈ polygon OVERLAY join: pairs whose footprints intersect —
    the fourth classic spatial join next to containment (PIP), nearest
    (kNN) and range (distance_join).

    Exact refinement runs the Arrow shape-batched numpy kernels.  A
    pure-expression refinement (per-row closed edge lists, ~50 guarded
    terms per candidate) lost its A/B at sf1.0 (5.2s vs 2.9s): the
    pairwise test is quadratic in vertices, unlike the point-in-polygon
    ray cast, so it was removed.

    Plan (candidate work JVM-side):

    1. both sides explode to covering cells; equi join on ``cell``;
    2. codegen bbox-overlap prefilter (closed intervals);
    3. **dedup-free responsibility cell**: a pair's bboxes share many
       cells, so the join would emit it once per shared cell — instead the
       pair is kept only where the join cell equals the cell of the
       intersection-bbox corner ``(max(lat_mins), max(lng_mins))``, which
       lies in both coverings exactly once.  No distinct, no shuffle.
       The test compares GRID COORDINATES, not re-derived Morton ids:
       each side carries its bbox corner's ``(x, y)`` (one FLOOR each,
       computed before the join) and the covering row's ``(cx, cy)``;
       since ``x(·)``/``y(·)`` are monotone, ``x(max(lng_mins)) =
       max(x0s)`` exactly, so ``cx == greatest(x0s) AND cy ==
       least(ymaxs)`` is bit-equivalent to the cell equality — without
       this the full bit-interleave lands inside the SortMergeJoin
       condition and evaluates per joined row (measured 2.7× the whole
       join's cost at 10k×10k dense).
    4. exact refinement (vertex-in-other ∪ proper edge crossing) in an
       Arrow batch: pairs are rebalanced on the pair hash (the cell
       join's skew does not reach Python) and batched BY VERTEX-COUNT
       SHAPE so one vectorized
       :func:`functions.geo.polygons_intersect_pairwise_np` call covers a
       whole shape group instead of a Python dispatch per pair.

    Boundary semantics: shared-boundary-only contact (no interior
    overlap, no crossing) reports False — the even-odd convention of the
    underlying kernels.

    Multi-ring inputs: when either table carries a ``rings`` column
    (``array<int>`` ring start offsets, as in
    :func:`point_in_polygon_join`), those rows refine with ring-summed
    even-odd containment and per-ring edge lists — a B entirely inside
    A's HOLE reports False.  The candidate stage keeps the UNION-bbox
    covering on purpose: the dedup-free responsibility corner must lie in
    both coverings, which per-ring coverings of separated shells cannot
    guarantee.  Single-ring rows keep the shape-batched fast kernel.
    """
    from navgraph_osm_spark.sources.tables import spread_scan

    has_ar = rings in a_polys.columns
    has_br = rings in b_polys.columns
    a_cols = [F.col(a_id), F.col(fp).alias("__a_fp")] + (
        [F.col(rings).alias("__a_rings")] if has_ar else []
    )
    b_cols = [F.col(b_id), F.col(fp).alias("__b_fp")] + (
        [F.col(rings).alias("__b_rings")] if has_br else []
    )
    a_src = spread_scan(a_polys.select(*a_cols))
    b_src = spread_scan(b_polys.select(*b_cols))
    a_rx, a_ry = xy_expr("a_lat_min", "a_lng_min", res)
    ca = covering_cells(
        a_src,
        res, "__a_fp", keep_bbox=True, keep_xy=True,
    ).selectExpr(
        a_id, "__a_fp", "cell", "cx", "cy",
        *(["__a_rings"] if has_ar else []),
        "lat_min AS a_lat_min", "lat_max AS a_lat_max",
        "lng_min AS a_lng_min", "lng_max AS a_lng_max",
    ).withColumns({"__a_rx": F.expr(a_rx), "__a_ry": F.expr(a_ry)})
    b_rx, b_ry = xy_expr("b_lat_min", "b_lng_min", res)
    cb = covering_cells(
        b_src,
        res, "__b_fp", keep_bbox=True,
    ).selectExpr(
        b_id, "__b_fp", "cell",
        *(["__b_rings"] if has_br else []),
        "lat_min AS b_lat_min", "lat_max AS b_lat_max",
        "lng_min AS b_lng_min", "lng_max AS b_lng_max",
    ).withColumns({"__b_rx": F.expr(b_rx), "__b_ry": F.expr(b_ry)})
    # responsibility cell of the pair = cell of (max(lat_mins),
    # max(lng_mins)); x is monotone in lng and y anti-monotone in lat, so
    # its grid coords are (greatest of the x0s, least of the y-at-lat-min
    # coords) — tiny integer comparisons in the join condition instead of
    # the Morton interleave of cell_expr (see docstring step 3)
    cand = (
        ca.join(cb, "cell")
        .filter(
            "a_lat_min <= b_lat_max AND b_lat_min <= a_lat_max"
            " AND a_lng_min <= b_lng_max AND b_lng_min <= a_lng_max"
        )
        .filter("cx = greatest(__a_rx, __b_rx) AND cy = least(__a_ry, __b_ry)")
    )
    if not exact:
        return cand.select(a_id, b_id)
    sel = cand.selectExpr(
        a_id, b_id,
        "transform(__a_fp, __p -> __p.lat) AS __alat",
        "transform(__a_fp, __p -> __p.lng) AS __alng",
        "transform(__b_fp, __p -> __p.lat) AS __blat",
        "transform(__b_fp, __p -> __p.lng) AS __blng",
        *(["__a_rings"] if has_ar else []),
        *(["__b_rings"] if has_br else []),
    )
    # refinement input inherits the cell join's skew (dense cells emit most
    # candidate pairs); the kernel is row-independent, so rebalance on the
    # pair hash before the Python stage — AQE sizes the shuffle output, so a
    # small survivor set doesn't fan out into near-empty Python tasks
    sel = sel.repartition(F.xxhash64(F.col(a_id), F.col(b_id)))
    dtypes = dict(sel.dtypes)
    out_schema = f"{a_id} {dtypes[a_id]}, {b_id} {dtypes[b_id]}"

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from navgraph_osm_spark.functions.geo import (
            polygons_intersect_np,
            polygons_intersect_pairwise_np,
        )

        def _nrings(col, i):
            v = col[i]
            return 1 if v is None or len(v) <= 1 else len(v)

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf[[a_id, b_id]]
                continue
            alat = pdf["__alat"].to_numpy()
            alng = pdf["__alng"].to_numpy()
            blat = pdf["__blat"].to_numpy()
            blng = pdf["__blng"].to_numpy()
            ar = pdf["__a_rings"].to_numpy() if has_ar else None
            br = pdf["__b_rings"].to_numpy() if has_br else None
            keep = np.zeros(n, dtype=bool)
            multi = np.zeros(n, dtype=bool)
            if ar is not None:
                multi |= np.fromiter(
                    (_nrings(ar, i) > 1 for i in range(n)), bool, n
                )
            if br is not None:
                multi |= np.fromiter(
                    (_nrings(br, i) > 1 for i in range(n)), bool, n
                )
            # multi-ring rows: per-pair kernel with ring-aware refinement
            for i in np.flatnonzero(multi):
                keep[i] = polygons_intersect_np(
                    np.asarray(alat[i]), np.asarray(alng[i]),
                    np.asarray(blat[i]), np.asarray(blng[i]),
                    a_rings=ar[i] if ar is not None else None,
                    b_rings=br[i] if br is not None else None,
                )
            # single-ring rows: batch by vertex-count shape — one
            # vectorized kernel call per (|A|, |B|) group
            single = np.flatnonzero(~multi)
            if single.size:
                na = np.fromiter((len(alat[i]) for i in single), np.int64,
                                 single.size)
                nb = np.fromiter((len(blat[i]) for i in single), np.int64,
                                 single.size)
                shape_key = na * (nb.max() + 1) + nb
                order = np.argsort(shape_key, kind="stable")
                skey = shape_key[order]
                starts = np.flatnonzero(
                    np.concatenate(([True], skey[1:] != skey[:-1]))
                )
                bounds = np.append(starts, single.size)
                for s, e in zip(bounds[:-1], bounds[1:]):
                    idx = single[order[s:e]]
                    keep[idx] = polygons_intersect_pairwise_np(
                        np.stack(alat[idx]), np.stack(alng[idx]),
                        np.stack(blat[idx]), np.stack(blng[idx]),
                    )
            yield pdf[keep][[a_id, b_id]]

    return sel.mapInPandas(_kernel, schema=out_schema)


def clip_ring_at_meridian_np(lats: np.ndarray, lngs: np.ndarray):
    """Split a ring STRADDLING ±180° into (west_ring, east_ring) via a
    Sutherland–Hodgman clip at the seam.

    Works in shifted space (negative longitudes +360 → the ring is
    continuous around 180); the west part keeps its coordinates, the east
    part maps back by −360.  Returns ``None`` when the ring does not
    straddle (max−min ≤ 180°).  Either output may be empty (ring entirely
    on one side after normalization).
    """
    lats = np.asarray(lats, dtype=np.float64)
    lngs = np.asarray(lngs, dtype=np.float64)
    if lngs.size == 0 or (lngs.max() - lngs.min()) <= 180.0:
        return None
    sh = np.where(lngs < 0.0, lngs + 360.0, lngs)

    def _clip(keep_west: bool):
        out_lat: list[float] = []
        out_lng: list[float] = []
        n = sh.size
        for i in range(n):
            j = (i + 1) % n
            a_in = (sh[i] <= 180.0) if keep_west else (sh[i] >= 180.0)
            b_in = (sh[j] <= 180.0) if keep_west else (sh[j] >= 180.0)
            if a_in:
                out_lat.append(lats[i])
                out_lng.append(sh[i])
            if a_in != b_in:  # edge crosses the seam: interpolate at 180
                t = (180.0 - sh[i]) / (sh[j] - sh[i])
                out_lat.append(lats[i] + (lats[j] - lats[i]) * t)
                out_lng.append(180.0)
        ol = np.array(out_lng)
        if not keep_west:
            ol = ol - 360.0
        return np.array(out_lat), ol

    return _clip(True), _clip(False)


def split_antimeridian(
    polygons: DataFrame, poly_id: str = "poly_id", fp: str = "footprint",
    rings: str = "ring_offsets",
) -> DataFrame:
    """Preprocess a polygon table so no footprint straddles ±180°.

    Straddling rows (lng span > 180° — the GeoJSON heuristic) are clipped
    at the seam into up to two rows SHARING the polygon id; everything
    else passes through untouched.  The split output composes with
    :func:`point_in_polygon_join` / :func:`tile_assignment` unchanged: a
    point lies in at most one shell so pairs stay unique, and each
    shell's bbox is tight — without the split, a Fiji-straddling
    footprint's bbox spans nearly all longitudes and covering-cell
    expansion degenerates to a full cell row (see SCALE.md).  Dim-table
    transform (Arrow-batched, not a hot path).

    MULTI-RING rows (a ``rings`` column, when present): every ring is
    clipped independently at the seam; each side's surviving ring parts
    (outer part first, then hole parts — a hole lies inside its outer,
    so its west part lies inside the outer's west part) reassemble into
    that side's row with rebuilt ring offsets.  A side with no
    outer-ring part emits nothing.
    """
    has_rings = rings in polygons.columns
    cols = [poly_id, fp] + ([rings] if has_rings else [])
    schema = polygons.select(*cols).schema

    def _split_row(footprint, offsets):
        """→ list of (footprint_list, offsets_list|None) output rows."""
        la = np.array([p["lat"] for p in footprint])
        ln = np.array([p["lng"] for p in footprint])
        starts = (
            [int(s) for s in offsets]
            if offsets is not None and len(offsets) > 1
            else [0]
        )
        bounds = starts + [la.size]
        ring_arrays = [
            (la[a:b], ln[a:b]) for a, b in zip(bounds[:-1], bounds[1:])
        ]
        if all(
            rl.size == 0 or (rn.max() - rn.min()) <= 180.0
            for rl, rn in ring_arrays
        ):
            return [(list(footprint), offsets)]  # nothing straddles
        sides: list[list[tuple[np.ndarray, np.ndarray]]] = [[], []]
        for ri, (rl, rn) in enumerate(ring_arrays):
            parts = clip_ring_at_meridian_np(rl, rn)
            if parts is None:
                # non-straddling ring: attach whole to the side its
                # longitudes lie on (shifted-space test, same convention
                # as the clip)
                side = 0 if (np.where(rn < 0, rn + 360.0, rn) <= 180.0).all() else 1
                sides[side].append((rl, rn))
                continue
            for side, (plat, plng) in enumerate(parts):
                if plat.size >= 3:
                    sides[side].append((plat, plng))
        out = []
        for side_rings in sides:
            if not side_rings:
                continue
            flat = [
                {"lat": float(a), "lng": float(b)}
                for rl, rn in side_rings
                for a, b in zip(rl, rn)
            ]
            offs, acc = [], 0
            for rl, _rn in side_rings:
                offs.append(acc)
                acc += rl.size
            out.append((flat, offs if len(offs) > 1 else None))
        return out

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            fps: list = []
            offs_out: list = []
            offsets_col = pdf[rings] if has_rings else None
            for i, (pid, footprint) in enumerate(zip(pdf[poly_id], pdf[fp])):
                offsets = offsets_col.iloc[i] if offsets_col is not None else None
                if offsets is not None and len(offsets) == 0:
                    offsets = None
                for flat, offs in _split_row(footprint, offsets):
                    ids.append(pid)
                    fps.append(flat)
                    offs_out.append(offs)
            data = {poly_id: ids, fp: pd.Series(fps, dtype="object")}
            if has_rings:
                data[rings] = pd.Series(offs_out, dtype="object")
            yield pd.DataFrame(data)

    return polygons.select(*cols).mapInPandas(_kernel, schema=schema)


def _is_axis_rect_expr(fp: str, lat_min: str = "lat_min", lat_max: str = "lat_max",
                       lng_min: str = "lng_min", lng_max: str = "lng_max") -> str:
    """True iff the footprint is exactly its bounding box (axis-aligned
    rectangle traversed in perimeter order, optionally explicitly closed
    with a 5th vertex == the 1st).  For such footprints the even-odd
    interior equals the half-open bbox, so the exact refinement can be
    decided in codegen — the raster↔vector tiling case (rectangular image
    footprints) then never touches Python.

    Conditions: 4 distinct vertices, every vertex on a bbox corner,
    consecutive vertices (cyclically) differ in exactly one coordinate
    (excludes bowtie orders, whose even-odd interior is not the box),
    non-degenerate bbox.

    Codegen note: vertex access goes through flat ``array<double>``
    projections (``transform(fp, p→p.lat)``) and ``try_element_at`` on
    those, NOT ``try_element_at(fp, i)["lat"]`` struct-field chains — the
    two-level null tracking of GetStructField-over-TryElementAt under
    common-subexpression elimination trips a Janino bug (`Expression
    "isNull_*" is not an rvalue`) and Spark silently falls back to
    interpreted Predicates.  The flat-array form compiles clean even after
    Catalyst's filter pushdown inlines the whole expression into one
    predicate (regression-tested with codegen factoryMode=CODEGEN_ONLY).
    """
    lats = f"transform({fp}, __p -> __p.lat)"
    lngs = f"transform({fp}, __p -> __p.lng)"
    n = f"size({fp})"
    pa = [f"try_element_at({lats}, {i})" for i in (1, 2, 3, 4, 5)]
    po = [f"try_element_at({lngs}, {i})" for i in (1, 2, 3, 4, 5)]
    closed5 = f"{n} = 5 AND {pa[0]} = {pa[4]} AND {po[0]} = {po[4]}"
    size_ok = f"{n} = 4 OR ({closed5})"
    on_corner = " AND ".join(
        f"(({pa[i]} = {lat_min} OR {pa[i]} = {lat_max})"
        f" AND ({po[i]} = {lng_min} OR {po[i]} = {lng_max}))"
        for i in range(4)
    )
    steps_ok = " AND ".join(
        f"CAST({pa[i]} = {pa[(i + 1) % 4]} AS INT)"
        f" + CAST({po[i]} = {po[(i + 1) % 4]} AS INT) = 1"
        for i in range(4)
    )
    distinct_ok = " AND ".join(
        f"({pa[i]} != {pa[j]} OR {po[i]} != {po[j]})"
        for i in range(4) for j in range(i + 1, 4)
    )
    return (
        f"coalesce(({size_ok}) AND ({on_corner}) AND ({steps_ok}) AND ({distinct_ok})"
        f" AND {lat_min} < {lat_max} AND {lng_min} < {lng_max}, false)"
    )


def _closed_edges_expr(fp: str, rings: str | None) -> str:
    """Per-ring CLOSED edge list of a footprint as
    ``array<struct<y1,x1,y2,x2>>`` — each ring closes onto its own first
    vertex, no cross-ring edges (SQL twin of
    :func:`functions.geo._ring_edges_np`).  Evaluated once per POLYGON row
    (before the covering-cell explode), so the per-candidate refinement
    can be plain codegen arithmetic over ``element_at`` accesses."""
    bounds = f"filter({ring_bounds_expr(fp, rings)}, __b -> __b.e > __b.s)"
    nxt = "CASE WHEN __i + 1 = __b.e THEN __b.s ELSE __i + 1 END"
    p = f"element_at({fp}, CAST(__i + 1 AS INT))"
    q = f"element_at({fp}, CAST({nxt} + 1 AS INT))"
    edge = f"struct({p}.lat AS y1, {p}.lng AS x1, {q}.lat AS y2, {q}.lng AS x2)"
    return (
        f"flatten(transform({bounds}, __b -> "
        f"transform(sequence(__b.s, __b.e - 1), __i -> {edge})))"
    )


def _edge_crossing_term(lat: str, lng: str, y1: str, x1: str, y2: str, x2: str) -> str:
    """One edge's contribution to the even-odd crossing count — the numpy
    kernel's EXACT float expression (``points_in_polygon_np``): crossing
    guard first, strict-``<`` intercept second, both lazily (the division
    is unreachable when the guard is false, and the guard implies
    ``y1 != y2``)."""
    crosses = f"(({y1}) > ({lat})) != (({y2}) > ({lat}))"
    xint = f"({x1}) + (({lat}) - ({y1})) / (({y2}) - ({y1})) * (({x2}) - ({x1}))"
    return f"CASE WHEN {crosses} THEN CASE WHEN ({lng}) < {xint} THEN 1 ELSE 0 END ELSE 0 END"


def _unrolled_ray_cast(lat: str, lng: str, edges: str, max_unrolled: int = 16) -> str:
    """Even-odd ray cast over a precomputed closed edge list, UNROLLED so
    the per-candidate work is whole-stage-codegen arithmetic (higher-order
    functions are CodegenFallback — interpreted per row — which measured
    ~5× slower than the numpy kernel path on dense candidate sets; the
    unrolled form beats both).  Edges beyond ``max_unrolled`` fall through
    to one lazily-evaluated ``aggregate`` tail, so any vertex count stays
    correct while typical footprints never leave codegen."""

    def term(ed: str) -> str:
        return _edge_crossing_term(lat, lng, f"{ed}.y1", f"{ed}.x1", f"{ed}.y2", f"{ed}.x2")

    sz = f"size({edges})"
    unrolled = " + ".join(
        f"CASE WHEN {k} < {sz} THEN {term(f'element_at({edges}, {k + 1})')} ELSE 0 END"
        for k in range(max_unrolled)
    )
    tail = (
        f"aggregate(slice({edges}, {max_unrolled + 1}, greatest({sz} - {max_unrolled}, 0)),"
        f" 0, (__acc, __ed) -> __acc + {term('__ed')})"
    )
    total = f"0 + {unrolled} + CASE WHEN {sz} > {max_unrolled} THEN {tail} ELSE 0 END"
    return f"pmod({total}, 2) = 1"


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int,
    point_id: str = "point_id",
    poly_id: str = "poly_id",
    lat: str = "lat",
    lng: str = "lng",
    fp: str = "footprint",
    exact: bool = True,
    rings: str = "ring_offsets",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Points ⋈ polygons containment join.

    ``carry`` lists extra POINT-side columns passed through to the output
    (e.g. an event timestamp for the streaming geofence aggregation) —
    they ride along the candidate join and refinement without affecting
    the join logic.

    Multi-ring polygons (holes / OSM multipolygon shells): when the
    polygon table carries a ``rings`` column (``array<int>`` of ring start
    offsets into the flat footprint, e.g. ``[0, 4]`` for a donut; null or
    single-entry = plain polygon), the refinement sums ray crossings across
    rings — even-odd parity excludes hole interiors.  Multi-ring rows are
    never rect-fast-pathed; single-ring rows are unaffected.

    Plan (the whole join JVM-side, zero Python stages):

    1. candidates: equi join on cell (point cell vs polygon covering cells);
    2. **bbox prefilter in codegen** — half-open bounds chosen to match the
       ray-cast kernel's boundary convention exactly (a point at
       lat_max/lng_max can never be inside; at lat_min/lng_min it can);
    3. **rectangle fast path** — footprints that are exactly their bbox
       (detected per row, see :func:`_is_axis_rect_expr`) are decided by the
       prefilter alone;
    4. non-rectangular bbox survivors refine through the unrolled even-odd
       ray cast over each polygon's precomputed closed edge list
       (:func:`_unrolled_ray_cast`, the float-exact twin of
       :func:`functions.geo.points_in_polygon_np`, which stays the test
       oracle) — no rebalance shuffle and no branch split, so the
       candidate join is planned exactly once.

    Output pairs are unique by construction (a point lies in exactly one
    cell at ``res`` and each polygon covers a cell at most once), so there is
    no distinct — no extra shuffle of the result.
    """
    from navgraph_osm_spark.sources.tables import spread_scan

    has_rings = rings in polygons.columns
    single_ring = f"({rings} IS NULL OR size({rings}) <= 1)" if has_rings else "true"
    # a multi-ring footprint is never a plain rectangle
    rect = f"({_is_axis_rect_expr(fp)}) AND {single_ring}"
    poly_cols = [poly_id, fp] + ([rings] if has_rings else [])
    # candidate generation + refinement run inside the point side's scan
    # tasks when the polygon side broadcasts — spread an unsplittable
    # single-file point input (no-op on parallel scans)
    pts = assign_cells(
        spread_scan(points.select(point_id, lat, lng, *carry)), res, lat, lng
    )
    # the covering explode + (as the probe side of a broadcast join) the
    # whole candidate/refinement pipeline run inside the polygon side's
    # scan tasks — spread that too (no-op on already-parallel scans)
    poly_src = spread_scan(polygons.select(*poly_cols))
    if exact:
        # closed edge list once per polygon ROW (pre-explode); the raw
        # footprint is then prunable from the covering explode + join
        poly_src = poly_src.withColumn(
            "__edges", F.expr(_closed_edges_expr(fp, rings if has_rings else None))
        )
    # per-ring coverings when a rings column exists: separated multipolygon
    # shells cover only their own cells (hole-in-outer rows are unchanged —
    # the hole's cells are a subset of the outer covering)
    polys = covering_cells(
        poly_src, res, fp, keep_bbox=True,
        rings=rings if has_rings else None,
    )
    # rect detection evaluated on the (small) polygon-cell side, not per
    # candidate pair
    polys = polys.withColumn("__rect", F.expr(rect))

    cand = pts.join(polys, "cell").filter(
        f"{lat} >= lat_min AND {lat} < lat_max AND {lng} >= lng_min AND {lng} < lng_max"
    )
    if exact:
        cand = cand.filter(
            f"CASE WHEN __rect THEN true ELSE {_unrolled_ray_cast(lat, lng, '__edges')} END"
        )
    return cand.select(point_id, poly_id, *carry)
