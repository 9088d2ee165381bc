"""kNN join via cell ring expansion with distance-bounded pruning.

Graft operator (BASELINE.json north_star): for each query point, candidates
come from the grid-disk of cells within Chebyshev radius ``ring`` around the
query's cell — the Spark analogue of H3 ``grid_disk`` — then an exact
haversine top-k per query.  This reuses the co-partitioned-join pattern of
the turn expansion (SURVEY.md §2.3 J4): the candidate stage is a plain equi
join on ``cell``, fully codegen'd.

Completeness contract: results are exact iff the true k-th neighbor lies
within the disk. ``min_ring_for_radius`` sizes the ring from a distance
bound; ``knn_join_bruteforce`` is the exact (and oracle-checkable) baseline.
At scale, run ring-kNN first, detect starved queries (fewer than k results),
and re-run only those with a larger ring or the brute-force fallback.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from navgraph_osm_spark.cells import cell_from_xy_expr, dbl, grid_disk_expr, xy_expr
from navgraph_osm_spark.functions.geo import EARTH_RADIUS_KM, haversine_expr


def min_ring_for_radius(radius_km: float, res: int, lat_deg: float = 0.0) -> int:
    """Smallest Chebyshev ring guaranteeing coverage of ``radius_km``."""
    cell_h_km = 180.0 / (1 << res) * (math.pi / 180.0) * EARTH_RADIUS_KM
    cell_w_km = cell_h_km * 2.0 * max(math.cos(math.radians(lat_deg)), 1e-6)
    return max(1, math.ceil(radius_km / min(cell_h_km, cell_w_km)))


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    res: int,
    ring: int = 1,
    point_id: str = "point_id",
    query_id: str = "query_id",
    keep_query_latlng: bool = False,
) -> DataFrame:
    """Ring-expansion kNN: (query_id, point_id, dist_km, rank ≤ k).

    Both inputs need (id, lat, lng).  The disk explode is pure column
    arithmetic; the join is an equi join on cell; top-k is a bounded window.
    ``keep_query_latlng=True`` appends the query's own coordinates as
    ``q_lat``/``q_lng`` (the adaptive driver derives its per-query coverage
    bound from them without re-touching the query frame).
    """
    from navgraph_osm_spark.sources.tables import spread_scan

    px, py = xy_expr("lat", "lng", res)
    # the equi join probes the points side inside its scan tasks (the disk
    # side broadcasts) — spread an unsplittable single-file point input
    pts = spread_scan(points).selectExpr(
        point_id, "lat AS p_lat", "lng AS p_lng",
        f"{cell_from_xy_expr(px, py, res)} AS cell",
    )
    qrs = queries.selectExpr(
        query_id, "lat AS q_lat", "lng AS q_lng",
        f"explode({grid_disk_expr(px, py, res, ring)}) AS nb",
    ).selectExpr(query_id, "q_lat", "q_lng", f"{cell_from_xy_expr('nb.x', 'nb.y', res)} AS cell")
    cand = qrs.join(pts, "cell").withColumn(
        "dist_km", F.expr(haversine_expr("q_lat", "q_lng", "p_lat", "p_lng"))
    )
    # candidate pairs are unique by construction — a point lies in exactly
    # one cell and grid_disk_expr yields each cell at most once per query
    # (array_distinct handles longitude wrap) — so no dedup shuffle before
    # the window
    w = Window.partitionBy(query_id).orderBy(F.col("dist_km").asc(), F.col(point_id).asc())
    extra = ["q_lat", "q_lng"] if keep_query_latlng else []
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "dist_km", "rank", *extra)
    )


def knn_join_adaptive(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    res: int,
    ring: int = 1,
    max_rounds: int = 3,
    growth: int = 3,
    point_id: str = "point_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact kNN via ring expansion with starved-query escalation.

    Round 1 runs :func:`knn_join` at ``ring``; queries that got fewer than
    ``k`` results OR whose k-th distance exceeds the ring's guaranteed
    coverage radius re-run at ``ring * growth``; after ``max_rounds`` the
    stragglers fall back to brute force.  The driver loop iterates over
    *rounds* (≤ max_rounds), never rows — each round is a plain join.

    Guarantee: a result set is provably complete when the k-th neighbor
    distance is ≤ the minimum distance to any cell outside the disk; we use
    the conservative bound ring * min(lat extent, lng extent), with the lng
    extent's cos term evaluated at the most POLEWARD latitude reachable in
    the disk (uncovered cells extend up to ring+1 cells poleward, where
    cells narrow) — escalation may over-trigger but never misses.

    Round 1 runs LAZILY on the raw query frame — no checkpoint or count
    job fires before the first join (a single-round workload pays exactly
    one join + one remaining-count).  Each round's top-k result (bounded:
    ≤ |queries|·k rows) is eagerly localCheckpoint'ed so the coverage agg,
    the semi/anti joins and the final union all read the materialized
    rows instead of re-running the candidate join per consumer; later
    rounds' remaining sets are checkpointed (and the prior round's
    checkpoint unpersisted) so lineage stays flat.
    """
    remaining = queries.select(query_id, "lat", "lng")
    n_remaining: int | None = None
    done_parts: list[DataFrame] = []
    prev_ckpt: DataFrame | None = None
    cur_ring = ring
    lat_extent_deg = 180.0 / (1 << res)
    lat_extent_km = lat_extent_deg * (math.pi / 180.0) * EARTH_RADIUS_KM
    for _ in range(max_rounds):
        if n_remaining == 0:
            break
        # a query whose poleward latitude reaches 90° at this ring has
        # safe_radius = 0 (the cos width term vanishes) and can NEVER
        # certify here — and poleward only grows with the ring, so it cannot
        # certify at any later ring either.  Skip its disk explode + join
        # entirely: it stays in ``remaining`` (complete never matches it)
        # and lands in the exact brute-force fallback, which is where it
        # was headed anyway.  Results are identical — both paths are exact.
        certifiable = (
            F.abs(F.col("lat")) + F.lit((cur_ring + 1.0) * lat_extent_deg)
        ) < F.lit(90.0)
        got = knn_join(
            points, remaining.filter(certifiable), k, res, cur_ring,
            point_id, query_id, keep_query_latlng=True,
        ).localCheckpoint(eager=True)
        # conservative guaranteed-coverage radius per query: ring rows of
        # cells are always within ring * lat_extent; the longitude extent
        # shrinks with cos(lat) and an uncovered cell can sit up to
        # (ring+1) cells POLEWARD of the query, so evaluate the cos term at
        # the most poleward latitude reachable in the disk (clamped at the
        # pole → 0, never marking high-latitude queries complete via the
        # width term).
        poleward_lat = F.least(
            F.lit(90.0),
            F.abs(F.col("q_lat")) + F.lit((cur_ring + 1.0) * lat_extent_deg),
        )
        # q_lat rides the materialized round result, so coverage depends
        # only on got's checkpoint — never on an unpersisted remaining set
        cov = got.groupBy(query_id).agg(
            F.count("*").alias("n_got"),
            F.max("dist_km").alias("kth_dist"),
            F.first(
                F.lit(float(cur_ring) * 0.99)  # small-angle safety margin
                * F.lit(lat_extent_km)
                * F.least(
                    F.lit(1.0),
                    F.greatest(F.cos(F.radians(poleward_lat)), F.lit(0.0)) * 2.0,
                )
            ).alias("safe_radius"),
        )
        complete = cov.filter(
            (F.col("n_got") >= k) & (F.col("kth_dist") <= F.col("safe_radius"))
        ).select(query_id)
        # the semi join reads the materialized got plus complete's tiny agg
        # over it — no further checkpoint needed, and no reference to any
        # remaining checkpoint that a later round unpersists
        done_parts.append(
            got.join(complete, query_id, "left_semi").select(
                query_id, point_id, "dist_km", "rank"
            )
        )
        # one eager checkpoint per round: truncates the growing anti-join
        # lineage AND replaces the per-round isEmpty job (count on the
        # checkpointed frame is the materializing action)
        new_remaining = remaining.join(complete, query_id, "left_anti").localCheckpoint(
            eager=True
        )
        n_remaining = new_remaining.count()
        if prev_ckpt is not None:
            prev_ckpt.unpersist()
        prev_ckpt, remaining = remaining, new_remaining
        cur_ring *= growth
    if n_remaining is None or n_remaining > 0:
        done_parts.append(knn_join_bruteforce(points, remaining, k, point_id, query_id))
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out


def knn_join_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_id: str = "point_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact kNN by cross join — the oracle baseline (small query sets only)."""
    from navgraph_osm_spark.sources.tables import spread_scan

    pts = spread_scan(points).select(
        F.col(point_id), F.col("lat").alias("p_lat"), F.col("lng").alias("p_lng")
    )
    qrs = queries.select(
        F.col(query_id), F.col("lat").alias("q_lat"), F.col("lng").alias("q_lng")
    )
    cand = qrs.crossJoin(pts).withColumn(
        "dist_km", F.expr(haversine_expr("q_lat", "q_lng", "p_lat", "p_lng"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dist_km").asc(), F.col(point_id).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "dist_km", "rank")
    )


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    res: int,
    left_id: str = "left_id",
    right_id: str = "right_id",
    max_abs_lat: float | None = None,
    adaptive_ring: bool | None = None,
) -> DataFrame:
    """Within-distance (range) join: every (left, right) pair with
    haversine distance ≤ ``radius_km`` — the third classic spatial join
    next to kNN (nearest) and point-in-polygon (containment).

    Plan shape (all JVM-side): the left side gets ONE cell per row, the
    right side explodes over its Chebyshev ``grid_disk`` of ring size
    guaranteed to cover ``radius_km``; candidates come from a plain equi
    join on ``cell``; the haversine filter is codegen.  Pairs are unique
    by construction (a left row is in exactly one cell; a right row's disk
    contains each cell at most once) — no dedup shuffle.

    Ring sizing (``adaptive_ring=None`` resolves to adaptive unless an
    explicit ``max_abs_lat`` opts into the uniform ring): PER ROW,
    ASYMMETRIC, and MINIMAL-PROVABLE —

    - latitude rows: great-circle distance ≥ meridian distance, so a
      qualifying pair's |Δlat| ≤ r; with the row's offset inside its cell
      the row-index difference is ≤ ``floor(r / cell_h) + 1`` — exactly
      one straddle row beyond the radius, never two;
    - longitude columns: from the haversine identity,
      ``sin²(Δλ/2)·cosφ_L·cosφ_R ≤ sin²(r_rad/2)``, and both latitudes lie
      within ``r`` of the row, so ``|Δλ| ≤ 2·asin(min(1,
      sin(r_rad/2)/cos(φ_pole)))`` with ``φ_pole = min(90, |lat|+r_deg)``;
      columns then need ``floor(Δλ_max / cell_w) + 1``.

    Equatorial rows explode a minimal rectangle; poleward rows widen only
    in longitude (a (2kx+1)×(2ky+1) rectangle, not the square of the worse
    axis).  The plan stays fully lazy (no sizing job) and the explode
    volume follows the data's latitude distribution instead of its worst
    row — the 100 TB shape (a global dataset's worst row is ~90°, which
    would force the full-wrap disk on every row).

    ``adaptive_ring=False`` (or passing an explicit ``max_abs_lat``, which
    the adaptive path does not read) restores the uniform ring:
    :func:`min_ring_for_radius` at ``max_abs_lat`` (computed with one
    tiny agg job when None), +1 for the cell-boundary straddle.  Either
    way rings cap at 2^res (full longitude wrap — polar data at coarse
    radius degenerates to a full scan, inherent to any lat/lng grid
    method; use a finer ``res`` or an equal-area index there).

    Scale note: the explode factor applies to the RIGHT side only —
    put the smaller relation on the right.  Skewed dense cells are handled
    by AQE skew-join; at extreme skew pre-split with
    operators.skew.adaptive_cell_split.
    """
    lat_extent_deg = 180.0 / (1 << res)
    lat_extent_km = lat_extent_deg * (math.pi / 180.0) * EARTH_RADIUS_KM
    if adaptive_ring is None:
        # an explicitly tuned max_abs_lat opts into the uniform ring (the
        # adaptive path never reads it — silent-ignore would be a trap)
        adaptive_ring = max_abs_lat is None
    if adaptive_ring:
        r_deg = radius_km / ((math.pi / 180.0) * EARTH_RADIUS_KM)
        r_rad = radius_km / EARTH_RADIUS_KM
        lng_extent_deg = 360.0 / (1 << res)
        poleward = f"least(90.0D, abs(lat) + {dbl(r_deg)})"
        # |Δλ| bound between the two POINTS of a qualifying pair (see
        # docstring); asin argument clamped at 1 → 180° → full wrap
        dlmb_deg = (
            f"degrees(2.0D * asin(least(1.0D, {dbl(math.sin(r_rad / 2.0))}"
            f" / greatest(cos(radians({poleward})), 1e-300D))))"
        )
        # asymmetric disk: lng columns widen poleward, lat rows never do
        ring: int | str = (
            f"least(CAST(floor({dlmb_deg} / {dbl(lng_extent_deg)}) AS BIGINT) + 1,"
            f" CAST({1 << res} AS BIGINT))"
        )
        ring_y: int | None = min(int(radius_km // lat_extent_km) + 1, 1 << res)
    else:
        if max_abs_lat is None:
            row = (
                left.select(F.abs(F.col("lat")).alias("a"))
                .unionAll(right.select(F.abs(F.col("lat")).alias("a")))
                .agg(F.max("a"))
                .first()
            )
            max_abs_lat = float(row[0] or 0.0)
        ring = min(min_ring_for_radius(radius_km, res, max_abs_lat) + 1, 1 << res)
        ring_y = None
    x, y = xy_expr("lat", "lng", res)
    lhs = left.selectExpr(
        left_id, "lat AS l_lat", "lng AS l_lng", f"{cell_from_xy_expr(x, y, res)} AS cell"
    )
    # the disk explode + per-candidate haversine all run inside the right
    # side's scan tasks; an unsplittable single-file dim input would pin
    # the whole join to one core (no-op when the scan is already parallel)
    from navgraph_osm_spark.sources.tables import spread_scan

    rhs = spread_scan(right).selectExpr(
        right_id, "lat AS r_lat", "lng AS r_lng",
        f"explode({grid_disk_expr(x, y, res, ring, ring_y)}) AS nb",
    ).selectExpr(right_id, "r_lat", "r_lng", f"{cell_from_xy_expr('nb.x', 'nb.y', res)} AS cell")
    return (
        lhs.join(rhs, "cell")
        .selectExpr(left_id, right_id,
                    f"{haversine_expr('l_lat', 'l_lng', 'r_lat', 'r_lng')} AS dist_km")
        .filter(f"dist_km <= {dbl(radius_km)}")
    )
