"""Streaming spatial operators: stream-static geofencing.

The production shape for a moving-object feed (vehicle pings, AIS
positions, photo uploads) against a static zone table: the polygon side is
a dim table whose covering cells + closed edge lists are planned ONCE;
the point stream gets its cell in codegen; candidates come from a
stream-static equi join on ``cell`` (stateless — no stream state, no
watermark needed for the join itself); refinement reuses the batch PIP
kernel unchanged.  Late data only matters at the windowed AGGREGATION,
where a watermark bounds state.

Everything here composes the batch operators — the join is literally
:func:`operators.spatial_join.point_in_polygon_join` applied to a
streaming DataFrame (its candidate and refinement work is stateless
projections/joins/filters, legal in Structured Streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from navgraph_osm_spark.operators.spatial_join import point_in_polygon_join


def streaming_geofence_join(
    points_stream: DataFrame,
    polygons: DataFrame,
    res: int,
    point_id: str = "point_id",
    poly_id: str = "poly_id",
    ts: str = "ts",
) -> DataFrame:
    """Streaming points ⋈ static polygons: one output row per (point,
    containing polygon) with the event time carried through.

    The rectangle fast path and the non-rect ray cast both stay in
    codegen on the stream (the static side carries each zone's edge list;
    zones are thousands, not billions).  Output is append-safe:
    stateless, no aggregation state.
    """
    return point_in_polygon_join(
        points_stream,
        polygons,
        res,
        point_id=point_id,
        poly_id=poly_id,
        carry=(ts,),
    )


def streaming_proximity_join(
    points_stream: DataFrame,
    places: DataFrame,
    radius_km: float,
    res: int,
    left_id: str = "left_id",
    right_id: str = "right_id",
) -> DataFrame:
    """Stream-static PROXIMITY alerts: one row per (streamed point,
    static place) within ``radius_km`` — ``operators.knn.distance_join``
    applied with the stream on the LEFT (one cell per streamed row, pure
    codegen) and the static place table on the exploded right (its
    per-row adaptive grid disks are planned once).  Stateless, append-
    safe; the kNN variant is NOT stream-safe (its top-k window needs
    cross-row state) — use this radius form for alerting."""
    from navgraph_osm_spark.operators.knn import distance_join

    return distance_join(
        points_stream, places, radius_km, res,
        left_id=left_id, right_id=right_id,
    )


KNN_TRACKER_SCHEMA = (
    "query_id long, point_id long, dist_km double, rank int, version long"
)
_KNN_STATE_SCHEMA = "pids array<long>, dists array<double>, version long"


def streaming_knn_tracker(
    points_stream: DataFrame,
    queries: DataFrame,
    k: int,
    res: int,
    ring: int,
    point_id: str = "point_id",
    query_id: str = "query_id",
) -> DataFrame:
    """RUNNING k-nearest-neighbors per static query over a point STREAM —
    the stream-safe kNN (the batch operator's top-k window needs
    cross-row state, which streaming disallows; here the state is an
    explicit bounded top-k per query).

    Plan: static queries explode their grid disk ONCE (planned, tiny);
    streamed points get one cell in codegen; a stream-static equi join on
    ``cell`` + codegen haversine yields the candidate stream; then
    ``applyInPandasWithState`` keyed by ``query_id`` folds candidates
    into a size-k (dist, point_id) heap-kept list.  Each micro-batch
    emits the query's CURRENT top-k tagged with a monotonically
    increasing ``version`` — consumers keep the max-version snapshot.
    State is O(k) per query — bounded forever.

    Completeness matches the batch semantics for points within the
    ring's coverage: candidates outside the disk never enter the state
    (same contract as :func:`operators.knn.knn_join` at fixed ring).
    The stream is assumed exactly-once per point (dedup upstream for
    at-least-once sources — a replayed point would re-insert).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from navgraph_osm_spark.cells import cell_from_xy_expr, grid_disk_expr, xy_expr
    from navgraph_osm_spark.functions.geo import haversine_expr

    x, y = xy_expr("lat", "lng", res)
    qdisk = queries.selectExpr(
        query_id, "lat AS q_lat", "lng AS q_lng",
        f"explode({grid_disk_expr(x, y, res, ring)}) AS nb",
    ).selectExpr(query_id, "q_lat", "q_lng", f"{cell_from_xy_expr('nb.x', 'nb.y', res)} AS cell")
    pts = points_stream.selectExpr(
        point_id, "lat AS p_lat", "lng AS p_lng", f"{cell_from_xy_expr(x, y, res)} AS cell"
    )
    cand = pts.join(qdisk, "cell").selectExpr(
        query_id, point_id,
        f"{haversine_expr('q_lat', 'q_lng', 'p_lat', 'p_lng')} AS dist_km",
    )

    def _update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        # numpy merge (round-5 verdict #7): state + batch fold as array
        # ops — no per-row python list rebuild, O(batch log batch) with
        # the same deterministic (distance, point id) order as the former
        # tuple sort
        if state.exists:
            pids = np.asarray(state.get[0], dtype=np.int64)
            dists = np.asarray(state.get[1], dtype=np.float64)
            version = state.get[2]
        else:
            pids = np.empty(0, dtype=np.int64)
            dists = np.empty(0, dtype=np.float64)
            version = 0
        parts_p, parts_d = [pids], [dists]
        for pdf in pdfs:
            parts_d.append(pdf["dist_km"].to_numpy(dtype=np.float64))
            # no float hop for ids (exact above 2^53)
            parts_p.append(pdf[point_id].to_numpy(dtype=np.int64))
        d = np.concatenate(parts_d)
        p = np.concatenate(parts_p)
        order = np.lexsort((p, d))[:k]
        d, p = d[order], p[order]
        version += 1
        state.update((p.tolist(), d.tolist(), version))
        return iter([pd.DataFrame({
            "query_id": np.full(p.size, key[0], dtype=np.int64),
            "point_id": p,
            "dist_km": d,
            "rank": np.arange(1, p.size + 1, dtype=np.int32),
            "version": np.full(p.size, version, dtype=np.int64),
        })])

    return cand.groupBy(query_id).applyInPandasWithState(
        _update,
        outputStructType=KNN_TRACKER_SCHEMA,
        stateStructType=_KNN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TRANSITIONS_SCHEMA = "point_id long, ts timestamp, zone long, event string"
# state: the zone set after the last processed ping + that ping's epoch µs
_TRANS_STATE_SCHEMA = "zones array<long>, last_us long"


def geofence_transitions(
    points_stream: DataFrame,
    polygons: DataFrame,
    res: int,
    point_id: str = "point_id",
    poly_id: str = "poly_id",
    ts: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ENTER/EXIT edge detection per (moving point, zone) — the stateful
    half of geofencing: a row when a point's ping set of containing zones
    gains (``enter``) or loses (``exit``) a zone relative to its previous
    ping.

    Composition: the stream-static geofence join's (ping, zone) rows are
    UNIONED with a null-zone row per raw ping (a ping inside no zone must
    still reach the state operator, otherwise leaving the last zone would
    never emit its ``exit``; a stream-stream left self-join is not
    allowed, the union is the stateless equivalent), then
    ``applyInPandasWithState`` keyed by ``point_id`` holding the previous
    ping's zone set — per ping the set is its group's non-null zones.  Pings are processed in event-
    time order WITHIN each micro-batch; a ping older than the state's
    last processed ping (late cross-batch arrival) is ignored — the
    watermark bounds how long that ambiguity lives.  The first ping of a
    point emits ``enter`` rows for every zone it is already in.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    matched = point_in_polygon_join(
        points_stream, polygons, res,
        point_id=point_id, poly_id=poly_id, carry=(ts,),
    ).select(point_id, poly_id, ts)
    null_pings = points_stream.select(
        F.col(point_id),
        F.lit(None).cast("long").alias(poly_id),
        F.col(ts),
    )
    pings = matched.unionByName(null_pings).withWatermark(ts, watermark)

    def _update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        if state.hasTimedOut:  # pragma: no cover - production knob
            state.remove()
            yield pd.DataFrame(
                {"point_id": [], "ts": [], "zone": [], "event": []}
            )
            return
        zones, last_us = (
            (set(state.get[0]), state.get[1]) if state.exists else (set(), -1)
        )
        out_pid, out_ts, out_zone, out_ev = [], [], [], []
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows):
            # one row per (ping, zone) — group to per-ping zone sets,
            # ordered by event time
            rows["_us"] = rows[ts].astype("int64")
            for us, grp in sorted(rows.groupby("_us"), key=lambda kv: kv[0]):
                if us <= last_us:
                    continue  # late or duplicate ping — state already past it
                # no float64 round-trip (round-5 advice): int()/Int64
                # pandas values convert exactly, float64 would corrupt
                # zone ids above 2^53
                now = {int(z) for z in grp[poly_id].dropna()}
                t = grp[ts].iloc[0]
                for z in sorted(now - zones):
                    out_pid.append(key[0]); out_ts.append(t)
                    out_zone.append(z); out_ev.append("enter")
                for z in sorted(zones - now):
                    out_pid.append(key[0]); out_ts.append(t)
                    out_zone.append(z); out_ev.append("exit")
                zones, last_us = now, us
        state.update((sorted(zones), last_us))
        yield pd.DataFrame(
            {"point_id": out_pid, "ts": out_ts, "zone": out_zone, "event": out_ev}
        )

    return pings.groupBy(point_id).applyInPandasWithState(
        _update,
        outputStructType=TRANSITIONS_SCHEMA,
        stateStructType=_TRANS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def geofence_window_counts(
    matched: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    poly_id: str = "poly_id",
    ts: str = "ts",
) -> DataFrame:
    """Tumbling-window occupancy per zone over the geofence join output —
    late pings beyond ``watermark`` are dropped, state stays bounded by
    (zones × open windows)."""
    return (
        matched.withWatermark(ts, watermark)
        .groupBy(F.window(ts, window).alias("w"), poly_id)
        .agg(F.count("*").alias("n_points"))
        .select(F.col("w.start").alias("window_start"), poly_id, "n_points")
    )
