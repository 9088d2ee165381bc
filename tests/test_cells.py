"""Cell index: numpy ↔ Spark-expression parity, hierarchy algebra, disks."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from navgraph_osm_spark import cells


def test_roundtrip_and_hierarchy():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-89.99, 89.99, 2000)
    lng = rng.uniform(-180.0, 179.99, 2000)
    for res in (0, 3, 10, 17, 25):
        c = cells.latlng_to_cell(lat, lng, res)
        assert (cells.cell_res(c) == res).all()
        x, y, r = cells.cell_to_xy(c)
        ex, ey = cells.latlng_to_xy(lat, lng, res)
        assert (x == ex).all() and (y == ey).all() and (r == res).all()
        lo, hi, lgo, lgh = cells.cell_bounds(c)
        assert ((lat >= lo) & (lat <= hi) & (lng >= lgo) & (lng <= lgh)).all()
    c12 = cells.latlng_to_cell(lat, lng, 12)
    assert (cells.cell_parent(c12, 3) == cells.latlng_to_cell(lat, lng, 9)).all()
    assert cells.is_ancestor(cells.latlng_to_cell(lat, lng, 9), c12).all()
    assert not cells.is_ancestor(c12[:1], cells.latlng_to_cell(lat, lng, 9)[:1]).any()


def test_children_partition_parent():
    c = int(cells.latlng_to_cell(np.array([48.85]), np.array([2.35]), 8)[0])
    kids = cells.cell_children(c)
    assert len(set(kids)) == 4
    assert all(int(cells.cell_parent(np.array([k]))[0]) == c for k in kids)


def test_grid_disk_interior_edge_pole():
    c = int(cells.latlng_to_cell(np.array([10.0]), np.array([20.0]), 10)[0])
    assert len(cells.grid_disk_np(c, 1)) == 9
    assert len(cells.grid_disk_np(c, 2)) == 25
    # antimeridian wrap: x neighbors exist on the other side
    cw = int(cells.latlng_to_cell(np.array([0.0]), np.array([-179.999]), 10)[0])
    assert len(cells.grid_disk_np(cw, 1)) == 9
    # pole clamp: top row truncated
    cp = int(cells.latlng_to_cell(np.array([89.999]), np.array([0.0]), 10)[0])
    assert len(cells.grid_disk_np(cp, 1)) == 6


def test_spark_expr_matches_numpy(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {"lat": rng.uniform(-89.9, 89.9, 500), "lng": rng.uniform(-180, 179.9, 500)}
    )
    df = spark.createDataFrame(pdf)
    for res in (2, 9, 16, 25):
        got = (
            df.select(F.expr(cells.cell_expr("lat", "lng", res)).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        want = cells.latlng_to_cell(pdf["lat"].to_numpy(), pdf["lng"].to_numpy(), res)
        assert (got == want).all()
    # xy variant parity with its own SQL text
    got_xy = (
        df.select(F.expr(cells.cell_xy_expr("lat", "lng", 12)).alias("c"))
        .toPandas()["c"]
        .to_numpy()
    )
    df.createOrReplaceTempView("pts")
    got_sql = (
        spark.sql(f"SELECT {cells.cell_xy_sql('lat', 'lng', 12)} AS c FROM pts")
        .toPandas()["c"]
        .to_numpy()
    )
    assert (got_xy == got_sql).all()


def test_grid_disk_expr_matches_numpy(spark):
    pdf = pd.DataFrame({"lat": [10.0, 89.999, 0.0], "lng": [20.0, 0.0, -179.999]})
    df = spark.createDataFrame(pdf)
    res, k = 10, 1
    x, y = cells.xy_expr("lat", "lng", res)
    out = (
        df.withColumn("nb", F.explode(F.expr(cells.grid_disk_expr(x, y, res, k))))
        .select(
            "lat",
            "lng",
            F.expr(cells.cell_from_xy_expr("nb.x", "nb.y", res)).alias("c"),
        )
        .toPandas()
    )
    for (lat, lng), grp in out.groupby(["lat", "lng"]):
        center = int(cells.latlng_to_cell(np.array([lat]), np.array([lng]), res)[0])
        assert set(grp["c"]) == set(cells.grid_disk_np(center, k).tolist())


def test_cell_morton_sql_parity():
    """DuckDB cell_morton_sql must equal the numpy hierarchical encoder."""
    import duckdb
    import pandas as pd

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {"lat": rng.uniform(-90, 90, 3000), "lng": rng.uniform(-180, 180, 3000)}
    )
    con = duckdb.connect()
    con.register("pts", pdf)
    for res in (0, 1, 6, 9, 12):
        got = con.execute(
            f"SELECT {cells.cell_morton_sql('lat', 'lng', res)} AS c FROM pts"
        ).df()["c"].to_numpy()
        want = cells.latlng_to_cell(pdf["lat"].to_numpy(), pdf["lng"].to_numpy(), res)
        assert (got == want).all(), res


def test_cell_bounds_expr_matches_numpy(spark):
    """SQL-text cell bounds (raster→vector) equal the numpy twin
    bit for bit, and every generating point lies inside its cell's box."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from navgraph_osm_spark import cells

    rng = np.random.default_rng(31)
    res = 9
    lat = rng.uniform(-85, 85, 500)
    lng = rng.uniform(-179, 179, 500)
    cell = cells.latlng_to_cell(lat, lng, res)
    df = spark.createDataFrame(pd.DataFrame({"cell": cell, "lat": lat, "lng": lng}))
    lat_min, lat_max, lng_min, lng_max = map(F.expr, cells.cell_bounds_expr("cell", res))
    got = df.select(
        "cell", "lat", "lng",
        lat_min.alias("a"), lat_max.alias("b"),
        lng_min.alias("c"), lng_max.alias("d"),
    ).toPandas()
    wa, wb, wc, wd = cells.cell_bounds(cell)
    order = got.sort_values("cell").reset_index(drop=True)
    want = pd.DataFrame({"cell": cell, "a": wa, "b": wb, "c": wc, "d": wd}).sort_values(
        "cell"
    ).reset_index(drop=True)
    assert (order["a"].to_numpy() == want["a"].to_numpy()).all()
    assert (order["b"].to_numpy() == want["b"].to_numpy()).all()
    assert (order["c"].to_numpy() == want["c"].to_numpy()).all()
    assert (order["d"].to_numpy() == want["d"].to_numpy()).all()
    inside = (
        (got["lat"] >= got["a"]) & (got["lat"] <= got["b"])
        & (got["lng"] >= got["c"]) & (got["lng"] <= got["d"])
    )
    assert inside.all()
