"""Skew handling: salted repartition + adaptive cell splitting.

Dense city-core cells mirror the reference's dense HEALPix pixels — its only
mitigation was largest-buffer eviction in the partitioned sink (reference
include/disk/key-file-cluster-write.hpp:31-80).  Here (north_rule):

- ``salted_repartition`` — split a hot key into ``(key, salt)`` shards.
- ``adaptive_cell_split`` — re-index rows in over-dense cells at a finer
  resolution (cell → children, repeatedly), driven by a cheap pre-agg;
  the hierarchy makes the split loss-free (parent recoverable by shifting).
- AQE's skew-join splitting handles residual join skew
  (spark.sql.adaptive.skewJoin.enabled=true in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from navgraph_osm_spark.cells import cell_expr


def cell_histogram(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    return df.groupBy(cell_col).agg(F.count("*").alias("n_rows"))


def salted_repartition(df: DataFrame, key: str, salt_buckets: int, partitions: int | None = None) -> DataFrame:
    """Append a deterministic salt derived from a row hash; repartition on
    (key, salt) so one hot key spreads over ``salt_buckets`` tasks."""
    salted = df.withColumn(
        "salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    )
    n = partitions or salted.sparkSession.sparkContext.defaultParallelism
    return salted.repartition(n, F.col(key), F.col("salt"))


def adaptive_cell_split(
    df: DataFrame,
    res: int,
    threshold: int,
    max_extra_levels: int = 4,
    lat: str = "lat",
    lng: str = "lng",
    cell_col: str = "part_cell",
) -> DataFrame:
    """Assign each row a partition cell: base ``res``, but rows in cells with
    more than ``threshold`` rows descend to finer resolutions (children)
    until every partition cell is under the threshold or ``max_extra_levels``
    is exhausted.

    Implementation: encode once at the finest resolution, aggregate the data
    ONCE into a per-finest-cell histogram (≤ 4^finest rows — orders of
    magnitude smaller than the data), run the whole level descent on that
    histogram (tiny broadcast joins, no further scans of ``df``), then join
    the resulting finest-cell → part-cell mapping back in a single pass.
    The mapping is broadcast when small; at extreme resolutions it falls
    back to a shuffle join that is co-keyed with the cell partitioning the
    caller is about to apply anyway.
    """
    finest = res + max_extra_levels
    out = df.withColumn("__finest", F.expr(cell_expr(lat, lng, finest)))

    # ONE aggregation over the data; the descent below touches only `hist`
    hist = (
        out.groupBy("__finest")
        .agg(F.count("*").alias("__n"))
        .localCheckpoint(eager=True)
    )
    m = hist.withColumn(
        cell_col, F.shiftright(F.col("__finest"), 2 * max_extra_levels)
    )
    for level in range(max_extra_levels):
        totals = m.groupBy(cell_col).agg(F.sum("__n").alias("__t"))
        dense = totals.filter(F.col("__t") > threshold).select(
            F.col(cell_col).alias("__dense_cell")
        )
        if dense.isEmpty():
            break
        shift = 2 * (max_extra_levels - level - 1)
        m = (
            m.join(F.broadcast(dense), m[cell_col] == F.col("__dense_cell"), "left")
            .withColumn(
                cell_col,
                F.when(
                    F.col("__dense_cell").isNotNull(),
                    F.shiftright(F.col("__finest"), shift),
                ).otherwise(F.col(cell_col)),
            )
            .drop("__dense_cell")
        )
    mapping = m.select("__finest", cell_col).localCheckpoint(eager=True)
    if mapping.count() <= 2_000_000:
        mapping = F.broadcast(mapping)
    return out.join(mapping, "__finest").drop("__finest")
