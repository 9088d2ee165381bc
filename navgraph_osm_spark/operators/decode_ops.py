"""Scan-side decode operators: delta decoding + fixed-point conversion.

The reference's PBF parse delta-decodes dense-node ids/coords and way refs
(running prefix sum, reference worker.hpp:188-216, 132-135, 251-270) and
converts fixed-point coordinates (``(offset + granularity*coord)/1e9``,
reference parsing/primitive-block-parser.cpp:4-7).  Spark-side these are a
window cumulative sum and a column expression — both stay in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def delta_decode(
    df: DataFrame,
    delta_col: str,
    group_col: str,
    order_col: str,
    out: str = "absolute",
) -> DataFrame:
    """Running prefix sum of deltas within each group (S3).

    ``absolute[i] = sum(delta[0..i])`` ordered by ``order_col`` — the exact
    semantics of the reference's dense-node id/coord decoding.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out, F.sum(delta_col).over(w))


def running_offsets(
    df: DataFrame, part_col: str, order_col: str, out: str = "offset"
) -> DataFrame:
    """Per-partition monotonic offsets (A3, reference main.cpp:314-326):
    0-based position of each row within its partition key."""
    w = Window.partitionBy(part_col).orderBy(order_col)
    return df.withColumn(out, F.row_number().over(w) - 1)
