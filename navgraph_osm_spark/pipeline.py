"""End-to-end NavGraph-equivalent pipeline on the checkpoint runner.

The reference's whole program is one fixed dataflow (SURVEY.md §3):
parse → partition → node reduction → way segmentation → edge emission →
turn expansion → CSV export, with every stage boundary materialized as
binary partition files (reference main.cpp:59-1315).  This module is that
pipeline as StageRunner stages over DataFrames: each stage output is a
managed table (cell-partitioned where it matters) with a lineage sidecar,
and re-running skips validated stages — checkpoint-resume per north_rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from navgraph_osm_spark.operators.export import export_rows
from navgraph_osm_spark.operators.graph_build import build_edges, construction_counts
from navgraph_osm_spark.operators.turn_expand import expand_turns
from navgraph_osm_spark.plans.checkpoint import StageRunner, input_fingerprint


def build_pipeline(
    spark: SparkSession,
    warehouse: str,
    nodes: DataFrame,
    ways: DataFrame,
    way_nodes: DataFrame,
    restrictions: DataFrame,
    res: int = 12,
    strict_turns: bool = False,
) -> StageRunner:
    """Assemble the 4-stage graph pipeline; call ``.run(resume=True)``.

    ``strict_turns`` switches only_* handling to the reference's first-match
    semantics (turn_expand.expand_turns strict_only).
    """
    runner = StageRunner(spark, warehouse)

    def st_edges(deps):
        df = build_edges(nodes, ways, way_nodes, res=res)
        # partition column for the managed table: coarse parent cell keeps
        # file counts bounded while preserving cell-prune-ability
        return df.withColumn("part_cell", F.shiftright(F.col("src_cell"), 8))

    def st_turns(deps):
        return expand_turns(deps["edges"], restrictions, strict_only=strict_turns)

    def st_export(deps):
        return export_rows(deps["edges"].drop("part_cell"), deps["turns"])

    def st_counts(deps):
        return construction_counts(nodes, ways, way_nodes, deps["edges"])

    # the source tables are closure-captured, not stage outputs: their
    # content fingerprints make resume invalidate when the INPUT DATA
    # changes, not just when upstream stage tables do
    def src_fprint():
        return "|".join(
            input_fingerprint(df) for df in (nodes, ways, way_nodes)
        )

    def rest_fprint():
        return src_fprint() + "|" + input_fingerprint(restrictions)

    runner.stage("edges", st_edges, partition_by=["part_cell"], external=src_fprint)
    runner.stage("turns", st_turns, inputs=["edges"], external=rest_fprint)
    runner.stage("export", st_export, inputs=["edges", "turns"])
    runner.stage("counts", st_counts, inputs=["edges"], external=src_fprint)
    return runner


def run_full_pipeline(
    spark: SparkSession,
    warehouse: str,
    tables: dict[str, DataFrame],
    res: int = 12,
    resume: bool = True,
    strict_turns: bool = False,
) -> dict[str, DataFrame]:
    runner = build_pipeline(
        spark,
        warehouse,
        tables["nodes"],
        tables["ways"],
        tables["way_nodes"],
        tables["restrictions"],
        res=res,
        strict_turns=strict_turns,
    )
    return runner.run(resume=resume)
