"""CLI entry point — the engine's equivalent of the reference binary.

The reference runs ``./main <input.osm.pbf> [output.csv]``
(reference main.cpp:47-57; the CSV argument is optional, main.cpp:1311-1315)
and prints its stage counters to stderr (main.cpp:204-222, 916, 1301-1304).
Here::

    python -m navgraph_osm_spark <input.osm.pbf | input_dir> [output_csv] \
        [--res N] [--warehouse DIR] [--parallelism N] [--no-resume] \
        [--demo-grid ROWSxCOLS]

The input is either a REAL ``.osm.pbf`` extract (exactly the reference's
invocation — decoded by ``sources.pbf``, restrictions pivoted from the raw
relations by F3) or a directory of parquet tables ``nodes``, ``ways``
(flat highway/oneway columns or a ``tags`` map — F1/F2 dispatch on shape),
``way_nodes``, and either ``restrictions`` (pre-pivoted) or raw
``relation_members`` + ``relation_tags``.  Stage outputs are
checkpoint-resumable managed tables under ``--warehouse``; the final CSV is
the reference-shaped LINESTRING export.  ``--demo-grid`` generates the
deterministic road-grid fixture instead of reading an input dir.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession


def _load_pbf(spark: SparkSession, path: str, warehouse: str):
    """A real .osm.pbf extract → pipeline input tables (the reference's own
    input path, main.cpp:47-57): ONE single-pass decode job stages all
    entities under the warehouse (each blob decompressed+parsed exactly
    once, the reference's one-parse fan-out), then nodes/ways/way_nodes
    are partition-pruned reads and restrictions are pivoted from the raw
    relation members + tag maps (F3).  The stage is keyed by the file's
    (path,size,mtime) fingerprint, so a changed input re-stages and —
    because downstream checkpoint fingerprints hash the staged files —
    invalidates resume."""
    from navgraph_osm_spark.operators.relations import pivot_restrictions
    from navgraph_osm_spark.sources.pbf import load_osm_tables

    t = load_osm_tables(
        spark, path, stage_dir=os.path.join(warehouse, "pbf_stage")
    )
    return {
        "nodes": t["nodes"],
        "ways": t["ways"],  # tags map → F1/F2 dispatch to filter_ways_tags
        "way_nodes": t["way_nodes"],
        "restrictions": pivot_restrictions(
            t["relation_members"], t["relation_tags"]
        ),
    }


def _load_inputs(spark: SparkSession, input_dir: str):
    from navgraph_osm_spark.operators.relations import pivot_restrictions

    def tbl(name: str):
        path = os.path.join(input_dir, f"{name}.parquet")
        return spark.read.parquet(path) if os.path.exists(path) else None

    tables = {name: tbl(name) for name in ("nodes", "ways", "way_nodes")}
    missing = [k for k, v in tables.items() if v is None]
    if missing:
        raise SystemExit(f"missing input tables in {input_dir}: {missing}")
    restrictions = tbl("restrictions")
    if restrictions is None:
        members, rel_tags = tbl("relation_members"), tbl("relation_tags")
        if members is not None and rel_tags is not None:
            restrictions = pivot_restrictions(members, rel_tags)  # F3
        else:
            restrictions = spark.createDataFrame(
                [], "id long, from_way long, via_node long, to_way long, type int"
            )
    tables["restrictions"] = restrictions
    return tables


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    ap = argparse.ArgumentParser(prog="navgraph_osm_spark")
    ap.add_argument("input_dir", nargs="?", metavar="input",
                    help=".osm.pbf file or directory of parquet tables")
    ap.add_argument("output_csv", nargs="?")
    ap.add_argument("--res", type=int, default=12)
    ap.add_argument("--warehouse", default=None)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--demo-grid", default=None, metavar="ROWSxCOLS")
    ap.add_argument("--strict-turns", action="store_true",
                    help="reference first-match only_* semantics (invert.hpp:51-56)")
    args = ap.parse_args(argv)
    if args.input_dir is None and args.demo_grid is None:
        ap.error("provide an input_dir or --demo-grid ROWSxCOLS")
    if args.demo_grid and args.output_csv is None and args.input_dir is not None:
        # with --demo-grid no input is read, so a single positional is the
        # OUTPUT csv (``--demo-grid 8x8 out.csv`` previously wrote nothing:
        # the path landed in the unused input slot)
        args.input_dir, args.output_csv = None, args.input_dir

    own_session = spark is None
    if own_session:
        from navgraph_osm_spark.session import get_spark

        spark = get_spark("navgraph-cli", parallelism=args.parallelism)
    try:
        from navgraph_osm_spark.pipeline import run_full_pipeline
        from navgraph_osm_spark.sources.synth import gen_road_grid

        t0 = time.time()
        first_input = (args.input_dir or "").split(",")[0]
        warehouse = args.warehouse or os.path.join(
            os.path.dirname(first_input) if first_input and os.path.isfile(first_input)
            else (args.input_dir or "."),
            "_navgraph_warehouse",
        )
        if args.demo_grid:
            rows, cols = (int(v) for v in args.demo_grid.lower().split("x"))
            tables = gen_road_grid(spark, rows=rows, cols=cols)
        elif "," in (args.input_dir or "") and all(
            os.path.isfile(p) for p in args.input_dir.split(",")
        ):
            # multi-extract pipeline: comma-separated .osm.pbf files staged
            # through ONE single-pass decode job
            tables = _load_pbf(spark, args.input_dir.split(","), warehouse)
        elif os.path.isfile(args.input_dir):
            tables = _load_pbf(spark, args.input_dir, warehouse)
        else:
            tables = _load_inputs(spark, args.input_dir)
        out = run_full_pipeline(
            spark, warehouse, tables, res=args.res, resume=not args.no_resume,
            strict_turns=args.strict_turns,
        )
        if args.output_csv:
            from navgraph_osm_spark.operators.export import write_csv

            write_csv(out["export"], args.output_csv)
        # the reference's stderr counters (filestat.hpp:7-20, main.cpp:204-222)
        counts = out["counts"].first().asDict()
        counts["expanded_edges"] = out["turns"].count()
        counts["total_s"] = round(time.time() - t0, 2)
        print(json.dumps(counts), file=sys.stderr)
        return counts
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main()
