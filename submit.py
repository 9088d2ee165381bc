#!/usr/bin/env python3
"""spark-submit driver — the north_rule's cluster deployment entry point.

Usage (real cluster; the module zip ships with the job)::

    python -m zipfile -c navgraph_osm_spark.zip navgraph_osm_spark
    spark-submit --master <cluster> --py-files navgraph_osm_spark.zip \
        submit.py <input.osm.pbf | input_dir | --demo-grid RxC> [output_csv] \
        [--warehouse DIR] [--res N] [--strict-turns]

The session comes from spark-submit (master, executor counts, memory);
this driver only applies the engine's SQL configs and runs the same
pipeline as ``python -m navgraph_osm_spark``.  Scaling evidence per the
north_rule = two submissions of THIS script at N and 4N executors over
the same input (single-box stand-in: ``bench.py --scaling``).

Emits the reference-style stage counters as ONE JSON line on stdout.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession


def main(argv: list[str]) -> None:
    # configs only — master/deploy-mode/executors come from spark-submit
    spark = (
        SparkSession.builder.appName("navgraph_osm_spark-submit")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    from navgraph_osm_spark.__main__ import main as cli_main

    counts = cli_main(argv, spark=spark)
    print(json.dumps(counts))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
