"""Table IO: driver-testdata loading + an Iceberg-or-Parquet writer facade.

The engine targets Iceberg tables (BASELINE.json north_star); the Iceberg
runtime jar is not in this sandbox, so the writer abstraction probes for it
and falls back to partitioned Parquet with identical call sites — swapping in
Iceberg on a real cluster is a config change, not a code change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DRIVER_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin the rows of an UNDER-PARALLEL scan across the cluster.

    Single-row-group parquet files (and any unsplittable input) plan as one
    task no matter how `maxPartitionBytes` is set; when such a scan feeds
    per-row-heavy work (covering-cell explodes, ray casts, HOF dot
    products) the whole operator runs on one core (guide: input skew —
    "one huge unsplittable file → repartition immediately after the read").

    Scale-adaptive, not a local[32] constant: the repartition fires ONLY
    when the source plans fewer partitions than
    ``spark.sparkContext.defaultParallelism`` — a 100 TB table with
    thousands of input splits passes through untouched, so no shuffle is
    added at scale.  The partition-count probe is driver-side metadata
    (file listing), not a job.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    return df.repartition(target)


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm  # noqa: SLF001
        jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class TableWriter:
    """Write a DataFrame as a (possibly cell-partitioned) managed table.

    Iceberg when the runtime is on the classpath, else partitioned Parquet.
    This is the engine's analogue of the reference's per-key partitioned
    binary sink (reference include/disk/key-file-cluster-write.hpp:31-114) —
    Spark's shuffle writer supplies the buffering/eviction the reference
    hand-rolled.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self.use_iceberg = iceberg_available(spark)

    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> str:
        target = self.path(name)
        if self.use_iceberg:
            writer = df.writeTo(f"local.{name}")
            if partition_by:
                writer = writer.partitionedBy(*partition_by)
            writer.createOrReplace()
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(target)
            # drop any cached file listing from earlier reads of this path —
            # an overwrite otherwise leaves readers pointing at deleted files
            self.spark.catalog.refreshByPath(target)
        return target

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> str:
        """Write ``df`` as a BUCKETED (and bucket-sorted) catalog table.

        Bucketing is the write-time half of a co-located join: two tables
        bucketed (same column types, same bucket count) on their join keys
        are read pre-partitioned, so the join plans with ZERO Exchange
        nodes — the Spark analogue of the reference laying out edge files
        per pixel before turn expansion (reference main.cpp:587-708 → 918).
        Iceberg maps to bucket() partition transforms (one per key column,
        mirroring the Parquet path's multi-column bucket spec) + a
        WRITE ORDERED BY sort order, and requires the storage-partitioned
        join (SPJ) session configs — set here — for the exchange-free plan;
        the Parquet fallback uses the session catalog's bucket spec.
        """
        tbl = self._catalog_name(name)
        if self.use_iceberg:
            # SPJ prerequisites (harmless if already set): without these the
            # co-located read degrades to a normal shuffled join
            for k, v in (
                ("spark.sql.sources.v2.bucketing.enabled", "true"),
                ("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true"),
                ("spark.sql.requireAllClusterKeysForCoPartition", "false"),
            ):
                self.spark.conf.set(k, v)
            writer = df.writeTo(f"local.{name}").partitionedBy(
                F.bucket(n_buckets, bucket_cols[0]),
                *[F.bucket(n_buckets, c) for c in bucket_cols[1:]],
            )
            writer.createOrReplace()
            if sort_cols:
                cols = ", ".join(sort_cols)
                self.spark.sql(
                    f"ALTER TABLE local.{name} WRITE ORDERED BY ({cols})"
                )
            return f"local.{name}"
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        w = (
            df.write.mode("overwrite")
            .option("path", self.path(name))
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(tbl)
        return tbl

    def read_bucketed(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.format("iceberg").load(f"local.{name}")
        return self.spark.table(self._catalog_name(name))

    def _catalog_name(self, name: str) -> str:
        """Session-catalog table name, unique per warehouse directory (the
        catalog is session-global; two runners must not collide)."""
        import hashlib

        tag = hashlib.md5(self.warehouse.encode()).hexdigest()[:8]
        return f"ng_{tag}_{name}"

    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.format("iceberg").load(f"local.{name}")
        return self.spark.read.parquet(self.path(name))

    def exists(self, name: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(f"local.{name}")
        target = self.path(name)
        return os.path.isdir(target) and any(
            f.startswith("_SUCCESS") for f in os.listdir(target)
        )
