"""Output checks shared by the workloads.

Every output a pass produces is reduced by ONE Spark job to its row count,
an order-independent fingerprint and the rows of a seeded sample; the
sample is compared with answers computed independently (numpy kernels or
an exhaustive Spark join) before timing started.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_U64 = 1 << 64


def fingerprint_of(n_rows: int, hash_sum) -> str:
    """``rows:hash`` where hash is the sum of per-row 64-bit hashes mod 2^64
    — independent of row order and partitioning."""
    return f"{n_rows}:{int(hash_sum or 0) % _U64:016x}"


def summarize(
    df: DataFrame,
    key_cols: list[str],
    sample: Column | None = None,
    sample_cols: list[str] | None = None,
    extra: dict[str, Column] | None = None,
) -> dict:
    """Row count, fingerprint of ``key_cols``, the ``sample_cols`` of rows
    matching ``sample`` and the ``extra`` aggregates, in one job."""
    extra = extra or {}
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*key_cols).cast("decimal(20,0)")).alias("h"),
        *(c.alias(k) for k, c in extra.items()),
    ]
    if sample is not None:
        aggs.append(
            F.collect_list(F.when(sample, F.struct(*sample_cols))).alias("sample")
        )
    row = df.agg(*aggs).first()
    out = {"rows": row["n"], "fingerprint": fingerprint_of(row["n"], row["h"])}
    out.update((k, row[k]) for k in extra)
    if sample is not None:
        out["sample"] = [tuple(r) for r in row["sample"]]
    return out


def compare_sets(what: str, got, want) -> list[str]:
    """Error lines for a mismatch between two collections of hashable rows."""
    got, want = set(got), set(want)
    if got == want:
        return []
    return [
        f"{what}: {len(want - got)} expected rows missing, "
        f"{len(got - want)} unexpected (e.g. {sorted(want ^ got)[:3]})"
    ]


def seeded_sample(rng: np.random.Generator, ids: np.ndarray, k: int) -> np.ndarray:
    return np.sort(rng.choice(ids, size=min(k, ids.size), replace=False))
