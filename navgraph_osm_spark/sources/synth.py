"""Deterministic synthetic data generators (seeded, partition-independent).

Every random field is a pure function of ``(seed, row_id)`` via splitmix64,
so generation is reproducible regardless of Spark partitioning / parallelism
— the property the driver's two-parallelism scaling runs rely on.

Tables:

- ``images``      — the graft input (BASELINE.json input_hint schema):
  ``image_id, bytes, w, h, fmt, caption, phash`` + geo columns
  ``lat, lng`` and ``footprint: array<struct<lat,lng>>``.
  Spatial distribution = dense "city core" clusters + uniform background,
  mirroring OSM's dense node clusters (skew exercise per north_star).
- OSM-like fixtures — ``nodes / ways / way_nodes / restrictions``
  (schemas per FIXTURES.md §2, mirroring reference include/types/*.hpp):
  a jittered road grid whose crossings give deterministic, hand-checkable
  intersection splits.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from navgraph_osm_spark.sources.codec import encode_image

# ---------------------------------------------------------------------------
# splitmix64 — the standard public-domain mixer, vectorized
# ---------------------------------------------------------------------------

def splitmix64(x: np.ndarray) -> np.ndarray:
    z = (np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _u01(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Uniform [0,1) derived from (seed, stream, id)."""
    h = splitmix64(np.asarray(ids, dtype=np.uint64) ^ splitmix64(np.asarray([seed * 1315423911 + stream], dtype=np.uint64))[0])
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _mulmod64_sql(y: str, c: int) -> str:
    """DuckDB SQL: (y * c) mod 2^64 for a UBIGINT expression and a constant.

    DuckDB has no wrapping multiply (HUGEINT overflows at 2^127), so the
    product is assembled from 32-bit halves — every intermediate fits in
    INT128: ``lo*c_lo + ((lo*c_hi + hi*c_lo) mod 2^32) << 32``.
    """
    c_lo, c_hi = c & 0xFFFFFFFF, c >> 32
    return (
        f"CAST((CAST(({y}) & 4294967295 AS HUGEINT) * {c_lo} + "
        f"(((CAST(({y}) & 4294967295 AS HUGEINT) * {c_hi} + "
        f"CAST(({y}) >> 32 AS HUGEINT) * {c_lo}) % 4294967296) * 4294967296)) "
        f"% 18446744073709551616 AS UBIGINT)"
    )


def splitmix64_sql_stages(x: str, tag: str) -> list[tuple[str, str]]:
    """CTE column stages computing splitmix64 of a UBIGINT expression
    BIT-FOR-BIT in DuckDB (wrapping adds/multiplies via
    :func:`_mulmod64_sql`).  Final column name is ``{tag}``."""
    return [
        (f"{tag}a",
         f"CAST((CAST(({x}) AS HUGEINT) + 11400714819323198485) "
         f"% 18446744073709551616 AS UBIGINT)"),
        (f"{tag}b", _mulmod64_sql(f"xor({tag}a, {tag}a >> 30)", 0xBF58476D1CE4E5B9)),
        (f"{tag}c", _mulmod64_sql(f"xor({tag}b, {tag}b >> 27)", 0x94D049BB133111EB)),
        (tag, f"xor({tag}c, {tag}c >> 31)"),
    ]


def u01_sql_stages(id_col: str, seed: int, stream: int, tag: str) -> list[tuple[str, str]]:
    """CTE column stages reproducing :func:`_u01` BIT-FOR-BIT in DuckDB.

    The stream key (inner splitmix64 of seed*1315423911+stream) is
    precomputed here and inlined; the outer splitmix64 runs in SQL via
    :func:`splitmix64_sql_stages`.  Final column name is ``u{stream}``.
    Tested exact against numpy for every stream (tests/test_synth_sql.py).
    """
    key = int(splitmix64(np.array([seed * 1315423911 + stream], dtype=np.uint64))[0])
    stages = splitmix64_sql_stages(
        f"xor(CAST({id_col} AS UBIGINT), {key})", f"{tag}z"
    )
    # rescale the 64-bit mix to uniform [0,1) exactly as _u01 does
    stages[-1] = (
        f"u{stream}",
        f"CAST(({stages[-1][1]}) >> 11 AS DOUBLE) / 9007199254740992.0",
    )
    return stages


def image_geo_sql_cte(n: int, seed: int = 42) -> str:
    """DuckDB CTE chain generating the image table's (i, lat, lng) columns —
    the SQL twin of :func:`image_fields`'s geo derivation, so queries over
    the synthetic image table can be driver-oracled without the table ever
    existing in DuckDB.  splitmix64/_u01 are reproduced bit-for-bit; the
    Box–Muller trig goes through libm, where numpy and DuckDB may differ in
    the last ulp on rare rows (~1e-3 of rows, ~1e-17 degrees) — harmless
    below any cell-boundary granularity.  Usage: f"WITH {cte}, ..." then
    select from ``geo``.
    """
    cols: list[tuple[str, str]] = []
    for stream, tag in ((1, "p"), (2, "q"), (3, "r"), (4, "s"), (5, "t")):
        cols += u01_sql_stages("i", seed, stream, tag)
    sql = f"g0 AS (SELECT i FROM range(0, {n}) t(i))"
    prev = "g0"
    for k, (col, expr) in enumerate(cols):
        sql += f", g{k + 1} AS (SELECT *, {expr} AS {col} FROM {prev})"
        prev = f"g{k + 1}"
    acc = 0.0
    bounds = []
    for _clat, _clng, wgt in _CITY_CORES:
        acc += wgt
        bounds.append(acc)
    rad = f"SQRT(-2.0 * LN(GREATEST(u2, 0.000000000001))) * {_CLUSTER_SIGMA!r}"
    lat_cases = " ".join(
        f"WHEN u1 < {b!r} THEN {core[0]!r} + ({rad}) * COS(2 * PI() * u3)"
        for b, core in zip(bounds, _CITY_CORES)
    )
    lng_cases = " ".join(
        f"WHEN u1 < {b!r} THEN {core[1]!r} + ({rad}) * SIN(2 * PI() * u3)"
        for b, core in zip(bounds, _CITY_CORES)
    )
    sql += (
        f", geo AS (SELECT i, "
        f"CASE {lat_cases} ELSE u4 * 170.0 - 85.0 END AS lat, "
        f"CASE {lng_cases} ELSE u5 * 360.0 - 180.0 END AS lng FROM {prev})"
    )
    return sql


# ---------------------------------------------------------------------------
# images table
# ---------------------------------------------------------------------------

_CITY_CORES = [  # (lat, lng, weight) — a few dense clusters for skew
    (48.8566, 2.3522, 0.30),
    (40.7128, -74.0060, 0.25),
    (35.6762, 139.6503, 0.15),
]
_CLUSTER_SIGMA = 0.05  # degrees
_VOCAB = (
    "street market bridge tower river park square station museum harbor "
    "sunset crowd tram bicycle fountain cathedral alley rooftop skyline café"
).split()

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lng", T.DoubleType(), False),
        T.StructField(
            "footprint",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("lat", T.DoubleType(), False),
                        T.StructField("lng", T.DoubleType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def image_fields(
    ids: np.ndarray, seed: int = 42, captions: bool = True
) -> pd.DataFrame:
    """Vectorized scalar fields (everything except bytes/phash) per id.

    ``captions=False`` skips the (python-loop) caption synthesis for
    consumers that never read it — generator-side column pruning."""
    ids = np.asarray(ids, dtype=np.int64)
    u_cluster = _u01(ids, seed, 1)
    lat = np.empty(ids.shape)
    lng = np.empty(ids.shape)
    # cluster assignment: cumulative weights; remainder uniform
    acc = 0.0
    assigned = np.zeros(ids.shape, dtype=bool)
    for clat, clng, wgt in _CITY_CORES:
        sel = (~assigned) & (u_cluster >= acc) & (u_cluster < acc + wgt)
        g1 = _u01(ids, seed, 2)
        g2 = _u01(ids, seed, 3)
        # Box–Muller from two uniforms (avoid 0)
        r = np.sqrt(-2.0 * np.log(np.maximum(g1, 1e-12))) * _CLUSTER_SIGMA
        lat[sel] = clat + (r * np.cos(2 * np.pi * g2))[sel]
        lng[sel] = clng + (r * np.sin(2 * np.pi * g2))[sel]
        assigned |= sel
        acc += wgt
    rest = ~assigned
    lat[rest] = (_u01(ids, seed, 4)[rest] * 170.0) - 85.0
    lng[rest] = (_u01(ids, seed, 5)[rest] * 360.0) - 180.0
    w = (16 + (splitmix64(ids.astype(np.uint64) ^ np.uint64(seed + 7)) % np.uint64(49))).astype(np.int32)
    h = (16 + (splitmix64(ids.astype(np.uint64) ^ np.uint64(seed + 8)) % np.uint64(49))).astype(np.int32)
    fmt = np.where(_u01(ids, seed, 9) < 0.5, "png", "jpeg")
    # captions: 3-8 vocab words; deterministic unicode/empty edge cases.
    # vectorized: one (n, 8) splitmix matrix, sliced per row by cap_len.
    if captions:
        cap_len = 3 + (splitmix64(ids.astype(np.uint64) ^ np.uint64(seed + 10)) % np.uint64(6)).astype(np.int64)
        word_pos = np.arange(8, dtype=np.uint64) * np.uint64(2654435761)
        idx_mat = (
            splitmix64(
                word_pos[None, :] ^ (ids.astype(np.uint64) * np.uint64(31) + np.uint64(seed))[:, None]
            )
            % np.uint64(len(_VOCAB))
        ).astype(np.int64)
        vocab = np.array(_VOCAB)
        caps = []
        for i, cid in enumerate(ids):
            if cid % 97 == 0:
                caps.append("")
            elif cid % 101 == 0:
                caps.append("東京 🌉 čaj ñandú")
            else:
                caps.append(" ".join(vocab[idx_mat[i, : cap_len[i]]]))
    else:
        caps = ""
    # footprint: small quad around the point (simulated EXIF/tile metadata)
    half = 0.001 + _u01(ids, seed, 11) * 0.004
    return pd.DataFrame(
        {
            "image_id": [f"img{int(i):08d}" for i in ids],
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": caps,
            "lat": lat,
            "lng": lng,
            "half": half,
        }
    )


def _pixels_for(img_id: int, w: int, h: int, seed: int) -> np.ndarray:
    """Deterministic RGB content: smooth gradient + hash-salted phase.

    The R/G channels are separable (R depends only on the column index, G
    only on the row index), so the trig runs on 1-D vectors and broadcasts
    — bit-identical to the former full-grid evaluation (same float64
    operands element-for-element), ~3× less work per image."""
    phase = float(splitmix64(np.asarray([img_id ^ seed], dtype=np.uint64))[0] % np.uint64(997)) / 997.0
    x = np.arange(w, dtype=np.float64)
    y = np.arange(h, dtype=np.float64)
    r = ((np.sin(x / w * 6.28 + phase * 6.28) * 0.5 + 0.5) * 255).astype(np.uint8)
    g = ((np.cos(y / h * 6.28 + phase * 3.14) * 0.5 + 0.5) * 255).astype(np.uint8)
    b = (((x[None, :] + y[:, None]) / (w + h) * 255 + phase * 64) % 256).astype(np.uint8)
    out = np.empty((h, w, 3), dtype=np.uint8)
    out[:, :, 0] = r[None, :]
    out[:, :, 1] = g[:, None]
    out[:, :, 2] = b
    return out


def gen_images_pdf(
    ids: np.ndarray, seed: int = 42, decode_only: bool = False
) -> pd.DataFrame:
    """Full image rows (with encoded bytes + phash) for an id batch.

    The zlib encode runs per image (C-speed, shape-independent); the
    perceptual hash is taken over the post-roundtrip pixels — computed
    ARITHMETICALLY instead of via a redundant decompress (zlib is
    lossless, so png pixels are the input pixels and the jpeg
    quantization is the closed form ``min((x>>3)*8+4, 255)`` — exactly
    what :func:`codec.decode_image` reconstructs; asserted by the
    roundtrip tests).  The downstream verify stage
    (``codec.decode_stats_batches``) still performs the real
    decompress+decode on the bytes.  Hashing goes through the batched
    kernel (codec.phash64_many) — bit-identical to the scalar path."""
    from navgraph_osm_spark.sources.codec import phash64_many

    base = image_fields(ids, seed, captions=not decode_only)
    blobs, decoded, fps = [], [], []
    for row, img_id in zip(base.itertuples(index=False), ids):
        arr = _pixels_for(int(img_id), int(row.w), int(row.h), seed)
        blobs.append(encode_image(arr, row.fmt))
        if row.fmt == "jpeg":
            decoded.append(
                np.minimum((arr >> 3).astype(np.uint16) * 8 + 4, 255).astype(np.uint8)
            )
        else:
            decoded.append(arr)
        if decode_only:
            continue
        hlf = float(row.half)
        fps.append(
            [
                {"lat": row.lat - hlf, "lng": row.lng - hlf},
                {"lat": row.lat - hlf, "lng": row.lng + hlf},
                {"lat": row.lat + hlf, "lng": row.lng + hlf},
                {"lat": row.lat + hlf, "lng": row.lng - hlf},
            ]
        )
    out = base.drop(columns=["half"])
    out["bytes"] = blobs
    out["phash"] = phash64_many(decoded) if decoded else np.empty(0, np.int64)
    if decode_only:
        # generator-side column pruning for the fused decode pipeline:
        # captions/footprints are never read by the verify stage
        return out[["image_id", "bytes", "w", "h", "fmt", "phash"]]
    out["footprint"] = fps
    return out[
        ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lat", "lng", "footprint"]
    ]


def gen_decode_stats(spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Fused generate→decode→verify stage (single python worker per task).

    Operator fusion of ``gen_images`` + ``codec.decode_stats_batches``: the
    encoded bytes never cross the Arrow boundary, and each Spark task drives
    exactly one python process — required for honest N-vs-4N scaling runs
    (chained python stages otherwise pipeline on 2 cores per task slot).
    """
    from navgraph_osm_spark.sources import codec

    rng = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism * 4)

    def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            full = gen_images_pdf(pdf["id"].to_numpy(), seed, decode_only=True)
            yield from codec.decode_stats_batches(iter([full]))

    return rng.mapInPandas(_fused, schema="" + _decode_schema())


def _decode_schema() -> str:
    from navgraph_osm_spark.sources import codec

    return codec.DECODE_STATS_SCHEMA


GEO_ONLY_SCHEMA = T.StructType(
    [f for f in IMAGES_SCHEMA.fields if f.name not in ("bytes", "phash")]
)


def gen_images_geo_pdf(ids: np.ndarray, seed: int = 42) -> pd.DataFrame:
    """Scalar+geo columns only (no pixel encode) — the column-pruned scan."""
    base = image_fields(ids, seed)
    fps = []
    for row in base.itertuples(index=False):
        hlf = float(row.half)
        fps.append(
            [
                {"lat": row.lat - hlf, "lng": row.lng - hlf},
                {"lat": row.lat - hlf, "lng": row.lng + hlf},
                {"lat": row.lat + hlf, "lng": row.lng + hlf},
                {"lat": row.lat + hlf, "lng": row.lng - hlf},
            ]
        )
    out = base.drop(columns=["half"])
    out["footprint"] = fps
    return out[["image_id", "w", "h", "fmt", "caption", "lat", "lng", "footprint"]]


def gen_images(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    partitions: int | None = None,
    payload: bool = True,
) -> DataFrame:
    """Distributed deterministic image table: spark.range → mapInPandas.

    ``payload=False`` skips pixel synthesis/encode and omits bytes/phash —
    the generator-side analogue of Parquet column pruning for geo-only
    consumers (footprints, captions, coordinates).
    """
    rng = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield gen_images_pdf(ids, seed) if payload else gen_images_geo_pdf(ids, seed)

    return rng.mapInPandas(_gen, schema=IMAGES_SCHEMA if payload else GEO_ONLY_SCHEMA)


# ---------------------------------------------------------------------------
# OSM-like road-grid fixture (nodes / ways / way_nodes / restrictions)
# ---------------------------------------------------------------------------

HIGHWAY_ALLOWED = [  # reference include/types/way.hpp:8-12 (13-type allowlist)
    "motorway", "trunk", "primary", "secondary", "tertiary", "unclassified",
    "residential", "motorway_link", "trunk_link", "primary_link",
    "secondary_link", "tertiary_link", "living_street",
]


def gen_road_grid(
    spark: SparkSession,
    rows: int = 5,
    cols: int = 5,
    origin: tuple[float, float] = (48.85, 2.35),
    step_deg: float = 0.01,
    seed: int = 42,
) -> dict[str, DataFrame]:
    """Jittered road grid: ``rows`` horizontal + ``cols`` vertical ways.

    Node ids = ``r * cols + c``; every interior crossing is shared by two
    ways ⇒ usage count ≥ 2 ⇒ deterministic intersection splits (reference
    semantics main.cpp:576-578).  Some ways oneway, some non-highway noise
    ways, plus a small restriction set covering only_*/no_* and a dangling
    to-way (J7 drop case).
    """
    lat0, lng0 = origin
    node_rows = []
    for r in range(rows):
        for c in range(cols):
            nid = r * cols + c
            j = float(_u01(np.asarray([nid]), seed, 21)[0]) * 0.001
            node_rows.append((nid, float(lat0 + r * step_deg + j), float(lng0 + c * step_deg + j / 2)))
    nodes = spark.createDataFrame(node_rows, "id long, lat double, lng double")

    way_rows, wn_rows = [], []
    wid = 1000
    for r in range(rows):  # horizontal ways
        hw = HIGHWAY_ALLOWED[r % len(HIGHWAY_ALLOWED)]
        oneway = "yes" if r % 3 == 0 else ("1" if r % 3 == 1 else "no")
        way_rows.append((wid, hw, oneway))
        for c in range(cols):
            wn_rows.append((wid, c, r * cols + c))
        wid += 1
    for c in range(cols):  # vertical ways
        way_rows.append((wid, HIGHWAY_ALLOWED[(c + 5) % len(HIGHWAY_ALLOWED)], "no"))
        for r in range(rows):
            wn_rows.append((wid, r, r * cols + c))
        wid += 1
    # noise: non-highway way (filtered by F1) + footway
    way_rows.append((wid, "footway", "no"))
    wn_rows += [(wid, 0, 0), (wid, 1, 1)]
    wid += 1
    way_rows.append((wid, None, None))
    wn_rows += [(wid, 0, 2), (wid, 1, 3)]

    ways = spark.createDataFrame(way_rows, "id long, highway string, oneway string")
    way_nodes = spark.createDataFrame(wn_rows, "way_id long, seq int, node_id long")

    # ways with an OSM-shaped tags map (the reference's string-table tag
    # view, worker.hpp:94-121) — semantically identical to the flat columns
    tag_rows = [
        (wid, {k: v for k, v in (("highway", hw), ("oneway", ow)) if v is not None})
        for wid, hw, ow in way_rows
    ]
    ways_tags = spark.createDataFrame(tag_rows, "id long, tags map<string,string>")

    # restrictions are born RAW (per-member rows + relation tags, reference
    # worker.hpp:223-307) and pivoted by the F3 operator; type strings map to
    # codes 0-2 = no_*, 3-5 = only_* (worker.hpp:287-302)
    h0, v0 = 1000, 1000 + rows  # first horizontal / vertical way ids
    restr = [
        (1, h0 + 2, 2 * cols + 2, v0 + 2, "no_right_turn"),   # no_* center crossing
        (2, h0 + 1, 1 * cols + 1, v0 + 1, "only_left_turn"),  # only_* at (1,1)
        (3, h0 + 1, 1 * cols + 3, v0 + 3, "only_right_turn"), # only_* elsewhere
        (4, h0 + 3, 3 * cols + 1, 99999, "only_straight_on"), # dangling to-way (J7 drop)
        (5, h0 + 4, 4 * cols + 2, v0 + 2, "only_left_turn"),  # only_* conflict pair a
        (6, h0 + 4, 4 * cols + 2, v0 + 3, "only_right_turn"), # conflict pair b (different to)
    ]
    member_rows = []
    tag_rel_rows = []
    for rid, fr, via, to, rtype in restr:
        member_rows += [
            (rid, 0, "way", "from", fr),
            (rid, 1, "node", "via", via),
            (rid, 2, "way", "to", to),
        ]
        tag_rel_rows.append((rid, {"restriction": rtype, "type": "restriction"}))
    # invalid raw relations the F3 operator must drop:
    member_rows += [
        (90, 0, "way", "from", h0), (90, 1, "node", "via", 1), (90, 2, "way", "to", v0),
        (91, 0, "way", "from", h0), (91, 1, "node", "via", 1), (91, 2, "way", "to", v0),
        (91, 3, "node", "via", 2),                         # 4 members
        (92, 0, "way", "from", h0), (92, 1, "way", "via", 1), (92, 2, "way", "to", v0),
        (93, 0, "way", "from", h0), (93, 1, "node", "via", 1), (93, 2, "way", "to", v0),
        (94, 0, "way", "from", h0), (94, 1, "node", "via", 1),  # missing to
    ]
    tag_rel_rows += [
        (90, {"type": "route"}),                           # no restriction tag
        (91, {"restriction": "no_left_turn"}),
        (92, {"restriction": "no_left_turn"}),             # via has WAY member type
        (93, {"restriction": "no_u_turn"}),                # type outside the 6-type table
        (94, {"restriction": "no_left_turn"}),
    ]
    relation_members = spark.createDataFrame(
        member_rows,
        "rel_id long, seq int, member_type string, role string, member_id long",
    )
    relation_tags = spark.createDataFrame(
        tag_rel_rows, "rel_id long, tags map<string,string>"
    )
    from navgraph_osm_spark.operators.relations import pivot_restrictions

    restrictions = pivot_restrictions(relation_members, relation_tags)
    return {
        "nodes": nodes,
        "ways": ways,
        "ways_tags": ways_tags,
        "way_nodes": way_nodes,
        "relation_members": relation_members,
        "relation_tags": relation_tags,
        "restrictions": restrictions,
    }
