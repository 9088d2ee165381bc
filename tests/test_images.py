"""Image table: codec invariants (PSNR, caption byte-equality, phash),
Arrow plumbing (decode via mapInPandas), generator determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from navgraph_osm_spark.sources import codec, synth

N = 120


@pytest.fixture(scope="module")
def images(spark):
    df = synth.gen_images(spark, N, seed=42, partitions=4)
    df.cache()
    df.count()
    return df


def test_schema_matches_input_hint(images):
    cols = dict(images.dtypes)
    assert cols["image_id"] == "string"
    assert cols["bytes"] == "binary"
    assert cols["w"] == "int" and cols["h"] == "int"
    assert cols["fmt"] == "string"
    assert cols["caption"] == "string"
    assert cols["phash"] == "bigint"


def test_decode_roundtrip_invariants(images):
    rows = images.collect()
    assert len(rows) == N
    for r in rows[:40]:
        arr = codec.decode_image(bytes(r["bytes"]))
        assert arr.shape == (r["h"], r["w"], 3)
        orig = synth._pixels_for(int(r["image_id"][3:]), r["w"], r["h"], 42)
        p = codec.psnr(orig, arr)
        if r["fmt"] == "png":
            assert p == float("inf")
        else:
            assert p >= 40.0, (r["image_id"], p)
        assert codec.phash64(arr) == r["phash"]


def test_caption_byte_equality_and_edge_cases(images):
    rows = {r["image_id"]: r["caption"] for r in images.collect()}
    regen = synth.gen_images_pdf(np.arange(N), seed=42)
    for img_id, cap in zip(regen["image_id"], regen["caption"]):
        assert rows[img_id].encode() == cap.encode()
    assert rows["img00000000"] == ""            # 0 % 97 == 0 → empty
    assert "東京" in rows["img00000101"]          # unicode case


def test_generator_partition_independence(spark):
    a = synth.gen_images(spark, 50, seed=42, partitions=1).orderBy("image_id").collect()
    b = synth.gen_images(spark, 50, seed=42, partitions=7).orderBy("image_id").collect()
    for ra, rb in zip(a, b):
        assert ra["image_id"] == rb["image_id"]
        assert bytes(ra["bytes"]) == bytes(rb["bytes"])
        assert ra["caption"] == rb["caption"] and ra["phash"] == rb["phash"]
        assert ra["lat"] == rb["lat"] and ra["lng"] == rb["lng"]


def test_decode_stats_operator(images):
    stats = images.mapInPandas(
        codec.decode_stats_batches, schema=codec.DECODE_STATS_SCHEMA
    ).toPandas()
    assert len(stats) == N
    assert stats["phash_ok"].all()
    assert (stats[["mean_r", "mean_g", "mean_b"]].to_numpy() >= 0).all()
    assert (stats[["mean_r", "mean_g", "mean_b"]].to_numpy() <= 255).all()


def test_skewed_distribution(images):
    # city cores: a nontrivial share of images within 1 degree of Paris core
    near_paris = images.filter(
        (F.abs(F.col("lat") - 48.8566) < 1.0) & (F.abs(F.col("lng") - 2.3522) < 1.0)
    ).count()
    assert near_paris > N * 0.15


def test_geo_pruned_gen_matches_full(spark):
    full = synth.gen_images(spark, 40, seed=42, partitions=2).toPandas()
    geo = synth.gen_images(spark, 40, seed=42, partitions=3, payload=False).toPandas()
    full = full.sort_values("image_id").reset_index(drop=True)
    geo = geo.sort_values("image_id").reset_index(drop=True)
    for c in ["image_id", "w", "h", "fmt", "caption", "lat", "lng"]:
        assert (full[c] == geo[c]).all(), c
    for a, b in zip(full["footprint"], geo["footprint"]):
        assert list(a) == list(b)


def test_fused_gen_decode_stats(spark):
    stats = synth.gen_decode_stats(spark, 60, seed=42, partitions=4).toPandas()
    assert len(stats) == 60
    assert stats["phash_ok"].all()


def _pillow_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_external_decoder_stub():
    """Without Pillow the seam raises naming the dependency (this is the
    live branch in this container); with Pillow the companion PSNR test
    below activates instead."""
    if _pillow_available():
        pytest.skip("Pillow installed — the real-decode PSNR test covers the seam")
    with pytest.raises(NotImplementedError, match="Pillow"):
        codec.external_decoder_stub(b"xx", "jpeg")


@pytest.mark.skipif(
    not _pillow_available(),
    reason="Pillow not installed in this environment (pip install Pillow)",
)
def test_external_decoder_real_formats_psnr():
    """Dormant-but-wired real-codec integration: the moment Pillow lands,
    PNG must round-trip exactly and JPEG at quality 90 must reach
    PSNR ≥ 40 dB against the source array through the seam."""
    import io

    import numpy as np
    from PIL import Image

    from navgraph_osm_spark.sources.synth import _pixels_for

    arr = _pixels_for(7, 64, 48, 42)
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="PNG")
    got = codec.external_decoder_stub(buf.getvalue(), "png")
    assert got.shape == arr.shape and (got == arr).all()

    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="JPEG", quality=90)
    got = codec.external_decoder_stub(buf.getvalue(), "jpeg")
    mse = float(((got.astype(np.float64) - arr.astype(np.float64)) ** 2).mean())
    psnr = 10 * np.log10(255.0 ** 2 / max(mse, 1e-12))
    assert psnr >= 40.0, psnr


def test_phash_batch_bit_identical():
    """phash64_batch / phash64_many must equal the scalar phash64 BIT FOR
    BIT on this platform — the guard that batched BLAS gemm and batched
    means round identically to the per-image path (if a platform ever
    breaks this, the pipeline stays internally consistent but this test
    flags the divergence)."""
    import numpy as np

    from navgraph_osm_spark.sources.codec import phash64, phash64_many
    from navgraph_osm_spark.sources.synth import _pixels_for

    rng = np.random.default_rng(5)
    arrs = []
    for i in range(300):
        w, h = int(rng.integers(16, 65)), int(rng.integers(16, 65))
        arrs.append(_pixels_for(i, w, h, 42))
    # plus pure-noise images (no smooth structure)
    for i in range(100):
        w, h = int(rng.integers(16, 65)), int(rng.integers(16, 65))
        arrs.append(rng.integers(0, 256, (h, w, 3)).astype(np.uint8))
    got = phash64_many(arrs)
    want = np.array([phash64(a) for a in arrs], dtype=np.int64)
    assert (got == want).all()
