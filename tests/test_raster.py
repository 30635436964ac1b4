"""Raster <-> vector stage tests: decode invariants (PSNR/caption),
chip tiling geometry, per-cell mosaic aggregation (BASELINE.json
input_hint gates exercised end-to-end through mapInArrow)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatial4n_spark.operators.raster import (
    decode_check,
    raster_pipeline,
    tile_images,
    tile_images_multi,
)
from spatial4n_spark.sources.images import decode_image_batch, images_df

N = 600


@pytest.fixture(scope="module")
def images(spark):
    return images_df(spark, N, partitions=4).cache()


def test_decode_psnr_and_caption(spark, images):
    out = decode_check(images, level=4).toPandas()
    assert len(out) == N
    # caption equality: byte-exact for every row (input_hint invariant)
    assert out["caption_ok"].all()
    # lossless formats reconstruct exactly; real JPEG stays >= 40 dB
    lossless = out[out["fmt"].isin(["raw", "png"])]
    assert (lossless["psnr_db"] == 999.0).all()
    lossy = out[out["fmt"] == "jpg"]
    assert len(lossy) > 0
    assert (lossy["psnr_db"] >= 40.0).all()
    assert (lossy["psnr_db"] < 60.0).all()  # it IS lossy, not a no-op


def test_decode_psnr_matches_numpy_oracle(spark, images):
    """PSNR of the real JPEG codec = 10*log10(255^2/mse) with mse from
    the entropy-free quant-chain reference — recomputed independently
    here (Huffman is lossless, so decode == quant_chain_rgb(source))."""
    out = decode_check(images, level=4).where(F.col("fmt") == "jpg").toPandas()
    from spatial4n_spark.io.jpeg import quant_chain_rgb
    from spatial4n_spark.operators.raster import _psnr_db, _reference_pixels

    sample = out.sample(n=min(20, len(out)), random_state=0)
    for _, row in sample.iterrows():
        iid = row["image_id"]
        img_row = images.where(F.col("image_id") == iid).collect()[0]
        ref = _reference_pixels(iid, img_row["w"], img_row["h"])
        dec = quant_chain_rgb(ref)
        assert row["psnr_db"] == pytest.approx(_psnr_db(dec, ref), abs=1e-9)


def test_chip_tiling_geometry(spark, images):
    chips = tile_images(images, level=4, chip_px=8).toPandas()
    meta = images.select("image_id", "w", "h").toPandas()
    expect_chips = sum(
        math.ceil(w / 8) * math.ceil(h / 8) for w, h in zip(meta["w"], meta["h"])
    )
    assert len(chips) == expect_chips
    # every chip fully inside its image; edge chips may be smaller
    assert (chips["chip_w"] <= 8).all() and (chips["chip_h"] <= 8).all()
    # pixel conservation: chip areas tile the image exactly
    px = (chips["chip_w"] * chips["chip_h"]).groupby(chips["image_id"]).sum()
    for _, row in meta.iterrows():
        assert px[row["image_id"]] == row["w"] * row["h"]


def test_chip_means_match_reference_pixels(spark, images):
    """For the lossless 'raw' format the chip means must equal means of
    the reference pixel blocks exactly."""
    from spatial4n_spark.operators.raster import _reference_pixels

    chips = tile_images(images.where(F.col("fmt") == "raw"), level=4, chip_px=8).toPandas()
    one = chips[chips["image_id"] == chips["image_id"].iloc[0]]
    iid = one["image_id"].iloc[0]
    meta = images.where(F.col("image_id") == iid).collect()[0]
    ref = _reference_pixels(iid, meta["w"], meta["h"])
    for _, c in one.iterrows():
        r0, c0 = c["chip_row"] * 8, c["chip_col"] * 8
        block = ref[r0 : r0 + 8, c0 : c0 + 8]
        assert c["chip_mean"] == pytest.approx(float(block.mean()), abs=1e-12)


def test_raster_pipeline_cell_stats(spark, images):
    stats = raster_pipeline(images, level=4, chip_px=8).toPandas()
    meta = images.select("w", "h").toPandas()
    # all synthetic images pass the gate -> pixel totals conserved
    assert stats["sum_px"].sum() == (meta["w"] * meta["h"]).sum()
    assert stats["n_images"].sum() == N  # each image lands in exactly one cell
    # hot clusters exist: the busiest cell holds >> uniform share
    assert stats["n_images"].max() > 5 * stats["n_images"].median()


def test_gate_drops_corrupted_images(spark):
    """Corrupt a payload bit pattern badly enough to sink PSNR below 40 and
    confirm the fused gate drops exactly those images."""
    imgs = images_df(spark, 60, partitions=2)
    # zero out the payload of every 5th image (raw stays decodable: size ok)
    corrupted = imgs.withColumn(
        "bytes",
        F.when(
            (F.col("fmt") == "raw") & (F.col("phash") % 5 == 0),
            F.udf(lambda b: bytes(len(b)), "binary")(F.col("bytes")),
        ).otherwise(F.col("bytes")),
    )
    n_bad = corrupted.where(
        (F.col("fmt") == "raw") & (F.col("phash") % 5 == 0)
    ).count()
    gated = tile_images(corrupted, level=4, chip_px=8, min_psnr_db=40.0)
    kept = gated.select("image_id").distinct().count()
    assert kept == 60 - n_bad
    assert n_bad > 0


def test_raster_pipeline_s2_backend(spark, images):
    """Swapping the cell backend changes only the cell keying: totals are
    conserved, and each image's int64 cell equals a direct s2_encode of
    its coordinates."""
    from spatial4n_spark.kernels.s2cell import s2_encode

    geo = raster_pipeline(images, level=4, chip_px=8).toPandas()
    s2 = raster_pipeline(images, level=8, chip_px=8, index="s2").toPandas()
    assert s2["cell"].dtype.kind == "i"
    assert s2["sum_px"].sum() == geo["sum_px"].sum()
    assert s2["n_chips"].sum() == geo["n_chips"].sum()
    assert s2["n_images"].sum() == N
    meta = images.select("lon", "lat").toPandas()
    want = set(
        s2_encode(meta["lat"].to_numpy(), meta["lon"].to_numpy(), 8).tolist()
    )
    assert set(s2["cell"].tolist()) == want


@pytest.mark.parametrize("index", ["geohash", "s2"])
def test_raster_pyramid_levels_equal_direct(spark, images, index):
    """Every overview level — rolled up from the finest level's chip
    partials, one decode pass — is bit-equal to running the pipeline
    directly at that level (integer partials until the final division)."""
    from spatial4n_spark.operators.raster import (
        raster_pipeline,
        raster_pipeline_pyramid,
    )

    hi, lo = (4, 2) if index == "geohash" else (8, 5)
    pyr = raster_pipeline_pyramid(
        images, level=hi, min_level=lo, chip_px=8, index=index
    ).collect()
    assert sorted({r["lvl"] for r in pyr}) == list(range(lo, hi + 1))
    for L in range(lo, hi + 1):
        want = {
            r["cell"]: (r["n_chips"], r["n_images"], r["sum_px"], r["avg_brightness"])
            for r in raster_pipeline(
                images, level=L, chip_px=8, index=index
            ).collect()
        }
        got = {
            r["cell"]: (r["n_chips"], r["n_images"], r["sum_px"], r["avg_brightness"])
            for r in pyr
            if r["lvl"] == L
        }
        assert got == want, (index, L)


def test_raster_pyramid_rejects_h3(spark, images):
    from spatial4n_spark.operators.raster import raster_pipeline_pyramid

    with pytest.raises(ValueError, match="nest"):
        raster_pipeline_pyramid(images, index="h3")


BACKENDS = [("geohash", 4), ("s2", 8), ("h3", 7)]
_KEY = ["image_id", "chip_row", "chip_col"]


@pytest.fixture(scope="module")
def decoded(images):
    """(image_id, cell per backend, decoded pixels) of every image."""
    from spatial4n_spark.cellindex import cell_backend

    meta = images.select("image_id", "bytes", "w", "h", "fmt", "lon", "lat").toPandas()
    pixels = decode_image_batch(
        list(meta["bytes"]), meta["w"].to_numpy(), meta["h"].to_numpy(), list(meta["fmt"])
    )
    cells = {
        name: list(cell_backend(name).kernel(meta["lat"].to_numpy(), meta["lon"].to_numpy(), lvl))
        for name, lvl in BACKENDS
    }
    return list(meta["image_id"]), cells, pixels


def _chip_model(decoded, index: str, chip_px: int) -> pd.DataFrame:
    """Per-image, per-chip loop over the decoded pixels: the reference
    for the vectorized chip kernel (edge chips are cut, not padded)."""
    ids, cells, pixels = decoded
    rows = []
    for iid, cell, img in zip(ids, cells[index], pixels):
        for r0 in range(0, img.shape[0], chip_px):
            for c0 in range(0, img.shape[1], chip_px):
                chip = img[r0 : r0 + chip_px, c0 : c0 + chip_px]
                rows.append((
                    iid, cell, r0 // chip_px, c0 // chip_px, chip.shape[1],
                    chip.shape[0], int(chip.astype(np.int64).sum()), float(chip.mean()),
                ))
    cols = ["image_id", "cell", "chip_row", "chip_col", "chip_w", "chip_h",
            "chip_sum", "chip_mean"]
    return pd.DataFrame(rows, columns=cols)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(_KEY).reset_index(drop=True)


@pytest.mark.parametrize("chip_px", [5, 12])
@pytest.mark.parametrize("index,level", BACKENDS)
def test_edge_chips_match_numpy_model(spark, images, decoded, index, level, chip_px):
    """At chip sizes that do not divide the 8-32 px images, every chip —
    edge chips included — equals a per-chip numpy loop over the decoded
    pixels: integer columns and cells exactly, ``chip_mean`` bit-equal
    to both ``chip_sum / (w * h * 3)`` and the chip's float mean."""
    got = _sorted(tile_images(images, level, chip_px, index=index).toPandas())
    want = _sorted(_chip_model(decoded, index, chip_px))
    assert len(got) == len(want)
    assert (got["chip_w"] < chip_px).any() and (got["chip_h"] < chip_px).any()
    for c in ["image_id", "cell", "chip_row", "chip_col", "chip_w", "chip_h", "chip_sum"]:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    ratio = got["chip_sum"] / (got["chip_w"] * got["chip_h"] * 3)
    assert (got["chip_mean"].to_numpy() == ratio.to_numpy()).all()
    assert (got["chip_mean"].to_numpy() == want["chip_mean"].to_numpy()).all()


@pytest.mark.parametrize("chip_px", [5, 12])
def test_tile_images_multi_equals_each_backend(spark, images, chip_px):
    """tile_images_multi's rows for each backend are tile_images' rows
    for that backend with the cell cast to string."""
    multi = tile_images_multi(images, BACKENDS, chip_px=chip_px, min_psnr_db=40.0).toPandas()
    assert sorted(multi["backend"].unique()) == sorted(b for b, _ in BACKENDS)
    for name, lvl in BACKENDS:
        one = tile_images(images, lvl, chip_px, min_psnr_db=40.0, index=name).toPandas()
        one["cell"] = one["cell"].astype(str)
        part = multi[multi["backend"] == name].drop(columns="backend")
        assert _sorted(part).equals(_sorted(one)), name
