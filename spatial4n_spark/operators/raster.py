"""Raster <-> vector stage: batched image decode, PSNR/caption gates,
cell-aligned chipping, per-cell mosaic aggregation (SURVEY.md §2.9).

Everything runs through ``mapInArrow`` — whole Arrow batches in, numpy
kernels over same-size image stacks inside, Arrow batches out; no
per-row Python UDF calls (BASELINE.json input_hint). Per-batch memory is
bounded by chunking (SURVEY.md §4.2 spill-aware requirement): decode
never materializes more than ``CHUNK_ROWS`` images at once.

One chunk kernel serves every surface. ``_chip_chunk`` decodes a chunk
once, runs the gate once, and chips every size group the same way
(zero-pad to a multiple of ``chip_px``, reshape, int64 sums); it returns
each chip's source row, so ``tile_images``, ``tile_images_multi`` and
the streaming twin (streaming.image_stream) read the image id, cells and
timestamps with one Arrow ``take``. ``decode_check`` runs the same
decode and gate without chipping.

Correctness gates (input_hint):
- decoded-pixel invariant: PSNR vs the reference pixels >= 40 dB for the
  lossy format, exact (inf dB, reported as 999) for lossless formats;
- caption equality: byte-exact against the expected caption.

The reference pixels come from the deterministic source generator
(sources.images) — the stand-in for a reference decoder at design scale.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F

from spatial4n_spark.sources.images import decode_image_batch

PSNR_CAP_DB = 999.0  # reported PSNR for exact (mse=0) reconstructions
CHUNK_ROWS = 4096  # images decoded at once per Arrow batch slice


def _psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return PSNR_CAP_DB
    return float(10.0 * np.log10(255.0 * 255.0 / mse))


def _reference_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Reference decode for the PSNR gate (deterministic source pixels)."""
    from spatial4n_spark.sources.images import _mix64

    i = int(image_id[3:])
    npix = w * h * 3
    pix = _mix64(np.arange(npix, dtype=np.uint64) + np.uint64(i) * np.uint64(0x1F123))
    return (pix & np.uint64(0xFF)).astype(np.uint8).reshape(h, w, 3)


def _reference_pixels_batch(nums: np.ndarray, w: int, h: int) -> np.ndarray:
    """Vectorized reference pixels for k same-size images (uint64 image
    numbers) -> (k, h, w, 3)."""
    from spatial4n_spark.sources.images import _mix64

    npix = w * h * 3
    idx = nums[:, None] * np.uint64(0x1F123) + np.arange(npix, dtype=np.uint64)[None, :]
    pix = _mix64(idx)
    return (pix & np.uint64(0xFF)).astype(np.uint8).reshape(len(nums), h, w, 3)


def _psnr_batch(imgs: np.ndarray, refs: np.ndarray) -> np.ndarray:
    """(k,h,w,3) x2 -> per-image PSNR dB. Integer error sums are exact in
    float64, so this equals the scalar path bit-for-bit."""
    err = imgs.astype(np.float64) - refs.astype(np.float64)
    mse = np.mean(err * err, axis=(1, 2, 3))
    out = np.full(len(imgs), PSNR_CAP_DB)
    nz = mse > 0.0
    out[nz] = 10.0 * np.log10(255.0 * 255.0 / mse[nz])
    return out


def _chunks(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in it:
        for s in range(0, batch.num_rows, CHUNK_ROWS):
            yield batch.slice(s, CHUNK_ROWS)


def _cells(chunk: pa.RecordBatch, index: str, level: int) -> pa.Array:
    """One cell per row of ``chunk`` (string geohash, int64 s2/h3)."""
    from spatial4n_spark.cellindex import cell_backend

    backend = cell_backend(index)
    lat, lon = chunk.column("lat").to_numpy(), chunk.column("lon").to_numpy()
    return pa.array(backend.kernel(lat, lon, level), backend.arrow_type())


def _size_groups(chunk: pa.RecordBatch) -> list[tuple[np.ndarray, np.ndarray]]:
    """Decode one chunk -> [(rows, (k, h, w, 3) uint8 stack)], one entry
    per distinct image size, rows ascending within each group."""
    w = chunk.column("w").to_numpy()
    h = chunk.column("h").to_numpy()
    decoded = decode_image_batch(
        chunk.column("bytes").to_pylist(), w, h, chunk.column("fmt").to_pylist()
    )
    groups = []
    for gw, gh in np.unique(np.stack([w, h], axis=1), axis=0):
        sel = np.flatnonzero((w == gw) & (h == gh))
        groups.append((sel, np.stack([decoded[k] for k in sel])))
    return groups


def _gate(
    chunk: pa.RecordBatch, groups: list[tuple[np.ndarray, np.ndarray]]
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row PSNR against the reference pixels and byte-exact caption
    equality for one decoded chunk."""
    nums = pc.cast(pc.utf8_slice_codeunits(chunk.column("image_id"), 3), pa.uint64())
    nums_np = nums.to_numpy()
    psnr = np.empty(chunk.num_rows, dtype=np.float64)
    for sel, imgs in groups:
        _, gh, gw, _ = imgs.shape
        psnr[sel] = _psnr_batch(imgs, _reference_pixels_batch(nums_np[sel], gw, gh))
    # "%.4f" is float.__format__(".4f"), the generator's f-string format
    expect = pc.binary_join_element_wise(
        "caption for img",
        pc.cast(nums, pa.string()),
        " at ",
        pa.array(np.char.mod("%.4f", chunk.column("lat").to_numpy())),
        ",",
        pa.array(np.char.mod("%.4f", chunk.column("lon").to_numpy())),
        "",
    )
    cap_ok = pc.equal(chunk.column("caption"), expect).fill_null(False)
    return psnr, cap_ok.to_numpy(zero_copy_only=False)


DECODE_CHECK_SCHEMA = (
    "image_id string, fmt string, cell string, psnr_db double, "
    "caption_ok boolean, mean_px double"
)


def _check_chunk(chunk: pa.RecordBatch, level: int) -> pa.RecordBatch:
    """Decode + PSNR/caption gate of one Arrow chunk -> result batch."""
    groups = _size_groups(chunk)
    psnr, cap_ok = _gate(chunk, groups)
    # exact integer sum / pixel count: bit-equal to a float64 mean
    mean_px = np.empty(chunk.num_rows, dtype=np.float64)
    for sel, imgs in groups:
        mean_px[sel] = imgs.sum(axis=(1, 2, 3), dtype=np.int64) / imgs[0].size
    return pa.RecordBatch.from_arrays(
        [
            chunk.column("image_id"),
            chunk.column("fmt"),
            _cells(chunk, "geohash", level),
            pa.array(psnr, pa.float64()),
            pa.array(cap_ok, pa.bool_()),
            pa.array(mean_px, pa.float64()),
        ],
        names=["image_id", "fmt", "cell", "psnr_db", "caption_ok", "mean_px"],
    )


def decode_check(images: DataFrame, level: int = 4) -> DataFrame:
    """Decode every image, verify PSNR + caption invariants, assign a cell.

    Returns one row per image with the gate results — the validation stage
    of the raster pipeline (run it on samples at design scale).
    """

    def run(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for chunk in _chunks(it):
            yield _check_chunk(chunk, level)

    return images.mapInArrow(run, DECODE_CHECK_SCHEMA)


_CHIP_NAMES = ["chip_row", "chip_col", "chip_w", "chip_h", "chip_sum", "chip_mean"]


def _chip_chunk(
    chunk: pa.RecordBatch, chip_px: int, min_psnr_db: float | None
) -> tuple[pa.Array, list[pa.Array]]:
    """Decode + optional gate + chip of one Arrow chunk.

    Returns each chip's source row in ``chunk`` and the chip columns
    (``_CHIP_NAMES`` order). Chips are row-major per image; edge chips
    of sizes ``chip_px`` does not divide are smaller, and the zero
    padding that makes the reshape possible adds nothing to their sums.
    ``chip_mean`` is the exact integer sum over the chip's pixel count,
    bit-equal to a float64 mean of its pixels.
    """
    groups = _size_groups(chunk)
    if min_psnr_db is not None:
        psnr, cap_ok = _gate(chunk, groups)
        keep = (psnr >= min_psnr_db) & cap_ok
        groups = [(sel[keep[sel]], imgs[keep[sel]]) for sel, imgs in groups]
    # per size group: (src, row, col, w, h, sum), one entry per chip
    pieces = [(np.empty(0, np.int64),) * 6]
    for sel, imgs in groups:
        k, gh, gw, _ = imgs.shape
        if k == 0:
            continue
        nr, nc = -(-gh // chip_px), -(-gw // chip_px)
        if (nr * chip_px, nc * chip_px) != (gh, gw):
            imgs = np.pad(
                imgs, ((0, 0), (0, nr * chip_px - gh), (0, nc * chip_px - gw), (0, 0))
            )
        # exact integer pixel sums: the mosaic aggregate downstream is
        # order-independent, so results are bit-stable under any shuffle
        sums = imgs.reshape(k, nr, chip_px, nc, chip_px, 3).sum(
            axis=(2, 4, 5), dtype=np.int64
        )
        rows, cols = np.arange(nr), np.arange(nc)
        pieces.append((
            np.repeat(sel, nr * nc),
            np.tile(np.repeat(rows, nc), k),
            np.tile(cols, nr * k),
            np.tile(np.minimum(chip_px, gw - cols * chip_px), nr * k),
            np.tile(np.repeat(np.minimum(chip_px, gh - rows * chip_px), nc), k),
            sums.reshape(-1),
        ))
    src, row, col, cw, ch, csum = (np.concatenate(p) for p in zip(*pieces))
    return pa.array(src), [
        pa.array(row, pa.int32()),
        pa.array(col, pa.int32()),
        pa.array(cw, pa.int32()),
        pa.array(ch, pa.int32()),
        pa.array(csum, pa.int64()),
        pa.array(csum / (cw * ch * 3), pa.float64()),
    ]


CHIPS_SCHEMA = (
    "image_id string, cell string, chip_row int, chip_col int, "
    "chip_w int, chip_h int, chip_sum long, chip_mean double"
)
# s2/h3 backends: int64 cells instead of geohash strings
CHIPS_SCHEMA_S2 = CHIPS_SCHEMA.replace("cell string", "cell long")


def _chips_schema(index: str) -> str:
    return CHIPS_SCHEMA if index == "geohash" else CHIPS_SCHEMA_S2


def _tile_chunk(
    chunk: pa.RecordBatch,
    level: int,
    chip_px: int,
    min_psnr_db: float | None,
    index: str = "geohash",
) -> tuple[pa.RecordBatch, pa.Array]:
    """One chunk -> (chips batch in ``CHIPS_SCHEMA`` layout, source rows)."""
    src, chips = _chip_chunk(chunk, chip_px, min_psnr_db)
    head = [chunk.column("image_id").take(src), _cells(chunk, index, level).take(src)]
    return pa.RecordBatch.from_arrays(head + chips, ["image_id", "cell"] + _CHIP_NAMES), src


def tile_images(
    images: DataFrame,
    level: int = 4,
    chip_px: int = 8,
    min_psnr_db: float | None = None,
    index: str = "geohash",
) -> DataFrame:
    """Chip each decoded image into ``chip_px`` x ``chip_px`` raster chips,
    each tagged with the image's cell — the raster->vector tiling stage.

    Only per-chip aggregates leave the stage: pixel data never moves
    through the shuffle, which is the plan you want at 10^12 images.

    ``min_psnr_db`` fuses the decode gate (PSNR + caption) into this same
    pass: each image is decoded once and gated before chipping — no
    second decode, no per-image join against a gate table (which would be
    a 10^12-row join at design scale).
    """

    def run(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for chunk in _chunks(it):
            yield _tile_chunk(chunk, level, chip_px, min_psnr_db, index)[0]

    return images.mapInArrow(run, _chips_schema(index))


CHIPS_SCHEMA_MULTI = (
    "image_id string, backend string, cell string, chip_row int, "
    "chip_col int, chip_w int, chip_h int, chip_sum long, chip_mean double"
)


def tile_images_multi(
    images: DataFrame,
    backends: list[tuple[str, int]],
    chip_px: int = 8,
    min_psnr_db: float | None = None,
) -> DataFrame:
    """Chip each decoded image ONCE and tag every chip with EVERY cell
    backend's id (cast to string) under a ``backend`` column — the
    multi-index twin of tile_images.

    Decode is the expensive stage; the per-backend delta is one cheap
    cell-encode over per-IMAGE coordinates plus a duplicated aggregate
    row. Running the three backends through tile_images separately costs
    three full decode passes of the same 10^12-image table; this costs
    one. int64 cells become decimal strings — identical to SQL
    CAST(cell AS VARCHAR), so the per-backend oracles keep matching.
    """
    names = [b for b, _ in backends]

    def run(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for chunk in _chunks(it):
            src, chips = _chip_chunk(chunk, chip_px, min_psnr_db)
            rows = src.to_numpy()
            # backend b's cells sit at offset b * num_rows of the concat
            cells = pa.concat_arrays(
                [_cells(chunk, b, lvl).cast(pa.string()) for b, lvl in backends]
            )
            at = np.arange(len(names))[:, None] * chunk.num_rows + rows
            head = [
                chunk.column("image_id").take(pa.array(np.tile(rows, len(names)))),
                pa.array(np.repeat(names, len(rows)), pa.string()),
                cells.take(pa.array(at.ravel())),
            ]
            yield pa.RecordBatch.from_arrays(
                head + [pa.concat_arrays([c] * len(names)) for c in chips],
                ["image_id", "backend", "cell"] + _CHIP_NAMES,
            )

    return images.mapInArrow(run, CHIPS_SCHEMA_MULTI)


def _mosaic_aggs() -> list:
    """Per-group mosaic aggregates over chip rows: n_chips, n_images,
    sum_px, avg_brightness.

    n_images avoids countDistinct (which would expand the shuffle to one
    row per (cell, image) — the scaling bottleneck at 10^12 images): an
    image's chips all carry its single cell, so distinct images per cell
    == chips at grid position (0, 0). avg_brightness comes from exact
    integer partial sums and one final double division: order-independent,
    so bit-stable under any shuffle order — a float avg() over chip means
    would depend on reduction order.
    """
    px = F.sum(F.col("chip_w") * F.col("chip_h"))
    return [
        F.count(F.lit(1)).alias("n_chips"),
        F.sum(
            ((F.col("chip_row") == 0) & (F.col("chip_col") == 0)).cast("long")
        ).alias("n_images"),
        px.alias("sum_px"),
        (F.sum("chip_sum") / (px * F.lit(3))).alias("avg_brightness"),
    ]


def cell_mosaic_stats(chips: DataFrame) -> DataFrame:
    """Per-cell chip aggregation (the vector side of raster tiling).

    Map-side partial aggregation handles the hot-cell skew here (counts
    and sums are decomposable); at extreme skew use tiles.tile_stats-style
    explicit salting upstream.
    """
    return chips.groupBy("cell").agg(*_mosaic_aggs())


def raster_pipeline(
    images: DataFrame,
    level: int = 4,
    chip_px: int = 8,
    min_psnr_db: float = 40.0,
    index: str = "geohash",
) -> DataFrame:
    """decode -> PSNR/caption gate -> chip -> per-cell mosaic stats.

    One fused decode pass (gate inside tile_images), then a per-cell
    aggregation whose only shuffle carries small partial aggregates —
    images failing the gate are excluded at the source (at design scale
    they'd be routed to a quarantine table instead of dropped).
    """
    chips = tile_images(
        images, level, chip_px, min_psnr_db=min_psnr_db, index=index
    )
    return cell_mosaic_stats(chips)


def raster_pipeline_pyramid(
    images: DataFrame,
    level: int = 4,
    min_level: int = 1,
    chip_px: int = 8,
    min_psnr_db: float = 40.0,
    index: str = "geohash",
) -> DataFrame:
    """Multi-resolution raster overviews from ONE decode pass — the
    GDAL-overview / map-tile-pyramid analog of ``raster_pipeline``.

    The expensive stage (decode -> gate -> chip) runs once at the finest
    level; each chip row then explodes into its cell's ancestor chain
    (pure JVM parent expressions — geohash prefix, S2 bit-shift, same
    exact-nesting argument as ``tiles.tile_pyramid``) BEFORE the one
    aggregation, so every zoom level's mosaic stats come out of a single
    shuffle of partial sums.  Every aggregate stays an exact integer
    partial until the final division, so each level is bit-equal to
    running ``raster_pipeline`` directly at that level (pytest-pinned);
    ``n_images`` stays correct under rollup because an image's chips all
    carry one cell, so its single (0,0) chip counts it exactly once per
    ancestor.

    Returns (lvl, cell, n_chips, n_images, sum_px, avg_brightness).
    """
    if index not in ("geohash", "s2"):
        raise ValueError(
            f"raster pyramid needs exactly-nesting cells (geohash or "
            f"s2); h3 aperture-7 children only approximately nest, "
            f"got {index!r}"
        )
    if not 0 <= min_level <= level:
        raise ValueError(f"need 0 <= min_level <= level, got {min_level}, {level}")
    chips = tile_images(
        images, level, chip_px, min_psnr_db=min_psnr_db, index=index
    )
    lvls = F.array(*[F.lit(int(x)) for x in range(min_level, level + 1)])
    if index == "geohash":
        parent = F.expr("substring(cell, 1, lvl)")
    else:
        parent = F.expr(f"shiftright(cell, ({int(level)} - lvl) * 2)")
    exploded = chips.select(F.explode(lvls).alias("lvl"), "*").withColumn(
        "cell", parent
    )
    return exploded.groupBy("lvl", "cell").agg(*_mosaic_aggs())
