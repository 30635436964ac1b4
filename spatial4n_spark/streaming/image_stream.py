"""Structured-Streaming raster ingest: the stream twin of the fused
image pipeline (decode -> PSNR/caption gate -> chip -> per-cell mosaic)
over a stream of image rows (binary payload + metadata, the
BASELINE.json input_hint schema plus an event timestamp).

Design mirrors the batch operators exactly:
- the decode/gate/chip stage is the SAME Arrow chunk kernel
  (operators.raster._tile_chunk) run through ``mapInArrow`` — stateless,
  so Structured Streaming applies it per micro-batch with no state; the
  kernel returns each chip's source row, and the chip takes that row's
  event timestamp;
- the only stateful operator is the watermarked windowed groupBy on
  (window, cell) — bounded-cardinality keys, exact integer partial sums
  (order-independent, so stream results are bit-equal to batch);
- payload bytes never cross a second Arrow boundary and never enter the
  state store: only per-chip integer aggregates reach the shuffle.

At design scale the source is a Kafka/Iceberg-CDC feed of image rows;
here a file-source parquet stream stands in (same unbounded semantics).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from spatial4n_spark.sources.images import IMAGES_SCHEMA

IMAGES_TS_SCHEMA = IMAGES_SCHEMA + ", ts timestamp"
CHIPS_TS_SCHEMA = (
    "image_id string, cell string, chip_row int, chip_col int, "
    "chip_w int, chip_h int, chip_sum long, chip_mean double, ts timestamp"
)


def images_as_stream(
    spark: SparkSession, images_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over parquet image files (payload + ts)."""
    return (
        spark.readStream.schema(IMAGES_TS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(images_dir)
    )


def streaming_image_chips(
    stream: DataFrame,
    level: int = 4,
    chip_px: int = 8,
    min_psnr_db: float | None = 40.0,
) -> DataFrame:
    """Stateless decode -> gate -> chip of an image stream.

    Emits one row per chip with its image's event timestamp attached
    (chips inherit their image's ts for downstream windowing). Runs the
    batch Arrow kernel unchanged per micro-batch.
    """
    from spatial4n_spark.operators.raster import _chunks, _tile_chunk

    def run(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for chunk in _chunks(it):
            chips, src = _tile_chunk(chunk, level, chip_px, min_psnr_db)
            # by source row, not by image_id: a replayed stream record
            # shares its id but keeps its own event time
            yield pa.RecordBatch.from_arrays(
                chips.columns + [chunk.column("ts").take(src)],
                chips.schema.names + ["ts"],
            )

    return stream.mapInArrow(run, CHIPS_TS_SCHEMA)


def streaming_image_mosaics(
    stream: DataFrame,
    level: int = 4,
    chip_px: int = 8,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked windowed per-cell mosaic aggregation of an image stream.

    Returns (window, cell, n_chips, n_images, sum_px, sum_val) — all
    exact integer sums, so a finalized window is bit-equal to the batch
    mosaic over the same frames.
    """
    chips = streaming_image_chips(stream, level=level, chip_px=chip_px)
    return (
        chips.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("window"), F.col("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_chips"),
            F.sum(((F.col("chip_row") == 0) & (F.col("chip_col") == 0)).cast("long")).alias(
                "n_images"
            ),
            F.sum(F.col("chip_w") * F.col("chip_h")).alias("sum_px"),
            F.sum("chip_sum").alias("sum_val"),
        )
    )
