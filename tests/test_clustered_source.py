"""Structured Streaming source over the clustered table's snapshot
lineage (streaming/clustered_source.py) — the Iceberg streaming-read
analog.

Offsets are snapshot ids; each micro-batch reads exactly the files the
covered commits appended; Spark's checkpointed offset log gives
exactly-once across stream restarts (asserted as zero duplicates in a
cumulative file sink); replace (compaction) commits are skipped;
row-replacing commits fail the stream.
"""

import os

import pytest
from pyspark.sql import functions as F

from spatial4n_spark.io import clustered as C
from spatial4n_spark.streaming import read_clustered_stream
from spatial4n_spark.suite import pts_orders


def _drain(stream_df, out_dir, checkpoint):
    """Run the stream until everything available is consumed (parquet
    sink — the memory sink cannot recover from a checkpoint)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def _ids(spark, out_dir):
    """Cumulative o_orderkeys in the sink, WITH multiplicity — equality
    against a dedup-free expectation asserts exactly-once."""
    return sorted(
        r[0]
        for r in spark.read.parquet(out_dir).select("o_orderkey").collect()
    )


def _want(df):
    return sorted(r[0] for r in df.select("o_orderkey").collect())


def test_stream_reads_appends_exactly_once(spark, sf_dir, tmp_path):
    path, out, ckpt = (
        str(tmp_path / "tbl"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    pts = pts_orders(spark, sf_dir)
    thirds = [pts.where(F.col("o_orderkey") % 3 == i) for i in range(3)]
    C.write_clustered(thirds[0], path, level=14, files=4)
    C.append_clustered(thirds[1], path, files=2)

    # batch 1: the initial write is the seed batch, plus the append
    _drain(read_clustered_stream(spark, path), out, ckpt)
    assert _ids(spark, out) == _want(thirds[0].unionAll(thirds[1]))

    # restart with nothing new: the checkpointed offset re-reads NOTHING
    _drain(read_clustered_stream(spark, path), out, ckpt)
    assert _ids(spark, out) == _want(thirds[0].unionAll(thirds[1]))

    # append while the stream is down; the restart resumes from the
    # checkpointed snapshot offset and delivers ONLY the new commit —
    # multiplicity-sensitive equality proves zero duplicates
    C.append_clustered(thirds[2], path, files=2)
    _drain(read_clustered_stream(spark, path), out, ckpt)
    assert _ids(spark, out) == _want(pts)


def test_stream_skips_compaction_and_fails_on_row_replacing(
    spark, sf_dir, tmp_path
):
    path, out, ckpt = (
        str(tmp_path / "tbl"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    pts = pts_orders(spark, sf_dir)
    half = [pts.where(F.col("o_orderkey") % 2 == i) for i in range(2)]
    C.write_clustered(half[0], path, level=14, files=4)
    _drain(read_clustered_stream(spark, path), out, ckpt)
    assert _ids(spark, out) == _want(half[0])

    # compaction (replace) reorganizes existing rows: skipped entirely,
    # so the cumulative sink shows no re-delivery of the seed
    C.compact_clustered(spark, path, files=2)
    C.append_clustered(half[1], path, files=2)
    _drain(read_clustered_stream(spark, path), out, ckpt)
    assert _ids(spark, out) == _want(pts)

    # a row-replacing commit (delete) fails the stream loudly
    C.delete_clustered(spark, path, predicate=(F.col("o_orderkey") % 5 == 0))
    with pytest.raises(Exception, match="not expressible as appended"):
        _drain(read_clustered_stream(spark, path), out, ckpt)


def test_stream_st_layout(spark, sf_dir, tmp_path):
    """A day-partitioned table streams through the same source (the
    manifest carries the day spec): day-directory files, same
    snapshot-id offsets, and every row's ``_day`` is the day of the
    directory its file lives in."""
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1704067200)
            + (F.col("o_orderkey") % 4) * 86400
            + F.col("o_orderkey") % 977
        ).cast("timestamp_ntz"),
    )
    half = [pts.where(F.col("o_orderkey") % 2 == i) for i in range(2)]
    path, out, ckpt = (
        str(tmp_path / "st"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    C.write_clustered(half[0], path, level=14, files=4, day_of="ts")
    _drain(read_clustered_stream(spark, path), out, ckpt)
    assert _ids(spark, out) == _want(half[0])
    # restart picks up only the new commit, across day directories
    C.append_clustered(half[1], path, files=2)
    _drain(read_clustered_stream(spark, path), out, ckpt)
    assert _ids(spark, out) == _want(pts)
    import pyarrow.parquet as pq

    file_day = {
        k: e["day"]
        for e in C.load_manifest(path)["files"]
        for k in pq.read_table(
            os.path.join(path, e["file"]), columns=["o_orderkey"]
        )["o_orderkey"].to_pylist()
    }
    streamed = spark.read.parquet(out).select("o_orderkey", C.DAY_COL).collect()
    assert {r[0]: r[1] for r in streamed} == file_day and len(file_day) == len(streamed)


def test_stream_from_snapshot_and_schema_evolution(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    pts = pts_orders(spark, sf_dir)
    half = [pts.where(F.col("o_orderkey") % 2 == i) for i in range(2)]
    C.write_clustered(half[0], path, level=14, files=4)
    # evolve: the second batch carries a new column
    C.append_clustered(
        half[1].withColumn("flag", F.lit("new")), path, files=2
    )

    # fromSnapshot=1 skips the seed: only the append streams
    out1, ck1 = str(tmp_path / "out1"), str(tmp_path / "ck1")
    src = read_clustered_stream(spark, path, from_snapshot=1)
    assert "flag" in src.columns  # current (evolved) schema
    _drain(src, out1, ck1)
    rows = spark.read.parquet(out1).select("o_orderkey", "flag").collect()
    assert sorted(r["o_orderkey"] for r in rows) == _want(half[1])
    assert {r["flag"] for r in rows} == {"new"}

    # a fresh full read streams pre-evolution files with flag = NULL
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    _drain(read_clustered_stream(spark, path), out2, ck2)
    rows = spark.read.parquet(out2).select("o_orderkey", "flag").collect()
    assert sorted(r["o_orderkey"] for r in rows) == _want(pts)
    seed = set(_want(half[0]))
    assert all(
        (r["flag"] is None) == (r["o_orderkey"] in seed) for r in rows
    )
