"""Add-column schema evolution on the clustered layout
(io/clustered.py) — the Iceberg analog: the table schema lives in the
MANIFEST, grows by name-matched merge on append/upsert, and every read
surface (pruned scans, full reads, time travel) answers with the
schema of the snapshot it reads."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spatial4n_spark.io import clustered as C
from spatial4n_spark.suite import pts_orders


@pytest.fixture()
def evolved(spark, sf_dir, tmp_path):
    """snapshot 1 = base (o_orderkey, lon, lat); snapshot 2 = append of
    100 rows carrying a NEW 'tag' column."""
    path = str(tmp_path / "evo")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=14, files=4)
    batch = (
        pts.limit(100)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10**10).cast("long"))
        .withColumn("tag", F.lit("new"))
    )
    C.append_clustered(batch, path, files=1)
    return path, pts


def test_added_column_reads_null_for_old_rows(spark, evolved):
    _check_added_column_reads_null_for_old_rows(spark, evolved)


def test_added_column_reads_null_for_old_rows_spark_path(spark, evolved, monkeypatch):
    # the radius read through the Spark scan instead of the driver
    monkeypatch.setattr(C, "_LOCAL_READ_ROWS", 0)
    _check_added_column_reads_null_for_old_rows(spark, evolved)


def _check_added_column_reads_null_for_old_rows(spark, evolved):
    path, pts = evolved
    cur = C._read_listed(spark, path)
    assert cur.columns[-2:] == [C.CELL_COL, "tag"]  # appended at the end
    n = pts.count()
    assert cur.count() == n + 100
    assert cur.where(F.col("tag").isNull()).count() == n
    assert cur.where(F.col("tag") == "new").count() == 100
    # the pruned read surface agrees (radius query plans over read_pruned)
    got = C.clustered_radius_query(spark, path, 2.3125, 48.875, 150.0)
    assert "tag" in got.columns
    rows = got.collect()
    assert rows and all((r["tag"] == "new") == (r["o_orderkey"] >= 10**10) for r in rows)


def test_history_keeps_its_original_shape(spark, evolved):
    path, pts = evolved
    # time travel to snapshot 1: pre-evolution schema, no 'tag'
    old = C._read_listed(spark, path, snapshot_id=1)
    assert "tag" not in old.columns and old.count() == pts.count()
    # rollback restores the pre-evolution schema as new lineage
    C.rollback_clustered(path, 1)
    assert "tag" not in C._read_listed(spark, path).columns


def test_type_change_is_an_error_not_a_coercion(spark, evolved):
    path, pts = evolved
    bad = pts.limit(5).withColumn("o_orderkey", F.col("o_orderkey").cast("int"))
    with pytest.raises(ValueError, match="adding columns, not changing"):
        C.append_clustered(bad, path, files=1)


def test_batch_may_omit_columns(spark, evolved):
    path, pts = evolved
    thin = (
        pts.limit(7)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(2 * 10**10).cast("long"))
        .select("o_orderkey", "lon", "lat")  # no 'tag'
    )
    C.append_clustered(thin, path, files=1)
    cur = C._read_listed(spark, path)
    assert "tag" in cur.columns
    assert cur.where(F.col("o_orderkey") >= 2 * 10**10).where(
        F.col("tag").isNull()
    ).count() == 7


def test_compaction_materializes_evolved_columns(spark, evolved):
    path, pts = evolved
    before = C._read_listed(spark, path)
    want_tagged = before.where(F.col("tag") == "new").count()
    C.compact_clustered(spark, path, files=4)
    man = C.load_manifest(path)
    for e in man["files"]:  # every post-compaction footer has the column
        names = pq.ParquetFile(os.path.join(path, e["file"])).schema.names
        assert "tag" in names
    cur = C._read_listed(spark, path)
    assert cur.count() == pts.count() + 100
    assert cur.where(F.col("tag") == "new").count() == want_tagged
