"""Merge-on-read (position-delete) row-level DELETE on the clustered
layout (io/clustered.py, ``delete_clustered(strategy='mor')``) — the
Iceberg MOR delete-file analog beside the existing copy-on-write path.

Contract under test:
- a MOR delete rewrites NO data file: manifest data entries survive
  byte-verbatim (mtimes included), only a position-delete file under
  ``_deletes/`` plus one snapshot commit land;
- every reader (pruned scan, full scan, radius query, kNN candidates)
  applies the pending set — results equal the COW-deleted twin;
- overlapping deletes never double-count; COW rewrites and upserts over
  files with pending deletes never resurrect rows;
- compaction MATERIALIZES pending deletes (rewrites live rows, retires
  the delete entries) while snapshot isolation keeps the delete files
  on disk until ``expire_snapshots``;
- rollback across a MOR delete restores the pending set verbatim;
- incremental scans refuse to cross a MOR delete commit (its row-level
  effect is not appended rows).
"""

import os

import pytest
from pyspark.sql import functions as F

from spatial4n_spark.functions.native import haversine_km
from spatial4n_spark.io import clustered as C
from spatial4n_spark.suite import pts_orders

QLON, QLAT, R_KM = 2.3125, 48.875, 150.0
DEL_LO = 4_000_000_000


def _ids(df):
    return sorted(r[0] for r in df.select("o_orderkey").collect())


def _radius_ids(spark, path, snapshot_id=None):
    out = C.clustered_radius_query(
        spark, path, QLON, QLAT, R_KM, snapshot_id=snapshot_id
    )
    return _ids(out)


@pytest.fixture(scope="module")
def table(spark, sf_dir, tmp_path_factory):
    """snapshot 1 = base + decoys (decoys = every point duplicated with
    keys shifted into [4e9, ...) — inside every query circle), snapshot
    2 = MOR delete of exactly the decoys."""
    path = str(tmp_path_factory.mktemp("mor"))
    pts = pts_orders(spark, sf_dir)
    decoys = pts.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(DEL_LO).cast("long")
    )
    C.write_clustered(pts.unionAll(decoys), path, level=14, files=8)
    man = C.delete_clustered(
        spark, path, F.col("o_orderkey") >= DEL_LO, strategy="mor"
    )
    return path, pts, man


def test_mor_delete_rewrites_nothing(spark, table):
    path, _, man = table
    pre = C.load_manifest(path, snapshot_id=1)
    # data entries byte-verbatim, bytes untouched on disk
    assert man["files"] == pre["files"]
    assert man["summary"]["rewritten_files"] == 0
    assert man["summary"]["added_files"] == 0
    dels = man["deletes"]
    assert len(dels) == 1 and dels[0]["rows"] > 0
    assert dels[0]["file"].startswith(C.DELETE_DIR + os.sep)
    assert os.path.isdir(os.path.join(path, dels[0]["file"]))
    # targets are a subset of the table's data files
    names = {e["file"] for e in man["files"]}
    assert set(dels[0]["targets"]) <= names


def test_every_reader_applies_pending_deletes(spark, table):
    _check_every_reader_applies_pending_deletes(spark, table)


def test_every_reader_applies_pending_deletes_spark_path(spark, table, monkeypatch):
    # the radius read through the Spark scan instead of the driver
    monkeypatch.setattr(C, "_LOCAL_READ_ROWS", 0)
    _check_every_reader_applies_pending_deletes(spark, table)


def _check_every_reader_applies_pending_deletes(spark, table):
    path, pts, _ = table
    want = _ids(
        pts.where(
            haversine_km(F.col("lon"), F.col("lat"), F.lit(QLON), F.lit(QLAT))
            <= F.lit(R_KM)
        )
    )
    assert _radius_ids(spark, path) == want  # pruned radius read
    full = C._read_listed(spark, path)  # full-scan surface
    assert full.count() == pts.count()
    assert full.where(F.col("o_orderkey") >= DEL_LO).count() == 0
    scan = C.clustered_scan(  # generic stats-pruned scan
        spark, path, {"o_orderkey": (DEL_LO - 10, DEL_LO + 10**12)}
    )
    assert scan.count() == 0


def test_snapshot_isolation_and_travel(spark, table):
    _check_snapshot_isolation_and_travel(spark, table)


def test_snapshot_isolation_and_travel_spark_path(spark, table, monkeypatch):
    monkeypatch.setattr(C, "_LOCAL_READ_ROWS", 0)
    _check_snapshot_isolation_and_travel(spark, table)


def _check_snapshot_isolation_and_travel(spark, table):
    path, pts, _ = table
    # time travel to the pre-delete snapshot sees the decoys
    pre = C._read_listed(spark, path, snapshot_id=1)
    assert pre.count() == 2 * pts.count()
    # and the pruned radius read at snapshot 1 returns both row sets
    got = _radius_ids(spark, path, snapshot_id=1)
    live = _radius_ids(spark, path)
    assert got == sorted(live + [i + DEL_LO for i in live])


def test_overlapping_mor_deletes_do_not_double_count(spark, table, tmp_path):
    path, pts, man = table
    # a second MOR delete over a SUPERSET predicate must only count
    # rows still live (zero here: all >= DEL_LO rows already deleted)
    m2 = C.delete_clustered(
        spark, path, F.col("o_orderkey") >= DEL_LO - 0, strategy="mor"
    )
    assert m2.get("noop") is True
    assert int(C.load_manifest(path)["snapshot_id"]) == int(man["snapshot_id"])


def test_cow_rewrite_over_pending_deletes_never_resurrects(
    spark, sf_dir, tmp_path_factory
):
    path = str(tmp_path_factory.mktemp("morcow"))
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=14, files=4)
    n = pts.count()
    # MOR-delete keys % 10 == 0, then COW-delete keys % 10 == 1: the
    # COW rewrite scans files that also hold pending MOR positions
    C.delete_clustered(spark, path, F.col("o_orderkey") % 10 == 0, strategy="mor")
    C.delete_clustered(spark, path, F.col("o_orderkey") % 10 == 1, strategy="cow")
    man = C.load_manifest(path)
    live = C._read_listed(spark, path)
    assert live.where(F.col("o_orderkey") % 10 <= 1).count() == 0
    want = pts.where(F.col("o_orderkey") % 10 >= 2).count()
    assert live.count() == want
    # the rewritten files carry no pending deletes; targets pruned to
    # surviving (untouched) files only
    names = {e["file"] for e in man["files"]}
    for d in man["deletes"]:
        assert set(d["targets"]) <= names


def test_upsert_over_pending_deletes_never_resurrects(
    spark, sf_dir, tmp_path_factory
):
    path = str(tmp_path_factory.mktemp("morup"))
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=14, files=4)
    C.delete_clustered(spark, path, F.col("o_orderkey") % 10 == 0, strategy="mor")
    # upsert batch: move every key % 10 == 1 row east by 1 degree
    batch = (
        pts.where(F.col("o_orderkey") % 10 == 1)
        .withColumn("lon", F.col("lon") + F.lit(1.0))
    )
    C.upsert_clustered(spark, batch, path, key="o_orderkey")
    live = C._read_listed(spark, path)
    assert live.where(F.col("o_orderkey") % 10 == 0).count() == 0
    assert live.count() == pts.where(F.col("o_orderkey") % 10 != 0).count()


def test_compaction_materializes_and_expire_reclaims(
    spark, sf_dir, tmp_path_factory
):
    path = str(tmp_path_factory.mktemp("morcmp"))
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=14, files=4)
    C.delete_clustered(spark, path, F.col("o_orderkey") % 7 == 0, strategy="mor")
    dfile = C.load_manifest(path)["deletes"][0]["file"]
    want = pts.where(F.col("o_orderkey") % 7 != 0).count()
    C.compact_clustered(spark, path, files=2)
    man = C.load_manifest(path)
    assert man["deletes"] == []  # materialized
    assert C._read_listed(spark, path).count() == want
    # snapshot isolation: the delete file survives compaction's sweep
    # while the MOR snapshot is retained...
    assert os.path.isdir(os.path.join(path, dfile))
    got = C._read_listed(spark, path, snapshot_id=2).count()
    assert got == want  # history still answers with deletes applied
    # ...and only expire reclaims it
    res = C.expire_snapshots(path, keep_last=1)
    assert dfile in res["removed_files"]
    assert not os.path.isdir(os.path.join(path, dfile))
    assert C._read_listed(spark, path).count() == want


def test_rollback_restores_the_pending_set(spark, table):
    path, pts, man = table
    sid = int(man["snapshot_id"])
    C.rollback_clustered(path, 1)  # pre-delete: decoys back
    assert C._read_listed(spark, path).count() == 2 * pts.count()
    C.rollback_clustered(path, sid)  # re-delete via the SAME delete file
    cur = C.load_manifest(path)
    assert cur["deletes"] == man["deletes"]
    assert C._read_listed(spark, path).count() == pts.count()


def test_incremental_scan_refuses_to_cross_mor_delete(spark, table):
    path = table[0]
    with pytest.raises(ValueError, match="delete"):
        C.incremental_scan(spark, path, 0, 2)


@pytest.fixture(scope="module")
def eq_table(spark, sf_dir, tmp_path_factory):
    """A table MOR-upserted twice with the SAME key set (keys %10==1
    moved east by 1 then by 2 degrees) — the equality-delete chain."""
    path = str(tmp_path_factory.mktemp("eq"))
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=14, files=4)
    b1 = pts.where(F.col("o_orderkey") % 10 == 1).withColumn(
        "lon", F.col("lon") + F.lit(1.0)
    )
    m1 = C.upsert_clustered(spark, b1, path, key="o_orderkey", strategy="mor")
    b2 = pts.where(F.col("o_orderkey") % 10 == 1).withColumn(
        "lon", F.col("lon") + F.lit(2.0)
    )
    C.upsert_clustered(spark, b2, path, key="o_orderkey", strategy="mor")
    return path, pts, m1


def test_eq_upsert_scans_nothing_and_replaces_by_key(spark, eq_table):
    path, pts, m1 = eq_table
    assert m1["summary"]["strategy"] == "mor"
    assert m1["summary"]["rewritten_files"] == 0
    # the base files survive byte-verbatim in the manifest
    base = {e["file"] for e in C.load_manifest(path, snapshot_id=1)["files"]}
    cur = {e["file"] for e in C.load_manifest(path)["files"]}
    assert base <= cur
    live = C._read_listed(spark, path)
    assert live.count() == pts.count()  # replaced, not duplicated
    moved = {
        (r["o_orderkey"], r["lon"])
        for r in live.where(F.col("o_orderkey") % 10 == 1).collect()
    }
    want = {
        (r["o_orderkey"], r["lon"] + 2.0)  # the SECOND upsert wins
        for r in pts.where(F.col("o_orderkey") % 10 == 1).collect()
    }
    assert moved == want


def test_eq_delete_respects_targets_reinsert_survives(spark, eq_table):
    # the second upsert's keys equal the first's: if the eq anti-join
    # ignored its target list, the second batch's own rows would be
    # killed by the first delete file — count proves they survive
    path, pts, _ = eq_table
    man = C.load_manifest(path)
    eqs = [d for d in man["deletes"] if d["kind"] == "eq"]
    assert len(eqs) == 2
    names = {e["file"] for e in man["files"]}
    for d in eqs:
        assert set(d["targets"]) <= names
    # first upsert's data files ARE targeted by the second's eq file
    snap2 = {e["file"] for e in C.load_manifest(path, snapshot_id=2)["files"]}
    first_batch_files = snap2 - {
        e["file"] for e in C.load_manifest(path, snapshot_id=1)["files"]
    }
    assert first_batch_files <= set(eqs[1]["targets"])


def test_eq_chain_compacts_and_time_travels(spark, eq_table):
    path, pts, _ = eq_table
    # travel to snapshot 2: first upsert applied, second not
    mid = C._read_listed(spark, path, snapshot_id=2)
    got = {
        (r["o_orderkey"], r["lon"])
        for r in mid.where(F.col("o_orderkey") % 10 == 1).collect()
    }
    want = {
        (r["o_orderkey"], r["lon"] + 1.0)
        for r in pts.where(F.col("o_orderkey") % 10 == 1).collect()
    }
    assert got == want
    before = C._read_listed(spark, path)
    rows, cnt = sorted(map(tuple, before.collect())), before.count()
    C.compact_clustered(spark, path, files=2)
    man = C.load_manifest(path)
    assert man["deletes"] == []
    after = C._read_listed(spark, path)
    assert after.count() == cnt
    assert sorted(map(tuple, after.select(*before.columns).collect())) == rows


def test_stream_upsert_cdc_equals_batch_and_replay_is_idempotent(
    spark, sf_dir, tmp_path
):
    """Streaming CDC MERGE (streaming/clustered_sink.py::
    stream_upsert_to_clustered, strategy='mor'): micro-batches of key
    moves applied in order equal the same upserts applied in batch; a
    replayed stream (lost checkpoint) changes nothing (ledger + MOR
    row-set idempotence); compaction retires the pending chain."""
    import shutil

    from spatial4n_spark.streaming.clustered_sink import (
        stream_upsert_to_clustered,
    )

    pts = pts_orders(spark, sf_dir)
    table = str(tmp_path / "table")
    C.write_clustered(pts, table, level=14, files=4)

    # CDC source: two change files (forced into separate micro-batches)
    # moving DISJOINT key sets east by 1 and 2 degrees
    src = str(tmp_path / "cdc")
    c1 = pts.where(F.col("o_orderkey") % 10 == 3).withColumn(
        "lon", F.col("lon") + F.lit(1.0)
    )
    c2 = pts.where(F.col("o_orderkey") % 10 == 4).withColumn(
        "lon", F.col("lon") + F.lit(2.0)
    )
    c1.coalesce(1).write.parquet(src)
    c2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_upsert_to_clustered(
        stream, table, str(tmp_path / "ckpt"), key="o_orderkey"
    )
    q.awaitTermination(300)

    def snapshot_rows():
        return sorted(
            map(tuple, C._read_listed(spark, table).drop(C.CELL_COL).collect())
        )

    want = sorted(
        map(
            tuple,
            pts.where(F.col("o_orderkey") % 10 != 3)
            .where(F.col("o_orderkey") % 10 != 4)
            .unionAll(c1)
            .unionAll(c2)
            .collect(),
        )
    )
    got = snapshot_rows()
    assert got == want

    # replay: lost streaming checkpoint, same table -> ledger dedupes
    shutil.rmtree(str(tmp_path / "ckpt"))
    stream2 = (
        spark.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sid = int(C.load_manifest(table)["snapshot_id"])
    q2 = stream_upsert_to_clustered(
        stream2, table, str(tmp_path / "ckpt"), key="o_orderkey"
    )
    q2.awaitTermination(300)
    assert int(C.load_manifest(table)["snapshot_id"]) == sid
    assert snapshot_rows() == want

    # compaction retires the pending eq chain, same rows
    C.compact_clustered(spark, table, files=4)
    assert C.load_manifest(table)["deletes"] == []
    assert snapshot_rows() == want


def test_delete_files_metadata_table(spark, eq_table):
    # runs AFTER the compaction test on the shared table: current state
    # has an empty pending set, history keeps the chain — both visible
    # through the metadata table
    path = eq_table[0]
    assert C.delete_files_df(spark, path).count() == 0  # post-compact
    assert C.delete_files_df(spark, path, snapshot_id=1).count() == 0
    rows = C.delete_files_df(spark, path, snapshot_id=3).collect()
    assert len(rows) == 2  # both eq-upsert commits pending at snapshot 3
    assert all(r["kind"] == "eq" and r["key"] == "o_orderkey" for r in rows)
    assert all(r["rows"] > 0 and r["n_targets"] > 0 for r in rows)
