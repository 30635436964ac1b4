"""Snapshot versioning of the clustered layout (io/clustered.py) — the
Iceberg snapshot/time-travel/rollback/expire analog.

Every manifest commit lands an immutable snapshot file; readers can plan
against any retained snapshot; rollback is a new snapshot; compaction's
sweep respects snapshot references (isolation); expire_snapshots is the
only operation that reclaims readable history.
"""

import os

import pytest
from pyspark.sql import functions as F

from spatial4n_spark.functions.native import haversine_km
from spatial4n_spark.io import clustered as C
from spatial4n_spark.suite import pts_orders

QLON, QLAT, R_KM = 2.3125, 48.875, 150.0


def _radius_ids(spark, path, snapshot_id=None):
    out = C.clustered_radius_query(
        spark, path, QLON, QLAT, R_KM, snapshot_id=snapshot_id
    )
    return sorted(r[0] for r in out.select("o_orderkey").collect())


def _want_ids(pts):
    return sorted(
        r[0]
        for r in pts.where(
            haversine_km(F.col("lon"), F.col("lat"), F.lit(QLON), F.lit(QLAT))
            <= F.lit(R_KM)
        )
        .select("o_orderkey")
        .collect()
    )


@pytest.fixture(scope="module")
def versioned(spark, sf_dir, tmp_path_factory):
    """A table with history: snapshot 1 = base write (orderkey%2==0),
    snapshot 2 = append of the other half."""
    path = str(tmp_path_factory.mktemp("snap"))
    pts = pts_orders(spark, sf_dir)
    base = pts.where(F.col("o_orderkey") % 2 == 0)
    extra = pts.where(F.col("o_orderkey") % 2 == 1)
    C.write_clustered(base, path, level=14, files=8)
    C.append_clustered(extra, path, files=4)
    return path, pts, base, extra


def test_commits_build_a_lineage_log(spark, versioned):
    path = versioned[0]
    log = C.snapshots(path)
    assert [s["snapshot_id"] for s in log] == [1, 2]
    assert [s["parent_id"] for s in log] == [None, 1]
    assert [s["operation"] for s in log] == ["overwrite", "append"]
    s2 = log[1]["summary"]
    assert s2["added_files"] > 0 and s2["removed_files"] == 0
    # the current manifest IS snapshot 2, and the immutable copy matches
    assert C.load_manifest(path)["snapshot_id"] == 2
    assert C.load_manifest(path, 2)["files"] == C.load_manifest(path)["files"]
    # metrics table mirrors the log
    df = C.snapshot_log_df(spark, path).orderBy("snapshot_id").collect()
    assert [r["snapshot_id"] for r in df] == [1, 2]
    assert df[0]["n_rows"] < df[1]["n_rows"]


def test_time_travel_reads_pre_append_state(spark, versioned):
    path, pts, base, _ = versioned
    # current = all points, snapshot 1 = base half only
    assert _radius_ids(spark, path) == _want_ids(pts)
    assert _radius_ids(spark, path, snapshot_id=1) == _want_ids(base)
    with pytest.raises(ValueError, match="available snapshots"):
        C.load_manifest(path, 99)


def test_rollback_restores_and_is_itself_lineage(spark, versioned):
    path, pts, base, extra = versioned
    C.rollback_clustered(path, 1)
    assert _radius_ids(spark, path) == _want_ids(base)  # back to base
    log = C.snapshots(path)
    assert log[-1]["operation"] == "rollback"
    assert log[-1]["summary"]["rolled_back_to"] == 1
    # roll forward again: snapshot 2 is still in the lineage
    C.rollback_clustered(path, 2)
    assert _radius_ids(spark, path) == _want_ids(pts)


def test_compaction_keeps_snapshot_readable_until_expire(
    spark, sf_dir, tmp_path
):
    """Snapshot isolation: a pre-compaction snapshot stays exactly
    readable after compact_clustered (its files are retained); only
    expire_snapshots reclaims them — and then the expired read fails
    loudly, never wrongly."""
    path = str(tmp_path / "iso")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts.where(F.col("o_orderkey") % 2 == 0), path, level=14, files=4)
    C.append_clustered(pts.where(F.col("o_orderkey") % 2 == 1), path, files=2)
    want_s1 = _radius_ids(spark, path, snapshot_id=1)
    pre_files = {e["file"] for e in C.load_manifest(path)["files"]}

    C.compact_clustered(spark, path, files=4)
    # the compacted current answers identically...
    assert _radius_ids(spark, path) == _want_ids(pts)
    # ...and the OLD snapshots still read bit-identically: their files
    # survived the sweep
    assert _radius_ids(spark, path, snapshot_id=1) == want_s1
    assert pre_files <= set(C._data_files(path))

    res = C.expire_snapshots(path, keep_last=1)
    assert set(res["expired_snapshots"]) == {1, 2}
    assert set(res["removed_files"]) == pre_files  # history reclaimed
    # current still exact; expired snapshot now errors by name
    assert _radius_ids(spark, path) == _want_ids(pts)
    with pytest.raises(ValueError, match="expired"):
        C.load_manifest(path, 1)
    # rollback to a reclaimed snapshot refuses instead of reading junk
    # (snapshot 3 = the compaction replace; its manifest file is gone)
    with pytest.raises(ValueError):
        C.rollback_clustered(path, 1)


def test_crash_orphans_still_swept_snapshots_retained(spark, sf_dir, tmp_path):
    """The sweep distinguishes history (referenced by a snapshot —
    retained) from crash orphans (referenced by nothing — removed)."""
    path = str(tmp_path / "orph")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=14, files=4)
    orphan = os.path.join(path, "part-junk-orphan.parquet")
    listed = C.load_manifest(path)["files"][0]["file"]
    with open(os.path.join(path, listed), "rb") as f:
        payload = f.read()
    with open(orphan, "wb") as f:
        f.write(payload)
    C.compact_clustered(spark, path, files=2)
    names = set(C._data_files(path))
    assert "part-junk-orphan.parquet" not in names  # orphan swept
    assert listed in names  # snapshot-1 history retained
    assert _radius_ids(spark, path) == _want_ids(pts)


def test_st_layout_shares_snapshot_semantics(spark, sf_dir, tmp_path):
    """A day-partitioned table runs the same snapshot machinery:
    time-travel reads, rollback-as-lineage, snapshot-isolated day
    compaction, expire as the only history reclaim."""
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1704067200)  # 2024-01-01 00:00:00 UTC
            + (F.col("o_orderkey") % 8) * 86400
            + F.col("o_orderkey") % 977
        ).cast("timestamp_ntz"),
    )
    base = pts.where(F.col("o_orderkey") % 2 == 0)
    extra = pts.where(F.col("o_orderkey") % 2 == 1)
    path = str(tmp_path / "stsnap")
    C.write_clustered(base, path, level=14, files=8, day_of="ts")
    C.append_clustered(extra, path, files=4)

    t0, t1 = "2024-01-02 00:00:00", "2024-01-03 23:59:59"
    qlon, qlat, r = 10.0, 88.0, 600.0

    def got(snapshot_id=None):
        out = C.clustered_radius_query(
            spark, path, qlon, qlat, r, t0=t0, t1=t1, snapshot_id=snapshot_id
        )
        return sorted(row[0] for row in out.select("o_orderkey").collect())

    def want(src):
        return sorted(
            row[0]
            for row in src.where(
                (F.col("ts") >= F.lit(t0))
                & (F.col("ts") <= F.lit(t1))
                & (
                    haversine_km(F.col("lon"), F.col("lat"), F.lit(qlon), F.lit(qlat))
                    <= F.lit(r)
                )
            )
            .select("o_orderkey")
            .collect()
        )

    # lineage + time travel
    log = C.snapshots(path)
    assert [s["operation"] for s in log] == ["overwrite", "append"]
    assert got() == want(pts) and got(snapshot_id=1) == want(base)
    assert len(want(base)) > 0
    dfl = C.snapshot_log_df(spark, path).orderBy("snapshot_id").collect()
    assert [r["operation"] for r in dfl] == ["overwrite", "append"]

    # rollback is new lineage and revertible
    C.rollback_clustered(path, 1)
    assert got() == want(base)
    C.rollback_clustered(path, 2)
    assert got() == want(pts)

    # day compaction keeps old snapshots readable until expire
    pre_s2 = got(snapshot_id=2)
    C.compact_clustered(spark, path, files=4, day="2024-01-02")
    assert got() == want(pts)
    assert got(snapshot_id=2) == pre_s2  # isolation
    res = C.expire_snapshots(path, keep_last=1)
    assert res["expired_snapshots"] and got() == want(pts)
    with pytest.raises(ValueError, match="expired"):
        C.load_manifest(path, 1)


def test_dangling_snapshot_is_overwritten_not_history(spark, sf_dir, tmp_path):
    """A crash between the snapshot write and the manifest cut-over
    leaves a dangling snap file at id N: excluded from the log, and the
    next commit reuses id N."""
    path = str(tmp_path / "dangle")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts.where(F.col("o_orderkey") % 2 == 0), path, level=14, files=4)
    # simulate the crash: snapshot 2 file exists, manifest still at 1
    fake = dict(C.load_manifest(path), snapshot_id=2, parent_id=1, files=[])
    C._atomic_json_write(C._snap_file(path, 2), fake)
    assert [s["snapshot_id"] for s in C.snapshots(path)] == [1]
    C.append_clustered(pts.where(F.col("o_orderkey") % 2 == 1), path, files=2)
    log = C.snapshots(path)
    assert [s["snapshot_id"] for s in log] == [1, 2]
    assert C.load_manifest(path, 2)["files"]  # the REAL commit, not the husk
    assert _radius_ids(spark, path) == _want_ids(pts)
