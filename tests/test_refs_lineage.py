"""Named refs (tags), per-file/per-partition lineage metadata tables,
and the standalone orphan-file sweep (io/clustered.py, flat and day tables)
— the Iceberg tag / ``.refs`` / ``added_snapshot_id`` / ``.partitions``
/ remove-orphan-files analogs.

A tag is both a readable name (every ``snapshot_id`` surface resolves
it) and a retention anchor (``expire_snapshots`` never reclaims a
tagged snapshot or the files it references).  ``remove_orphan_files``
reclaims crash leftovers without touching readable history — the
complement of ``expire_snapshots``, which is the only op that removes
readable state.
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


@pytest.fixture()
def table3(spark, sf_dir, tmp_path):
    """A table with three snapshots: 1 = thirds 0, 2 = +thirds 1,
    3 = +thirds 2."""
    path = str(tmp_path / "refs")
    pts = pts_orders(spark, sf_dir)
    parts = [pts.where(F.col("o_orderkey") % 3 == k) for k in range(3)]
    C.write_clustered(parts[0], path, level=14, files=4)
    C.append_clustered(parts[1], path, files=2)
    C.append_clustered(parts[2], path, files=2)
    return path, pts, parts


def test_tag_create_resolve_drop(spark, table3):
    path, pts, parts = table3
    assert C.create_tag(path, "v1", 1) == 1
    assert C.create_tag(path, "head") == 3  # default = current snapshot
    # readable wherever snapshot_id is
    assert C.load_manifest(path, "v1")["snapshot_id"] == 1
    assert _radius_ids(spark, path, snapshot_id="v1") == _want_ids(parts[0])
    assert _radius_ids(spark, path, snapshot_id="head") == _want_ids(pts)
    # .refs metadata table
    assert C.table_refs(path) == {"v1": 1, "head": 3}
    rows = C.refs_df(spark, path).collect()
    assert [(r["name"], r["snapshot_id"], r["type"]) for r in rows] == [
        ("head", 3, "tag"),
        ("v1", 1, "tag"),
    ]
    # re-point is allowed (latest wins), drop returns the pinned id
    assert C.create_tag(path, "v1", 2) == 2
    assert C.drop_tag(path, "v1") == 2
    with pytest.raises(ValueError, match="unknown ref"):
        C.load_manifest(path, "v1")
    with pytest.raises(ValueError, match="unknown ref"):
        C.drop_tag(path, "nope")
    # names that would read as snapshot ids are rejected
    with pytest.raises(ValueError, match="invalid ref name"):
        C.create_tag(path, "7")
    # tagging a snapshot that doesn't exist is rejected
    with pytest.raises(ValueError, match="available snapshots"):
        C.create_tag(path, "v9", 99)
    # ... including a DANGLING snapshot file (crashed commit, id above
    # the current manifest's — not history, its id will be reused)
    import json as _json
    import os as _os

    with open(C._snap_file(path, 4), "w") as f:
        _json.dump(C.load_manifest(path) | {"snapshot_id": 4}, f)
    with pytest.raises(ValueError, match="does not exist"):
        C.create_tag(path, "dangling", 4)
    _os.remove(C._snap_file(path, 4))


def test_tag_anchors_snapshot_against_expire(spark, table3):
    path, pts, parts = table3
    C.create_tag(path, "audit", 1)
    res = C.expire_snapshots(path, keep_last=1)
    # snapshot 2 expired; tagged snapshot 1 and current 3 retained
    assert res["expired_snapshots"] == [2]
    assert [s["snapshot_id"] for s in C.snapshots(path)] == [1, 3]
    # the tagged snapshot — and the files only it references — stay readable
    assert _radius_ids(spark, path, snapshot_id="audit") == _want_ids(parts[0])
    assert _radius_ids(spark, path) == _want_ids(pts)
    # dropping the tag releases the anchor: the next expire reclaims it
    C.drop_tag(path, "audit")
    res2 = C.expire_snapshots(path, keep_last=1)
    assert res2["expired_snapshots"] == [1]
    with pytest.raises(ValueError, match="does not exist or was expired"):
        C.load_manifest(path, 1)


def test_files_df_carries_added_snapshot_lineage(spark, table3):
    path, _, _ = table3
    cur = C.files_df(spark, path).collect()
    by_sid = {}
    for r in cur:
        assert r["added_snapshot_id"] in (1, 2, 3)
        by_sid.setdefault(r["added_snapshot_id"], []).append(r["file"])
    # base write landed 4 files, each append 2 — lineage preserves that
    assert len(by_sid[1]) == 4 and len(by_sid[2]) == 2 and len(by_sid[3]) == 2
    # time travel truncates the view, not the lineage ids
    old = C.files_df(spark, path, snapshot_id=1).collect()
    assert {r["added_snapshot_id"] for r in old} == {1}
    assert sorted(r["file"] for r in old) == sorted(by_sid[1])


def test_remove_orphan_files_reclaims_only_unreferenced(spark, table3):
    path, pts, _ = table3
    pre = set(C._data_files(path))
    # plant crash leftovers: a data file no snapshot lists, and a MOR
    # delete dir entry no snapshot references
    orphan = "part-orphan-deadbeef.parquet"
    with open(os.path.join(path, orphan), "wb") as f:
        f.write(b"PAR1 not really parquet")
    os.makedirs(os.path.join(path, C.DELETE_DIR, "del-orphan"), exist_ok=True)
    with open(
        os.path.join(path, C.DELETE_DIR, "del-orphan", "x.json"), "w"
    ) as f:
        f.write("{}")
    res = C.remove_orphan_files(path)
    assert res["removed_files"] == [orphan]
    assert res["removed_delete_files"] == [
        os.path.join(C.DELETE_DIR, "del-orphan")
    ]
    # every referenced file survived; all history still readable
    assert set(C._data_files(path)) == pre
    assert [s["snapshot_id"] for s in C.snapshots(path)] == [1, 2, 3]
    assert _radius_ids(spark, path) == _want_ids(pts)
    # idempotent: a clean table sweeps nothing
    res2 = C.remove_orphan_files(path)
    assert res2["removed_files"] == [] and res2["removed_delete_files"] == []


def test_st_partitions_refs_and_orphans(spark, sf_dir, tmp_path):
    """A day table's .partitions rollup, tags, and orphan sweep."""
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1704067200)  # 2024-01-01 00:00:00 UTC
            + (F.col("o_orderkey") % 4) * 86400
            + F.col("o_orderkey") % 977
        ).cast("timestamp_ntz"),
    )
    base = pts.where(F.col("o_orderkey") % 4 != 1)  # days 01, 03, 04
    extra = pts.where(F.col("o_orderkey") % 4 == 1)  # only day 2024-01-02
    path = str(tmp_path / "stp")
    C.write_clustered(base, path, level=14, files=4, day_of="ts")
    C.append_clustered(extra, path, files=2)

    parts = {r["day"]: r for r in C.partitions_df(spark, path).collect()}
    assert sorted(parts) == [
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04",
    ]
    # per-partition metrics match the data
    want_rows = {
        d: base.where(F.date_format("ts", "yyyy-MM-dd") == d).count()
        for d in parts
    }
    want_rows["2024-01-02"] = extra.count()
    for d, r in parts.items():
        assert r["n_rows"] == want_rows[d]
        assert r["n_files"] >= 1
        assert r["cell_min"] <= r["cell_max"]
        assert r["n_pending_delete_files"] == 0
    # per-partition lineage: only the appended day advanced to snapshot 2
    assert parts["2024-01-02"]["last_updated_snapshot"] == 2
    for d in ("2024-01-01", "2024-01-03", "2024-01-04"):
        assert parts[d]["last_updated_snapshot"] == 1
    # time travel sees the pre-append rollup: day 2024-01-02 (appended
    # in snapshot 2) does not exist yet
    old = {
        r["day"]: r
        for r in C.partitions_df(spark, path, snapshot_id=1).collect()
    }
    assert sorted(old) == ["2024-01-01", "2024-01-03", "2024-01-04"]
    assert all(r["last_updated_snapshot"] == 1 for r in old.values())

    # tags anchor ST snapshots exactly like the flat layout
    C.create_tag(path, "pre-append", 1)
    C.append_clustered(extra.limit(0), path, files=1)  # snapshot 3 (no-op rows)
    res = C.expire_snapshots(path, keep_last=1)
    assert 1 not in res["expired_snapshots"]
    assert C.load_manifest(path, "pre-append")["snapshot_id"] == 1
    assert C.table_refs(path) == {"pre-append": 1}
    C.drop_tag(path, "pre-append")

    # orphan sweep: plant a fake day-partition file nothing references
    daydir = os.path.join(path, "_day=2024-01-01")
    orphan_rel = os.path.join(
        os.path.basename(daydir), "part-orphan-cafe.parquet"
    )
    with open(os.path.join(path, orphan_rel), "wb") as f:
        f.write(b"PAR1 nope")
    res = C.remove_orphan_files(path)
    assert res["removed_files"] == [orphan_rel]
    assert not os.path.exists(os.path.join(path, orphan_rel))
