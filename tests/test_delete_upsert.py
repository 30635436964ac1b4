"""Row-level DELETE / UPSERT on the clustered layout
(io/clustered.py) — the Iceberg copy-on-write analog.

The contract under test: (a) results equal the plain-DataFrame
baseline bit-exactly, (b) rewrite is MINIMAL — files with no matching
row keep their manifest entries verbatim and their bytes untouched,
(c) the commit is one snapshot — time travel to the pre-delete
snapshot still sees the rows and rollback restores them, (d) NULL
predicate/keys follow SQL semantics (no match)."""

import os

import pytest
from pyspark.sql import functions as F

from spatial4n_spark.functions.native import haversine_km
from spatial4n_spark.io import clustered as C
from spatial4n_spark.kernels.polygon import Circle
from spatial4n_spark.kernels.distance import km_to_deg
from spatial4n_spark.suite import pts_orders

QLON, QLAT, R_KM = 2.3125, 48.875, 150.0


def _ids(df):
    return sorted(r[0] for r in df.select("o_orderkey").collect())


def _listed(spark, path, snapshot_id=None):
    return C._read_listed(spark, path, snapshot_id=snapshot_id)


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    path = str(tmp_path / "cow")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=14, files=8)
    return path, pts


def test_delete_in_circle_minimal_rewrite(spark, table):
    path, pts = table
    before = {e["file"]: (e["min"], e["max"], e["rows"]) for e in
              C.load_manifest(path)["files"]}
    mtimes = {n: os.path.getmtime(os.path.join(path, n)) for n in before}
    circle = Circle(QLON, QLAT, km_to_deg(R_KM), geo=True)
    pred = (
        haversine_km(F.col("lon"), F.col("lat"), F.lit(QLON), F.lit(QLAT))
        <= F.lit(R_KM)
    )
    man = C.delete_clustered(spark, path, pred, shape=circle)

    # bit-exact vs the plain-DataFrame baseline
    want = _ids(pts.where(~pred))
    assert _ids(_listed(spark, path)) == want
    assert man["summary"]["deleted_rows"] == pts.count() - len(want) > 0

    # minimal rewrite: untouched entries verbatim, bytes untouched
    after = {e["file"]: (e["min"], e["max"], e["rows"]) for e in man["files"]}
    untouched = {n for n in before if n in after}
    assert man["summary"]["untouched_files"] == len(untouched)
    assert man["summary"]["rewritten_files"] == len(before) - len(untouched)
    for n in untouched:
        assert after[n] == before[n]
        assert os.path.getmtime(os.path.join(path, n)) == mtimes[n]
    # a spatially local delete must not rewrite the whole table
    assert untouched, "circle delete rewrote every file"

    # one snapshot: time travel sees the pre-delete rows, rollback restores
    assert man["operation"] == "delete" and man["snapshot_id"] == 2
    assert _ids(_listed(spark, path, snapshot_id=1)) == _ids(pts)
    # pruned radius query on current state returns nothing inside
    got = C.clustered_radius_query(spark, path, QLON, QLAT, R_KM)
    assert got.count() == 0
    C.rollback_clustered(path, 1)
    assert _ids(_listed(spark, path)) == _ids(pts)


def test_delete_noop_and_null_predicate(spark, table):
    path, pts = table
    sid = C.load_manifest(path)["snapshot_id"]
    res = C.delete_clustered(
        spark, path, F.col("o_orderkey") < F.lit(-1).cast("long")
    )
    assert res.get("noop") and res["deleted_rows"] == 0
    assert C.load_manifest(path)["snapshot_id"] == sid  # nothing committed

    # NULL predicate rows survive (SQL DELETE semantics)
    pred = F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("boolean")).otherwise(
        F.col("o_orderkey") % 3 == 1
    )
    C.delete_clustered(spark, path, pred)
    want = _ids(pts.where(F.col("o_orderkey") % 3 != 1))
    assert _ids(_listed(spark, path)) == want


def test_upsert_moves_and_inserts(spark, table):
    path, pts = table
    entries = C.load_manifest(path)["files"]
    before = {e["file"] for e in entries}
    # move 50 keys FROM ONE DATA FILE to Paris (new cell!) — keys are
    # unique, so only that file holds a match and minimal-rewrite can
    # leave the rest untouched; insert 25 fresh keys
    one_file = spark.read.parquet(os.path.join(path, entries[0]["file"]))
    moved = (
        pts.join(
            one_file.select("o_orderkey").orderBy("o_orderkey").limit(50),
            "o_orderkey",
            "left_semi",
        )
        .withColumn("lon", F.lit(QLON))
        .withColumn("lat", F.lit(QLAT))
    )
    fresh = (
        pts.orderBy("o_orderkey")
        .limit(25)
        .withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(4_000_000_000).cast("long")
        )
        .withColumn("lon", F.lit(QLON))
        .withColumn("lat", F.lit(QLAT))
    )
    up = moved.unionByName(fresh)
    man = C.upsert_clustered(spark, up, path, key="o_orderkey")

    assert man["operation"] == "upsert"
    assert man["summary"]["replaced_rows"] == 50
    assert man["summary"]["incoming_rows"] == 75
    assert man["summary"]["rewritten_files"] == 1
    cur = _listed(spark, path)
    assert cur.count() == pts.count() + 25
    # the moved rows are found at their NEW location by the pruned query
    got = C.clustered_radius_query(spark, path, QLON, QLAT, 5.0)
    assert got.count() == 75
    # exactly-one-version: no key appears twice
    assert cur.groupBy("o_orderkey").count().where("count > 1").count() == 0
    # minimal rewrite: some base files untouched
    after = {e["file"] for e in man["files"]}
    assert before & after, "upsert rewrote every file"
    # time travel: pre-upsert state intact
    assert _ids(_listed(spark, path, snapshot_id=1)) == _ids(pts)


def test_upsert_key_range_prunes_hit_scan(spark, sf_dir, tmp_path):
    """The manifest's per-column stats (Iceberg column-stats analog)
    prune the upsert hit scan by KEY RANGE: when appended batches carry
    disjoint key ranges, an upsert of keys from one batch scans only
    that batch's files."""
    path = str(tmp_path / "keyprune")
    pts = pts_orders(spark, sf_dir).limit(400)
    C.write_clustered(pts, path, level=14, files=4)
    for base in (10**10, 2 * 10**10):
        b = pts.limit(50).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(base).cast("long")
        )
        C.append_clustered(b, path, files=2)
    total_files = len(C.load_manifest(path)["files"])

    # stats rode the commit for every column
    e0 = C.load_manifest(path)["files"][0]
    assert "o_orderkey" in e0["cols"] and "lon" in e0["cols"]

    up = (
        pts.limit(20)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(2 * 10**10).cast("long"))
        .withColumn("lon", F.lit(QLON))
        .withColumn("lat", F.lit(QLAT))
    )
    man = C.upsert_clustered(spark, up, path, key="o_orderkey")
    assert man["summary"]["replaced_rows"] == 20
    # only the second append's files were even scanned
    assert man["summary"]["hit_scan_files"] < total_files
    assert man["summary"]["hit_scan_files"] <= 2


def test_clustered_scan_prunes_on_any_stats_column(spark, sf_dir, tmp_path):
    """clustered_scan prunes files by the manifest's per-column stats
    on ANY column and stays exact: result equals the plain filtered
    read, and a disjoint-batch table prunes to the matching batch."""
    path = str(tmp_path / "colscan")
    pts = pts_orders(spark, sf_dir).limit(400)
    C.write_clustered(pts, path, level=14, files=4)
    for base in (10**10, 2 * 10**10):
        b = pts.limit(50).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(base).cast("long")
        )
        C.append_clustered(b, path, files=2)

    lo, hi = 2 * 10**10, 3 * 10**10
    got, st = C.clustered_scan(
        spark, path, {"o_orderkey": (lo, hi)}, with_stats=True
    )
    assert st.files_kept < st.files_total and st.files_kept <= 2
    want = _ids(
        C._read_listed(spark, path).where(F.col("o_orderkey").between(lo, hi))
    )
    assert _ids(got) == want and len(want) == 50

    # no matching range: empty with the right schema, zero files listed
    got2, st2 = C.clustered_scan(
        spark, path, {"o_orderkey": (9 * 10**10, 10 * 10**10)}, with_stats=True
    )
    assert st2.files_kept == 0 and got2.count() == 0
    assert set(got2.columns) == set(pts.columns) | {C.CELL_COL}


def test_upsert_null_keys_insert_only(spark, table):
    path, pts = table
    n0 = pts.count()
    nulls = (
        pts.limit(10)
        .withColumn("o_orderkey", F.lit(None).cast("long"))
        .withColumn("lon", F.lit(QLON))
        .withColumn("lat", F.lit(QLAT))
    )
    man = C.upsert_clustered(spark, nulls, path, key="o_orderkey")
    # NULL keys match nothing (SQL join equality): pure insert
    assert man["summary"]["replaced_rows"] == 0
    assert _listed(spark, path).count() == n0 + 10


def test_st_delete_two_axis_pruned(spark, sf_dir, tmp_path):
    """delete_clustered on a day table prunes candidates on BOTH axes (day range +
    cell cover) and rewrites only touched files; result equals the
    plain-DataFrame baseline, days outside the window stay verbatim,
    and time travel still sees the deleted rows."""
    path = str(tmp_path / "st_cow")
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.expr(
            "timestampadd(SECOND, CAST((o_orderkey % 8) * 86400 "
            "+ o_orderkey % 977 AS BIGINT), "
            "TIMESTAMP_NTZ'2024-01-01 00:00:00')"
        ),
    )
    C.write_clustered(pts, path, level=14, files=8, day_of="ts")
    before = {e["file"]: (e["min"], e["max"], e["rows"]) for e in
              C.load_manifest(path)["files"]}

    # --- two-axis delete: this circle, these days (800 km — the test
    # lattice has only 4096 distinct sites, city radii can be empty) ---
    t0, t1 = "2024-01-02 00:00:00", "2024-01-05 23:59:59"
    r_km = 800.0
    circle = Circle(QLON, QLAT, km_to_deg(r_km), geo=True)
    pred = (
        haversine_km(F.col("lon"), F.col("lat"), F.lit(QLON), F.lit(QLAT))
        <= F.lit(r_km)
    )
    man = C.delete_clustered(
        spark, path, predicate=pred, t0=t0, t1=t1, shape=circle
    )

    in_window = (F.col("ts") >= F.lit(t0).cast("timestamp_ntz")) & (
        F.col("ts") <= F.lit(t1).cast("timestamp_ntz")
    )
    want = _ids(pts.where(~(pred & in_window)))
    got = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, e["file"]) for e in man["files"]]
    )
    assert _ids(got) == want
    assert man["summary"]["deleted_rows"] == pts.count() - len(want) > 0

    # two-axis minimal rewrite: every file of a day OUTSIDE the window
    # is untouched verbatim
    after = {e["file"]: (e["min"], e["max"], e["rows"]) for e in man["files"]}
    window_days = {f"{C.DAY_COL}=2024-01-0{d}" for d in (2, 3, 4, 5)}
    out_of_window = [
        f for f in before if f.split("/")[0] not in window_days
    ]
    assert out_of_window
    for f in out_of_window:
        assert after[f] == before[f]
    assert man["summary"]["untouched_files"] >= len(out_of_window)

    # one snapshot: travel back, and the query surface agrees
    trav = C.clustered_radius_query(spark, path, QLON, QLAT, r_km, t0=t0, t1=t1,
                              snapshot_id=man["parent_id"])
    assert trav.count() == man["summary"]["deleted_rows"]
    cur = C.clustered_radius_query(spark, path, QLON, QLAT, r_km, t0=t0, t1=t1)
    assert cur.count() == 0

    # --- window-only delete: drop two whole days (retention) ---
    w0, w1 = "2024-01-07 00:00:00", "2024-01-08 23:59:59"
    man2 = C.delete_clustered(spark, path, t0=w0, t1=w1)
    drop_days = {f"{C.DAY_COL}=2024-01-0{d}" for d in (7, 8)}
    assert all(e["file"].split("/")[0] not in drop_days for e in man2["files"])
    in_w = (F.col("ts") >= F.lit(w0).cast("timestamp_ntz")) & (
        F.col("ts") <= F.lit(w1).cast("timestamp_ntz")
    )
    want2 = _ids(pts.where(~(pred & in_window) & ~in_w))
    got2 = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, e["file"]) for e in man2["files"]]
    )
    assert _ids(got2) == want2

    # no-op forms commit nothing
    sid = C.load_manifest(path)["snapshot_id"]
    res = C.delete_clustered(spark, path, t0="2030-01-01", t1="2030-01-02")
    assert res.get("noop") and C.load_manifest(path)["snapshot_id"] == sid
    with pytest.raises(ValueError, match="unconditioned"):
        C.delete_clustered(spark, path)


def test_st_upsert_moves_across_days_and_space(spark, sf_dir, tmp_path):
    """upsert_clustered on a day table replaces keys across day partitions: a moved
    row leaves its old day's file and lands in its new day directory
    and cell, exactly-one-version holds, and untouched days' manifest
    entries survive verbatim."""
    path = str(tmp_path / "st_up")
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.expr(
            "timestampadd(SECOND, CAST((o_orderkey % 8) * 86400 "
            "+ o_orderkey % 977 AS BIGINT), "
            "TIMESTAMP_NTZ'2024-01-01 00:00:00')"
        ),
    )
    C.write_clustered(pts, path, level=14, files=8, day_of="ts")
    n0 = pts.count()
    before = {e["file"]: (e["min"], e["max"], e["rows"]) for e in
              C.load_manifest(path)["files"]}

    # move 30 keys to Paris on a NEW day (outside the table's 8 days)
    moved = (
        pts.orderBy("o_orderkey")
        .limit(30)
        .withColumn("lon", F.lit(QLON))
        .withColumn("lat", F.lit(QLAT))
        .withColumn("ts", F.lit("2024-02-01 12:00:00").cast("timestamp_ntz"))
    )
    man = C.upsert_clustered(spark, moved, path, key="o_orderkey")

    assert man["operation"] == "upsert"
    assert man["summary"]["replaced_rows"] == 30
    assert man["summary"]["incoming_rows"] == 30
    cur = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, e["file"]) for e in man["files"]]
    )
    assert cur.count() == n0
    assert cur.groupBy("o_orderkey").count().where("count > 1").count() == 0
    # found at the new location in the new day window by the pruned query
    got = C.clustered_radius_query(
        spark, path, QLON, QLAT, 5.0, t0="2024-02-01 00:00:00",
        t1="2024-02-01 23:59:59",
    )
    assert got.count() == 30
    # minimal rewrite: some original entries untouched verbatim
    after = {e["file"]: (e["min"], e["max"], e["rows"]) for e in man["files"]}
    assert any(f in after and after[f] == before[f] for f in before)
    # time travel: pre-upsert state intact (no February day)
    old = C.load_manifest(path, snapshot_id=man["parent_id"])
    assert all(not e["file"].startswith(f"{C.DAY_COL}=2024-02") for e in
               old["files"])


def test_compact_evolves_cluster_level(spark, sf_dir, tmp_path):
    """compact_clustered(level=) re-clusters at a new cell level in one
    snapshot commit (partition-spec evolution): results stay bit-exact,
    the manifest's level cuts over atomically, and a time-traveled
    query plans covers with the OLD level over the OLD files."""
    path = str(tmp_path / "levelup")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=8, files=8)
    pred = (
        haversine_km(F.col("lon"), F.col("lat"), F.lit(QLON), F.lit(QLAT))
        <= F.lit(R_KM)
    )
    want = _ids(pts.where(pred))
    before = sorted(
        r[0]
        for r in C.clustered_radius_query(spark, path, QLON, QLAT, R_KM)
        .select("o_orderkey")
        .collect()
    )
    assert before == want

    C.compact_clustered(spark, path, files=8, level=14)
    man = C.load_manifest(path)
    assert man["level"] == 14 and man["operation"] == "replace"
    after = sorted(
        r[0]
        for r in C.clustered_radius_query(spark, path, QLON, QLAT, R_KM)
        .select("o_orderkey")
        .collect()
    )
    assert after == want
    # time travel: the pre-evolution snapshot prunes at level 8, exact
    trav = sorted(
        r[0]
        for r in C.clustered_radius_query(
            spark, path, QLON, QLAT, R_KM, snapshot_id=1
        )
        .select("o_orderkey")
        .collect()
    )
    assert trav == want
    assert C.load_manifest(path, snapshot_id=1)["level"] == 8


def test_deleted_files_swept_only_after_expire(spark, table):
    path, pts = table
    pred = F.col("o_orderkey") % 2 == 0
    man = C.delete_clustered(spark, path, pred)
    rewritten = man["summary"]["rewritten_files"]
    assert rewritten > 0
    # superseded files still on disk (snapshot 1 references them)
    assert len(C._data_files(path)) > len(man["files"])
    C.expire_snapshots(path, keep_last=1)
    # now only the current snapshot's files remain
    assert sorted(C._data_files(path)) == sorted(e["file"] for e in
                                                 C.load_manifest(path)["files"])
    assert _ids(_listed(spark, path)) == _ids(pts.where(~pred))
