"""Branches + write-audit-publish (WAP) and timestamp time travel on the
snapshot-versioned clustered layout (io/clustered.py) — the Iceberg
branch / fast-forward / FOR SYSTEM_TIME AS OF analogs.

A branch is a named WRITABLE head: commits with ``branch=`` fork new
snapshots off it without moving the main table; readers audit staged
state by name; ``fast_forward_clustered`` publishes it atomically.
Lineages share one globally-allocated id sequence, expire retains every
branch-reachable snapshot, and dropping the branch releases them.
"""

import time

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
def halves(spark, sf_dir, tmp_path):
    """A fresh table (base = even orderkeys) plus the odd half as the
    batch to stage."""
    path = str(tmp_path / "tbl")
    pts = pts_orders(spark, sf_dir)
    base = pts.where(F.col("o_orderkey") % 2 == 0)
    extra = pts.where(F.col("o_orderkey") % 2 == 1)
    C.write_clustered(base, path, level=14, files=4)
    return path, pts, base, extra


def test_wap_stage_audit_publish(spark, halves):
    """The full WAP flow: staged commits are invisible to main readers,
    auditable by name, and one atomic publish makes them main history."""
    path, pts, base, extra = halves
    assert C.create_branch(path, "staging") == 1
    C.append_clustered(extra, path, files=2, branch="staging")

    # WRITE+AUDIT: main readers still see exactly the base rows even
    # though the staged data files sit in the same directory
    assert _radius_ids(spark, path) == _want_ids(base)
    assert int(C.load_manifest(path)["snapshot_id"]) == 1
    # the branch reader sees base + staged
    assert _radius_ids(spark, path, snapshot_id="staging") == _want_ids(pts)
    refs = {r["name"]: (r["snapshot_id"], r["type"])
            for r in C.refs_df(spark, path).collect()}
    assert refs == {"staging": (2, "branch")}

    # PUBLISH: one atomic cut-over, staged commits become main history
    out = C.fast_forward_clustered(path, "staging")
    assert out == {"published": 2, "from": 1}
    assert _radius_ids(spark, path) == _want_ids(pts)
    log = C.snapshots(path)
    assert [s["snapshot_id"] for s in log] == [1, 2]
    assert [s["operation"] for s in log] == ["overwrite", "append"]
    # idempotent: re-publishing at head is a no-op
    assert C.fast_forward_clustered(path, "staging") == {
        "published": 2, "from": 2,
    }
    assert C.drop_branch(path, "staging") == 2


def test_branch_delete_and_upsert_stage(spark, halves):
    """Row-level DELETE and MERGE stage on a branch too — both write
    strategies — and main sees nothing until publish."""
    path, pts, base, extra = halves
    C.append_clustered(extra, path, files=2)  # main now = all rows
    C.create_branch(path, "fix")
    # stage: COW-delete the odd half, then MOR-upsert a moved even row
    C.delete_clustered(
        spark, path, F.col("o_orderkey") % 2 == 1, branch="fix"
    )
    moved = base.limit(1).withColumn("lon", F.lit(0.0)).withColumn(
        "lat", F.lit(0.0)
    )
    C.upsert_clustered(
        spark, moved, path, key="o_orderkey", strategy="mor", branch="fix"
    )
    # main unchanged
    assert _radius_ids(spark, path) == _want_ids(pts)
    # branch = base minus the row moved to (0, 0)
    mk = int(moved.select("o_orderkey").collect()[0][0])
    want = [k for k in _want_ids(base) if k != mk]
    assert _radius_ids(spark, path, snapshot_id="fix") == want
    C.fast_forward_clustered(path, "fix")
    assert _radius_ids(spark, path) == want


def test_fast_forward_rejects_diverged_lineage(spark, halves):
    path, pts, base, extra = halves
    C.create_branch(path, "b")
    C.append_clustered(extra, path, files=2, branch="b")
    # main advances AFTER the fork: lineages diverged
    C.append_clustered(extra, path, files=2)
    with pytest.raises(ValueError, match="diverged"):
        C.fast_forward_clustered(path, "b")
    # and a tag is not publishable
    C.create_tag(path, "pin")
    with pytest.raises(ValueError, match="not a branch"):
        C.fast_forward_clustered(path, "pin")


def test_global_id_allocation_interleaved(spark, halves):
    """Main and branch commits interleave in one id sequence — no
    collisions — and main's incremental scan skips branch ids."""
    path, pts, base, extra = halves
    C.create_branch(path, "b")
    C.append_clustered(extra, path, files=1, branch="b")   # id 2 (branch)
    C.append_clustered(extra, path, files=1)               # id 3 (main)
    C.append_clustered(extra, path, files=1, branch="b")   # id 4 (branch)
    C.append_clustered(extra, path, files=1)               # id 5 (main)
    assert int(C.load_manifest(path)["snapshot_id"]) == 5
    assert C.table_refs(path)["b"] == 4
    assert [s["snapshot_id"] for s in C.snapshots(path)] == [1, 3, 5]
    # main increment (1, 5] = main's two appends, no branch rows
    inc = C.incremental_scan(spark, path, 1, 5)
    assert inc.count() == 2 * extra.count()
    # branch lineage reads its own chain (1 -> 2 -> 4)
    binc = C.incremental_scan(spark, path, 1, 4)
    assert binc.count() == 2 * extra.count()
    with pytest.raises(ValueError, match="not an ancestor"):
        C.incremental_scan(spark, path, 3, 4)  # 3 is main-only, 4 branch


def test_expire_retains_branch_then_reclaims(spark, halves):
    """A live branch anchors its reachable history against expire;
    dropping it makes those snapshots reclaimable (files swept)."""
    path, pts, base, extra = halves
    C.create_branch(path, "keep")
    C.append_clustered(extra, path, files=1, branch="keep")  # id 2
    for _ in range(3):  # main advances: ids 3, 4, 5
        C.compact_clustered(spark, path, files=2)
    out = C.expire_snapshots(path, keep_last=1)
    assert 2 not in out["expired_snapshots"]
    # the branch still reads after expire
    assert _radius_ids(spark, path, snapshot_id="keep") == _want_ids(pts)
    C.drop_branch(path, "keep")
    out = C.expire_snapshots(path, keep_last=1)
    assert 2 in out["expired_snapshots"]
    with pytest.raises(ValueError):
        C.load_manifest(path, snapshot_id=2)
    # main is intact
    assert _radius_ids(spark, path) == _want_ids(base)


def test_ref_name_kinds_are_enforced(spark, halves):
    path, _, _, _ = halves
    C.create_tag(path, "v1")
    with pytest.raises(ValueError, match="is a tag"):
        C.create_branch(path, "v1")
    with pytest.raises(ValueError, match="is a tag"):
        C.drop_branch(path, "v1")
    C.create_branch(path, "b1")
    with pytest.raises(ValueError, match="is a branch"):
        C.create_tag(path, "b1")
    with pytest.raises(ValueError, match="not a branch"):
        C.append_clustered(
            pts_orders(spark, "/root/testdata/sf0.001").limit(1),
            path, files=1, branch="v1",
        )
    with pytest.raises(ValueError, match="unknown ref"):
        C.append_clustered(
            pts_orders(spark, "/root/testdata/sf0.001").limit(1),
            path, files=1, branch="nope",
        )


def test_as_of_timestamp_travel(spark, halves):
    """snapshot_as_of / load_manifest(as_of=) resolve wall-clock times
    to the snapshot current at that instant."""
    path, pts, base, extra = halves
    t0 = time.time()
    time.sleep(0.01)
    C.append_clustered(extra, path, files=2)  # id 2
    time.sleep(0.01)
    t_mid = time.time()
    time.sleep(0.01)
    C.compact_clustered(spark, path, files=2)  # id 3
    time.sleep(0.01)
    assert C.snapshot_as_of(path, time.time()) == 3
    assert C.snapshot_as_of(path, t_mid) == 2
    man = C.load_manifest(path, as_of=t_mid)
    assert int(man["snapshot_id"]) == 2
    # before the table existed
    with pytest.raises(ValueError, match="no snapshot"):
        C.snapshot_as_of(path, t0 - 3600)
    with pytest.raises(ValueError, match="not both"):
        C.load_manifest(path, snapshot_id=1, as_of=t_mid)
    # the resolved id drives any reader
    assert _radius_ids(
        spark, path, snapshot_id=C.snapshot_as_of(path, t_mid)
    ) == _want_ids(pts)


def test_st_as_of(spark, sf_dir, tmp_path):
    path = str(tmp_path / "st")
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts", F.lit("2026-01-01 00:00:00").cast("timestamp_ntz")
    )
    C.write_clustered(pts, path, level=14, files=2, day_of="ts")
    time.sleep(0.01)
    t1 = time.time()
    time.sleep(0.01)
    C.append_clustered(pts.limit(5), path)
    assert C.snapshot_as_of(path, t1) == 1
    assert C.snapshot_as_of(path, time.time()) == 2
    assert int(C.load_manifest(path, as_of=t1)["snapshot_id"]) == 1


def test_expire_older_than_age_retention(spark, halves):
    """expire(older_than=) keeps every snapshot committed at/after the
    horizon even when keep_last alone would have dropped it."""
    path, pts, base, extra = halves          # snapshot 1
    C.append_clustered(extra, path, files=1)  # snapshot 2
    time.sleep(0.02)
    horizon = time.time()
    time.sleep(0.02)
    C.compact_clustered(spark, path, files=2)  # snapshot 3
    C.compact_clustered(spark, path, files=2)  # snapshot 4
    out = C.expire_snapshots(path, keep_last=1, older_than=horizon)
    assert sorted(out["expired_snapshots"]) == [1, 2]
    # 3 predates keep_last=1 but postdates the horizon: retained
    assert int(C.load_manifest(path, snapshot_id=3)["snapshot_id"]) == 3
    with pytest.raises(ValueError):
        C.load_manifest(path, snapshot_id=2)
    # without a horizon the same call reclaims 3 as well
    out = C.expire_snapshots(path, keep_last=1)
    assert out["expired_snapshots"] == [3]


def test_history_metadata_table(spark, halves):
    """history_df records MADE-CURRENT events: commits, rollbacks, and
    fast-forward publishes — not a branch's intermediate commits — with
    is_current_ancestor distinguishing rolled-past history."""
    path, pts, base, extra = halves          # commit 1 current
    C.create_branch(path, "wap")
    C.append_clustered(extra, path, files=1, branch="wap")  # 2: staged
    C.append_clustered(extra, path, files=1, branch="wap")  # 3: staged
    # staged commits are NOT history events
    h = {r["snapshot_id"]: r for r in C.history_df(spark, path).collect()}
    assert set(h) == {1}
    C.fast_forward_clustered(path, "wap")
    h = [r.asDict() for r in C.history_df(spark, path).collect()]
    assert [r["snapshot_id"] for r in h] == [1, 3]
    assert h[1]["event"] == "fast-forward:wap"
    # the published head became current AFTER its commit
    assert h[1]["made_current_at"] > float(
        C.load_manifest(path, snapshot_id=3)["committed_at"]
    )
    assert all(r["is_current_ancestor"] for r in h)
    # rollback: a new made-current event.  Rollback commits the target's
    # files as NEW lineage (parent = the rolled-past commit), so every
    # history row stays chain-reachable — unlike Iceberg's pointer
    # reset; is_current_ancestor goes false only where expire breaks
    # the chain (tested below via an expire gap).
    C.append_clustered(extra, path, files=1)   # 4
    C.rollback_clustered(path, 3)              # 5 (files of 3)
    h = {r["snapshot_id"]: r.asDict()
         for r in C.history_df(spark, path).collect()}
    assert set(h) == {1, 3, 4, 5}
    assert h[5]["event"] == "rollback"
    assert all(r["is_current_ancestor"] for r in h.values())
    C.expire_snapshots(path, keep_last=1)  # chain truncates at 5
    h = {r["snapshot_id"]: r.asDict()
         for r in C.history_df(spark, path).collect()}
    assert h[5]["is_current_ancestor"] is True
    assert h[4]["is_current_ancestor"] is False  # expired out of chain


def test_st_history_df(spark, sf_dir, tmp_path):
    path = str(tmp_path / "sth")
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts", F.lit("2026-01-01 00:00:00").cast("timestamp_ntz")
    )
    C.write_clustered(pts, path, level=14, files=2, day_of="ts")
    C.append_clustered(pts.limit(5), path)
    h = [r.asDict() for r in C.history_df(spark, path).collect()]
    assert [r["snapshot_id"] for r in h] == [1, 2]
    assert [r["event"] for r in h] == ["overwrite", "append"]
    assert all(r["is_current_ancestor"] for r in h)


def test_streaming_ingest_stages_on_branch(spark, sf_dir, tmp_path):
    """Audited streaming ingest: every micro-batch stages onto the
    branch, main stays untouched while the stream runs, and one
    fast-forward publishes the whole ingest atomically."""
    from spatial4n_spark.streaming.clustered_sink import stream_to_clustered

    pts = pts_orders(spark, sf_dir)
    src = str(tmp_path / "src")
    pts.repartition(3).write.parquet(src)
    table = str(tmp_path / "table")
    C.write_clustered(pts.limit(0), table, level=14, files=1)
    C.create_branch(table, "ingest")

    stream = (
        spark.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_to_clustered(
        stream, table, str(tmp_path / "ck"), files_per_batch=1,
        branch="ingest",
    )
    q.awaitTermination(300)

    # main: still empty; branch: everything, across several commits
    assert sum(e["rows"] for e in C.load_manifest(table)["files"]) == 0
    bman = C.load_manifest(table, snapshot_id="ingest")
    assert sum(e["rows"] for e in bman["files"]) == pts.count()
    assert _radius_ids(spark, table) == []
    C.fast_forward_clustered(table, "ingest")
    assert _radius_ids(spark, table) == _want_ids(pts)


def test_tile_pyramid_plan_is_one_scan(spark, sf_dir):
    """The pyramid's whole point at scale: ONE input scan and ONE
    cell-encode pass feed every level (coarser levels roll up from the
    finest aggregate, never a rescan) — asserted on the executed plan."""
    from spatial4n_spark.operators.tiles import tile_pyramid
    from spatial4n_spark.suite import pts_lineitem

    pyr = tile_pyramid(
        pts_lineitem(spark, sf_dir), level=3, min_level=1,
        salt_buckets=8, salt_col="l_partkey", sum_col="l_linenumber",
    )
    pyr.collect()
    plan = pyr._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-adaptive "Initial Plan" — count
    # only the final executed tree
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_st_wap_flow(spark, sf_dir, tmp_path):
    """WAP on the spatio-temporal layout: stage append + two-axis delete
    + key upsert on a branch, audit by name, publish atomically."""
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.expr(
            "timestamp_ntz '2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,"
            " o_orderkey % 2 * 86400)"
        ),
    )
    base = pts.where(F.col("o_orderkey") % 2 == 0)   # day 1
    extra = pts.where(F.col("o_orderkey") % 2 == 1)  # day 2
    path = str(tmp_path / "stwap")
    C.write_clustered(base, path, level=14, files=2, day_of="ts")

    def keys(snap=None):
        man = C.load_manifest(path, snapshot_id=snap)
        files = [e["file"] for e in man["files"]]
        if not files:
            return set()
        import os as _os

        df = spark.read.option("basePath", path).parquet(
            *[_os.path.join(path, f) for f in files]
        )
        return {int(r[0]) for r in df.select("o_orderkey").collect()}

    want_base = {int(r[0]) for r in base.select("o_orderkey").collect()}
    want_extra = {int(r[0]) for r in extra.select("o_orderkey").collect()}

    C.create_branch(path, "stage")
    C.append_clustered(extra, path, files=2, branch="stage")
    assert keys() == want_base                       # main untouched
    assert keys("stage") == want_base | want_extra   # audit by name
    # stage a two-axis delete of day 2 on the branch
    C.delete_clustered(
        spark, path, t0="2026-01-02 00:00:00", t1="2026-01-02 23:59:59",
        branch="stage",
    )
    assert keys("stage") == want_base
    assert keys() == want_base
    # stage a key upsert (moved row) on the branch
    mk = sorted(want_base)[0]
    moved = base.where(F.col("o_orderkey") == mk).withColumn(
        "ts", F.expr("timestamp_ntz '2026-01-02 00:00:00'")
    )
    C.upsert_clustered(
        spark, moved, path, key="o_orderkey", branch="stage"
    )
    assert keys("stage") == want_base
    refs = {r["name"]: r["type"] for r in C.refs_df(spark, path).collect()}
    assert refs == {"stage": "branch"}
    out = C.fast_forward_clustered(path, "stage")
    assert out["published"] > out["from"]
    assert keys() == want_base
    # the moved row landed in its new day directory
    man = C.load_manifest(path)
    days_of_mk = {
        e["day"]
        for e in man["files"]
        if mk in {
            int(r[0])
            for r in spark.read.option("basePath", path)
            .parquet(str(tmp_path / "stwap" / e["file"]))
            .select("o_orderkey")
            .collect()
        }
    }
    assert days_of_mk == {"2026-01-02"}
    assert C.drop_branch(path, "stage") == out["published"]


# --- ref-safe id allocation, made-current as_of, history repair -------


def test_tag_pinned_id_never_reallocated(spark, halves):
    """A tag may legally pin a branch-lineage snapshot ABOVE every head;
    after drop_branch, id allocation must still skip past it — reuse
    would overwrite the tag-anchored snap-N.json and silently repoint
    the tag at unrelated data ('bounded waste, never damage')."""
    path, pts, base, extra = halves                       # main head = 1
    C.create_branch(path, "b")
    C.append_clustered(extra, path, files=1, branch="b")  # id 2 (branch)
    C.append_clustered(extra, path, files=1, branch="b")  # id 3 (branch)
    C.create_tag(path, "audit", 3)                        # tag above all heads
    audited = _radius_ids(spark, path, snapshot_id="audit")
    C.drop_branch(path, "b")
    # the next main commit must allocate ABOVE the tag-pinned id
    C.append_clustered(extra, path, files=1)
    assert int(C.load_manifest(path)["snapshot_id"]) == 4
    # and the tag still resolves to exactly the audited state
    assert _radius_ids(spark, path, snapshot_id="audit") == audited
    assert int(C.load_manifest(path, "audit")["snapshot_id"]) == 3


def test_as_of_resolves_made_current_not_committed(spark, halves):
    """Timestamp travel follows MADE-CURRENT time (the Iceberg
    snapshot-log semantics): a branch commit staged at t1 and published
    at t2 was NOT the table's state in (t1, t2) — readers then saw the
    pre-publish main head — so as_of in that window must return main's
    old head, not the staged snapshot."""
    path, pts, base, extra = halves                       # main head = 1
    C.create_branch(path, "stage")
    time.sleep(0.01)
    C.append_clustered(extra, path, files=1, branch="stage")  # id 2 staged
    time.sleep(0.01)
    t_window = time.time()  # after the stage commit, before the publish
    time.sleep(0.01)
    C.fast_forward_clustered(path, "stage")
    time.sleep(0.01)
    # in the window, the table's observable state was snapshot 1
    assert C.snapshot_as_of(path, t_window) == 1
    assert _radius_ids(
        spark, path, snapshot_id=C.snapshot_as_of(path, t_window)
    ) == _want_ids(base)
    # after the publish instant, it is the published head
    assert C.snapshot_as_of(path, time.time()) == 2


def test_as_of_of_expired_state_raises(spark, halves):
    path, pts, base, extra = halves            # 1
    time.sleep(0.01)
    t1 = time.time()
    time.sleep(0.01)
    C.append_clustered(extra, path, files=1)   # 2
    C.append_clustered(extra, path, files=1)   # 3
    C.expire_snapshots(path, keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        C.snapshot_as_of(path, t1)


def test_history_repaired_after_crash_before_log_line(spark, halves):
    """A crash between a cut-over and its history line loses the line,
    never the state: the next cut-over logs the superseded head first,
    made current at its manifest's mtime. Covers the first commit, a
    later commit and a fast-forward publish; history_df and
    snapshot_as_of then read as if no line had been lost."""
    import os

    path, pts, base, extra = halves            # 1
    hist = os.path.join(path, C.SNAP_DIR, C.HISTORY_FILE)

    def crash():
        # the on-disk state of a crash right after the cut-over
        with open(hist) as f:
            lines = f.readlines()
        with open(hist, "w") as f:
            f.writelines(lines[:-1])
        time.sleep(0.05)
        return os.path.getmtime(os.path.join(path, C.MANIFEST))

    def commit(branch=None):
        C.append_clustered(extra.limit(20), path, files=1, branch=branch)
        time.sleep(0.05)

    at1 = crash()                              # the first commit's line
    assert C.history_df(spark, path).count() == 0
    commit()                                   # 2: repairs 1
    commit()                                   # 3
    at3 = crash()
    commit()                                   # 4: repairs 3
    C.create_branch(path, "b")
    commit(branch="b")                         # 5: staged
    t_staged = time.time()
    time.sleep(0.05)
    C.fast_forward_clustered(path, "b")
    at5 = crash()                              # the publish's line
    commit()                                   # 6: repairs 5

    h = [r.asDict() for r in C.history_df(spark, path).collect()]
    assert [r["snapshot_id"] for r in h] == [1, 2, 3, 4, 5, 6]
    # a repaired line carries its head's operation as the event
    assert [r["event"] for r in h] == ["overwrite"] + ["append"] * 5
    made = {r["snapshot_id"]: r["made_current_at"] for r in h}
    assert (made[1], made[3], made[5]) == (at1, at3, at5)
    assert all(r["is_current_ancestor"] for r in h)
    assert C.snapshot_as_of(path, at1) == 1
    assert C.snapshot_as_of(path, at3) == 3
    assert C.snapshot_as_of(path, t_staged) == 4
    assert C.snapshot_as_of(path, at5) == 5
    assert C.snapshot_as_of(path, time.time()) == 6
    # the log is whole again: one line per event, none repeated
    with open(hist) as f:
        assert len(f.readlines()) == 6


def test_cherry_pick_append_from_diverged_branch(spark, halves):
    """The diverged-WAP release valve: main advanced after the branch
    forked, fast-forward refuses, but the branch's single APPEND commit
    can be cherry-picked onto main — content lands, history records it,
    and the shared data files are not duplicated."""
    path, pts, base, extra = halves                       # main head = 1
    C.create_branch(path, "b")
    odd = extra.limit(40)
    C.append_clustered(odd, path, files=1, branch="b")    # id 2 (staged)
    C.append_clustered(extra, path, files=1)              # id 3: main advanced
    with pytest.raises(ValueError, match="diverged"):
        C.fast_forward_clustered(path, "b")

    n_files_before = len(C.load_manifest(path)["files"])
    man = C.cherry_pick_clustered(path, "b")              # pick branch head
    assert man["operation"] == "cherry-pick:2"
    assert int(man["snapshot_id"]) == 4
    assert man["summary"]["cherry_picked_from"] == 2

    # content equality: main = base + extra + the picked odd rows
    want = sorted(
        [r["o_orderkey"] for r in base.select("o_orderkey").collect()]
        + [r["o_orderkey"] for r in extra.select("o_orderkey").collect()]
        + [r["o_orderkey"] for r in odd.select("o_orderkey").collect()]
    )
    got = sorted(
        r["o_orderkey"]
        for r in C.clustered_scan(spark, path).select("o_orderkey").collect()
    )
    assert got == want
    # files shared, not copied: exactly the staged file(s) joined main
    assert len(man["files"]) == n_files_before + 1
    # history shows the pick as a made-current event
    h = [r.asDict() for r in C.history_df(spark, path).collect()]
    assert h[-1]["snapshot_id"] == 4
    assert h[-1]["event"] == "cherry-pick:2"


def test_cherry_pick_refuses_row_replacing_ops(spark, halves):
    path, pts, base, extra = halves                       # main head = 1
    C.create_branch(path, "b")
    C.append_clustered(extra, path, files=1, branch="b")  # id 2: append
    # id 3: a COW delete on the branch REWRITES files (row-replacing)
    C.delete_clustered(spark, path, F.col("o_orderkey") % 2 == 1, branch="b")
    C.append_clustered(extra.limit(3), path, files=1)     # id 4: main diverges
    with pytest.raises(ValueError, match="removed"):
        C.cherry_pick_clustered(path, "b")                # head is a rewrite
    # the root overwrite has no parent: not an append, refused
    with pytest.raises(ValueError, match="no parent"):
        C.cherry_pick_clustered(path, 1)
