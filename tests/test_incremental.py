"""Incremental (CDC-style) scans, the resumable consumer, and the
``.files`` metadata table over the snapshot-versioned layouts
(io/clustered.py, flat and day-partitioned tables) — the Iceberg
incremental-append-scan / metadata-table analogs.

Contract under test:
- ``incremental_scan(frm, to)`` returns EXACTLY the rows appended over
  (frm, to] — never base rows, never rows from outside the range;
- compaction ('replace') contributes nothing; row-replacing commits
  (delete/upsert/overwrite/rollback) raise; expired ranges raise;
- ``next_increment`` + ``commit()`` resume correctly from any crash
  point (uncommitted increments re-deliver, committed ones don't);
- ``files_df`` answers file metadata from the manifest alone and
  time-travels.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from spatial4n_spark.io import clustered as C
from spatial4n_spark.suite import pts_orders


def _ids(df):
    return sorted(r[0] for r in df.select("o_orderkey").collect())


@pytest.fixture(scope="module")
def table(spark, sf_dir, tmp_path_factory):
    """snapshot 1 = base write (key%3==0), 2 = append (key%3==1),
    3 = append (key%3==2), 4 = compaction (replace)."""
    path = str(tmp_path_factory.mktemp("inc"))
    pts = pts_orders(spark, sf_dir)
    parts = [pts.where(F.col("o_orderkey") % 3 == i) for i in range(3)]
    C.write_clustered(parts[0], path, level=14, files=4)
    C.append_clustered(parts[1], path, files=2)
    C.append_clustered(parts[2], path, files=2)
    C.compact_clustered(spark, path, files=4)
    return path, parts


def test_increment_is_exactly_the_appended_rows(spark, table):
    path, parts = table
    assert _ids(C.incremental_scan(spark, path, 1, 2)) == _ids(parts[1])
    assert _ids(C.incremental_scan(spark, path, 2, 3)) == _ids(parts[2])
    assert _ids(C.incremental_scan(spark, path, 1, 3)) == _ids(
        parts[1].unionAll(parts[2])
    )


def test_from_zero_includes_the_initial_write(spark, table):
    path, parts = table
    want = _ids(parts[0].unionAll(parts[1]).unionAll(parts[2]))
    assert _ids(C.incremental_scan(spark, path, 0, 3)) == want


def test_replace_contributes_nothing_and_caught_up_is_empty(spark, table):
    path, parts = table
    # snapshot 4 is the compaction: (3, 4] adds no rows but keeps schema
    inc = C.incremental_scan(spark, path, 3, 4)
    assert inc.count() == 0
    assert "o_orderkey" in inc.columns
    # caught-up consumer: empty with the right shape
    cur = int(C.load_manifest(path)["snapshot_id"])
    assert C.incremental_scan(spark, path, cur).count() == 0


def test_snapshot_col_carries_per_batch_lineage(spark, table):
    path, parts = table
    inc = C.incremental_scan(spark, path, 1, 3, snapshot_col="_snap")
    got = {
        int(r["_snap"]): r["n"]
        for r in inc.groupBy("_snap").agg(F.count("*").alias("n")).collect()
    }
    assert got == {2: parts[1].count(), 3: parts[2].count()}


def test_row_replacing_commits_raise(spark, sf_dir, tmp_path):
    path = str(tmp_path / "del")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts.where(F.col("o_orderkey") % 2 == 0), path, files=2)
    C.append_clustered(pts.where(F.col("o_orderkey") % 2 == 1), path, files=1)
    C.delete_clustered(spark, path, F.col("o_orderkey") % 4 == 0)
    with pytest.raises(ValueError, match="delete"):
        C.incremental_scan(spark, path, 1)
    # a range that stops BEFORE the delete is fine
    assert C.incremental_scan(spark, path, 1, 2).count() > 0


def test_expired_range_raises(spark, sf_dir, tmp_path):
    path = str(tmp_path / "exp")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts.limit(100), path, level=14, files=1)
    for _ in range(4):
        C.append_clustered(pts.limit(50), path, files=1)
    C.expire_snapshots(path, keep_last=2)
    with pytest.raises(ValueError, match="expired|does not exist"):
        C.incremental_scan(spark, path, 1, 3)


def test_resumable_consumer_at_least_once(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    state = str(tmp_path / "consumer.json")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts.where(F.col("o_orderkey") % 2 == 0), path, files=2)
    # fresh consumer sees everything since the beginning
    inc = C.next_increment(spark, path, state)
    assert inc is not None and inc.from_snapshot == 0 and inc.to_snapshot == 1
    n1 = inc.df.count()
    # crash BEFORE commit: the same increment re-delivers
    inc2 = C.next_increment(spark, path, state)
    assert (inc2.from_snapshot, inc2.to_snapshot) == (0, 1)
    assert inc2.df.count() == n1
    inc2.commit()
    # committed: caught up
    assert C.next_increment(spark, path, state) is None
    # new append: exactly the new rows
    extra = pts.where(F.col("o_orderkey") % 2 == 1)
    C.append_clustered(extra, path, files=1)
    inc3 = C.next_increment(spark, path, state)
    assert (inc3.from_snapshot, inc3.to_snapshot) == (1, 2)
    assert _ids(inc3.df) == _ids(extra)
    inc3.commit()
    assert json.load(open(state))["snapshot_id"] == 2


def test_files_df_matches_manifest_and_time_travels(spark, table):
    path, _ = table
    man = C.load_manifest(path)
    fdf = C.files_df(spark, path)
    rows = {r["file"]: r for r in fdf.collect()}
    assert set(rows) == {e["file"] for e in man["files"]}
    for e in man["files"]:
        r = rows[e["file"]]
        assert (r["rows"], r["cell_min"], r["cell_max"]) == (
            e["rows"],
            e["min"],
            e["max"],
        )
        assert r["day"] is None
        stats = json.loads(r["column_stats"])
        assert stats["o_orderkey"] == list(e["cols"]["o_orderkey"])
    # time travel: snapshot 1's file set, not the compacted one
    man1 = C.load_manifest(path, 1)
    fdf1 = C.files_df(spark, path, snapshot_id=1)
    assert {r["file"] for r in fdf1.collect()} == {
        e["file"] for e in man1["files"]
    }


def test_st_incremental_and_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "st")
    state = str(tmp_path / "st_consumer.json")
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.expr(
            "timestampadd(SECOND, CAST((o_orderkey % 4) * 86400 AS BIGINT), "
            "TIMESTAMP_NTZ'2024-01-01 00:00:00')"
        ),
    )
    base = pts.where(F.col("o_orderkey") % 2 == 0)
    extra = pts.where(F.col("o_orderkey") % 2 == 1)
    C.write_clustered(base, path, level=14, files=4, day_of="ts")
    C.append_clustered(extra, path, files=2)
    inc = C.incremental_scan(spark, path, 1, 2)
    assert _ids(inc) == _ids(extra)
    # the day partition column materializes on incremental reads
    assert C.DAY_COL in inc.columns
    # odd keys land on days 2 and 4 of the (key%4)-derived calendar
    days = {
        r[0]
        for r in inc.select(
            F.col(C.DAY_COL).cast("string")
        ).distinct().collect()
    }
    assert days == {"2024-01-02", "2024-01-04"}
    # consumer over the day table
    i1 = C.next_increment(spark, path, state)
    assert (i1.from_snapshot, i1.to_snapshot) == (0, 2)
    i1.commit()
    assert C.next_increment(spark, path, state) is None
    # files metadata carries the day partition
    fdf = C.files_df(spark, path)
    man = C.load_manifest(path)
    rows = {r["file"]: r for r in fdf.collect()}
    assert set(rows) == {e["file"] for e in man["files"]}
    assert all(rows[e["file"]]["day"] == e["day"] for e in man["files"])
    # a compaction then a delete: replace skipped, delete raises
    C.compact_clustered(spark, path, files=4, day="2024-01-02")
    assert C.incremental_scan(spark, path, 2, 3).count() == 0
    C.delete_clustered(spark, path, F.col("o_orderkey") % 10 == 0)
    with pytest.raises(ValueError, match="delete"):
        C.incremental_scan(spark, path, 2)


def test_incremental_pip_job_resumes_and_is_exactly_once(
    spark, tmp_path, monkeypatch, capsys
):
    """jobs/incremental_pip.py (the spark-submit consumer job) driven
    in-process: seed run drains (0,1], append run drains only (1,2],
    a third run is a no-op; a simulated crash BETWEEN the result write
    and the consumer commit re-delivers the increment and the
    range-keyed output overwrites itself (exactly-once); the derived
    table equals the batch PIP join of the full source."""
    import importlib
    import sys

    sys.path.insert(0, ".")
    job = importlib.import_module("jobs.incremental_pip")
    work = str(tmp_path / "w")

    def run(*extra):
        monkeypatch.setattr(
            sys, "argv", ["incremental_pip.py", "--work", work, "--rows", "20000"]
            + list(extra),
        )
        assert job.main() == 0
        out = capsys.readouterr().out.strip().splitlines()[-1]
        return json.loads(out)

    r1 = run()
    assert r1["increments_drained"] == [[0, 1]]
    r2 = run("--append", "10000")
    assert r2["increments_drained"] == [[1, 2]]
    assert r2["total_result_rows"] == r1["total_result_rows"] + r2["new_result_rows"]
    r3 = run()
    assert r3["increments_drained"] == []
    assert r3["total_result_rows"] == r2["total_result_rows"]

    # crash window: roll the consumer state back to 1 (as if the commit
    # never happened after the (1,2] output landed) — the rerun must
    # re-deliver (1,2] and converge to the same totals, not double them
    with open(os.path.join(work, "consumer_state.json"), "w") as f:
        json.dump({"snapshot_id": 1}, f)
    r4 = run()
    assert r4["increments_drained"] == [[1, 2]]
    assert r4["total_result_rows"] == r2["total_result_rows"]

    # the derived table equals the batch join over the full source
    from spatial4n_spark.io.clustered import CELL_COL, _read_listed
    from spatial4n_spark.operators.spatial_join import (
        spatial_join_points_polygons,
    )
    from spatial4n_spark.suite import layer

    full = spatial_join_points_polygons(
        _read_listed(spark, os.path.join(work, "source")).drop(CELL_COL),
        layer(), level=3, index="s2",
    ).select("pid", "poly_id")
    got = spark.read.parquet(
        *[str(p) for p in (tmp_path / "w" / "result").iterdir()]
    ).select("pid", "poly_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, full.collect()))
