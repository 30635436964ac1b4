"""Driver-written batches (``io/clustered._write_batch``): a batch whose
optimized plan is a LocalRelation (built from pandas) is written by the
driver with pyarrow and runs no Spark job; any other batch is written by
Spark. Both writers must leave the same table: manifests equal modulo
file names, and equal rows through every reader, at every snapshot."""

import json
import os
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatial4n_spark.io import clustered as C
from spatial4n_spark.kernels.s2cell import s2_encode

SCHEMA = "id long, lon double, lat double, name string, ts timestamp"
BIG = 2**53 + 1  # ids a double cannot hold
HOT = (2.0, 48.5)  # many rows on one cell


def _ts(micros):
    return pd.to_datetime(np.asarray(micros, dtype=np.int64), unit="us", utc=True)


def _pdf(ids, lon, lat, name=None, ts=None):
    """A batch of ``SCHEMA``; ``name`` and ``ts`` default to nulls."""
    n = len(ids)
    return pd.DataFrame({
        "id": pd.array(ids, dtype="Int64"),
        "lon": np.asarray(lon, dtype=np.float64),
        "lat": np.asarray(lat, dtype=np.float64),
        "name": pd.Series([None] * n if name is None else name, dtype=object),
        "ts": pd.array([pd.NaT] * n, dtype="datetime64[ns, UTC]") if ts is None else ts,
    })


class Writer:
    """Hands each batch to the table as a pandas-built local relation
    (the driver path) or as a frame read back from parquet (the Spark
    path), so both tables get the same rows."""

    def __init__(self, spark, tmp, local: bool):
        self.spark, self.tmp, self.local, self.n = spark, tmp, local, 0

    def __call__(self, pdf, schema=SCHEMA):
        df = self.spark.createDataFrame(pdf, schema)
        if self.local:
            return df
        self.n += 1
        src = str(self.tmp / f"src-{self.n}")
        df.coalesce(1).write.parquet(src)
        return self.spark.read.schema(df.schema).parquet(src)


def _tree(path):
    return sorted(
        os.path.relpath(os.path.join(d, n), path)
        for d, _, names in os.walk(path)
        for n in names
    )


def _lifecycle(spark, path, mk, model):
    """Every write the two writers share, from one base table. ``model``
    maps each live non-null id to (lon, lat) and counts null-id rows."""
    rng = np.random.default_rng(17)

    def apply(pdf, replace):
        for r in pdf.itertuples():
            if pd.isna(r.id):
                model["null_ids"] += 1
            elif replace or r.id not in model["rows"]:
                model["rows"][int(r.id)] = (r.lon, r.lat)

    # append: 300 rows on one cell among 600 (files=4 must not split
    # it), ids above 2**53, null coordinates, a string and a timestamp
    # column with microseconds around a daylight-saving fall-back
    n = 600
    lon, lat = rng.uniform(-180, 180, n), rng.uniform(-89, 89, n)
    lon[:300], lat[:300] = HOT
    lon[300:305] = np.nan
    lat[305:308] = np.nan
    names = [None if i % 7 == 0 else f"n{i}-é" for i in range(n)]
    ts = _ts(1_636_263_000_123_456 + np.arange(n) * 3_600_000_000 // 50)
    a = _pdf(BIG + np.arange(n), lon, lat, name=names, ts=ts)
    C.append_clustered(mk(a), path, files=4)
    apply(a, True)
    C.create_tag(path, "after-a")

    # add-column and omitted-column evolution
    b = _pdf(10**6 + np.arange(50), rng.uniform(-10, 10, 50), rng.uniform(-10, 10, 50),
             ts=_ts(np.arange(50))).drop(columns="name")
    b["tag"] = [f"t{i}" for i in range(50)]
    C.append_clustered(mk(b, "id long, lon double, lat double, ts timestamp, tag string"),
                       path, files=2)
    apply(b, True)

    # a type change raises before any file lands, and releases the lock
    before = _tree(path)
    bad = mk(_pdf([1], [0.0], [0.0], name=[7]).drop(columns="ts"),
             "id long, lon double, lat double, name long")
    for write in (
        lambda: C.append_clustered(bad, path, files=1),
        lambda: C.upsert_clustered(spark, bad, path, key="id", strategy="mor"),
        lambda: C.upsert_clustered(spark, bad, path, key="id", strategy="cow"),
    ):
        with pytest.raises(ValueError, match="not changing types"):
            write()
        assert _tree(path) == before and not os.path.exists(C.lock_path(path))

    # MOR upsert: 20 moved keys, 10 new ones, 3 null keys
    moved = list(range(0, 40, 2))
    ids = moved + list(range(2000, 2010)) + [None] * 3
    u1 = _pdf(ids, rng.uniform(-5, 5, 33), rng.uniform(-5, 5, 33), name=["u1"] * 33)
    C.upsert_clustered(spark, mk(u1), path, key="id", files=2, strategy="mor")
    apply(u1, True)
    # every key null: rows insert, nothing is deleted
    u2 = _pdf([None] * 5, rng.uniform(-5, 5, 5), rng.uniform(-5, 5, 5))
    C.upsert_clustered(spark, mk(u2), path, key="id", files=1, strategy="mor")
    apply(u2, True)
    # re-upsert a key the first upsert inserted, and an appended one
    u3 = _pdf([2003, BIG + 1], [1.5, 2.5], [3.5, 4.5], name=["u3", "u3"])
    C.upsert_clustered(spark, mk(u3), path, key="id", files=1, strategy="mor")
    apply(u3, True)
    # COW upsert: the insert half is the shared batch write
    u4 = _pdf(list(range(1, 21, 2)) + [3000, 3001], rng.uniform(-5, 5, 12),
              rng.uniform(-5, 5, 12), ts=_ts(np.arange(12) * 7))
    C.upsert_clustered(spark, mk(u4), path, key="id", files=2, strategy="cow")
    apply(u4, True)
    # an empty batch commits an empty append (filtered after the build:
    # pandas builds an empty frame as an RDD, not a local relation)
    C.append_clustered(mk(_pdf([7], [0.0], [0.0])).where(F.col("id") < 0), path, files=2)

    # branch staging: the main table does not move
    C.create_branch(path, "b")
    s1 = _pdf([4000, 4001], [10.0, 11.0], [20.0, 21.0], name=["s", "s"])
    C.append_clustered(mk(s1), path, files=1, branch="b")
    s2 = _pdf([4000, 5, None], [12.0, 13.0, 14.0], [22.0, 23.0, 24.0])
    C.upsert_clustered(spark, mk(s2), path, key="id", files=1, strategy="mor", branch="b")


def _shape(man):
    """A manifest with file names taken out: delete targets are named
    by their target entry's (min, max, rows)."""
    sig = {e["file"]: (e["min"], e["max"], e["rows"]) for e in man["files"]}
    return {
        "files": sorted(
            (e["min"], e["max"], e["rows"], json.dumps(e["cols"], sort_keys=True))
            for e in man["files"]
        ),
        "deletes": sorted(
            (d["rows"], sorted(sig[t] for t in d["targets"]), d["kind"],
             d.get("key"))
            for d in man["deletes"]
        ),
        **{k: man[k] for k in ("schema", "summary", "operation", "level", "snapshot_id",
                               "parent_id")},
    }


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _reads(spark, path, ref):
    """Every reader's answer at ``ref`` (a snapshot id, tag or branch)."""
    man = C.load_manifest(path, ref)
    names = [e["file"] for e in man["files"]]
    local = C._read_files_local(path, man, names)
    out = {
        "read_files": _rows(C._read_files(spark, path, man, names)),
        "read_files_local": sorted(map(repr, local.to_pylist())),
        "scan": _rows(C.clustered_scan(spark, path, {"id": (0, 10**7)}, snapshot_id=ref)),
    }
    for qlon, qlat, r in ((*HOT, 1.0), (0.0, 0.0, 900.0), (179.0, 80.0, 3000.0)):
        df, stats = C.clustered_radius_query(
            spark, path, qlon, qlat, r, with_stats=True, snapshot_id=ref
        )
        out[f"radius {qlon},{qlat},{r}"] = (_rows(df), stats)
    return out, local


def test_local_writes_equal_spark_writes(spark, tmp_path, monkeypatch):
    # collected Row timestamps are naive local times: run in a zone with
    # daylight saving so an inexact conversion shows
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        _check_local_writes_equal_spark_writes(spark, tmp_path)
    finally:
        monkeypatch.undo()
        time.tzset()


def _check_local_writes_equal_spark_writes(spark, tmp_path):
    import shutil

    rng = np.random.default_rng(3)
    base = _pdf(np.arange(400), rng.uniform(-180, 180, 400), rng.uniform(-89, 89, 400),
                name=[f"b{i}" for i in range(400)], ts=_ts(np.arange(400) * 1_000_003))
    seed = str(tmp_path / "seed")
    C.write_clustered(spark.createDataFrame(base, SCHEMA), seed, level=14, files=4)
    paths, models = {}, {}
    for local in (True, False):
        path = str(tmp_path / ("local" if local else "spark"))
        shutil.copytree(seed, path)
        model = {"rows": {int(r.id): (r.lon, r.lat) for r in base.itertuples()}, "null_ids": 0}
        _lifecycle(spark, path, Writer(spark, tmp_path, local), model)
        paths[local], models[local] = path, model

    lp, sp = paths[True], paths[False]
    assert [s["snapshot_id"] for s in C.snapshots(lp)] == list(range(1, 9))
    assert C.table_refs(lp) == C.table_refs(sp) == {"after-a": 2, "b": 10}
    for ref in [*range(1, 11), "after-a", "b", None]:
        assert _shape(C.load_manifest(lp, ref)) == _shape(C.load_manifest(sp, ref)), ref
        (got, local_tbl), (want, _) = _reads(spark, lp, ref), _reads(spark, sp, ref)
        assert got == want, ref
    man = C.load_manifest(lp)
    assert {d["kind"] for d in man["deletes"]} == {"eq"}
    # files=4 kept the 300 rows of the hot cell in one file
    first = {e["file"] for e in C.load_manifest(lp, 1)["files"]}
    added = [e for e in C.load_manifest(lp, "after-a")["files"] if e["file"] not in first]
    cell = int(s2_encode(np.array([HOT[1]]), np.array([HOT[0]]), 14)[0])
    assert len(added) == 4
    assert sum(e["min"] <= cell <= e["max"] for e in added) == 1

    # the live rows equal the model
    ids = local_tbl["id"].to_pylist()
    assert ids.count(None) == models[True]["null_ids"] == 8
    live = {
        i: (lo, la)
        for i, lo, la in zip(ids, local_tbl["lon"].to_pylist(), local_tbl["lat"].to_pylist())
        if i is not None
    }
    want = {
        i: tuple(None if v != v else v for v in xy) for i, xy in models[True]["rows"].items()
    }
    assert len(live) == len(ids) - 8 and live == want
    big = [i for i in ids if i is not None and i >= BIG]
    assert min(big) == BIG and max(big) == BIG + 599

    # kNN on the current state, hot cell included
    queries = [("hot", *HOT), ("equator", 0.5, 0.5), ("pole", 10.0, 88.0)]
    knn = [
        sorted(((r["query_id"], r["id"], r["rank"], r["dist_km"].hex())
                for r in C.clustered_knn(spark, p, queries, k=7, id_col="id").collect()),
               key=repr)
        for p in (lp, sp)
    ]
    assert knn[0] == knn[1] and len(knn[0]) == 21


def test_local_writes_run_no_spark_job(spark, tmp_path, monkeypatch):
    """A pandas-built 500-row append and 200-row MOR upsert run no Spark
    job; a parquet-derived batch, or a local one above the row budget,
    still takes the Spark path."""
    path = str(tmp_path / "t")
    rng = np.random.default_rng(5)
    schema = "id long, lon double, lat double, w long"

    def batch(ids):
        n = len(ids)
        return pd.DataFrame({"id": ids, "lon": rng.uniform(-180, 180, n),
                             "lat": rng.uniform(-89, 89, n), "w": np.ones(n, np.int64)})

    C.write_clustered(spark.createDataFrame(batch(np.arange(2000)), schema), path,
                      level=14, files=4)
    sc = spark.sparkContext

    def jobs(group, write):
        sc.setJobGroup(group, group)
        try:
            write()
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    app, ups = batch(np.arange(2000, 2500)), batch(np.arange(0, 2000, 10))
    assert jobs("local-append", lambda: C.append_clustered(
        spark.createDataFrame(app, schema), path, files=1)) == 0
    assert jobs("local-upsert", lambda: C.upsert_clustered(
        spark, spark.createDataFrame(ups, schema), path, key="id", files=1,
        strategy="mor")) == 0
    man = C.load_manifest(path)
    assert man["summary"]["n_rows"] == 2700 and man["summary"]["eq_delete_keys"] == 200
    src = str(tmp_path / "src")
    spark.createDataFrame(batch(np.arange(3000, 3500)), schema).write.parquet(src)
    assert jobs("spark-append", lambda: C.append_clustered(
        spark.read.parquet(src), path, files=1)) >= 1
    monkeypatch.setattr(C, "_LOCAL_READ_ROWS", 499)
    assert jobs("over-budget-append", lambda: C.append_clustered(
        spark.createDataFrame(batch(np.arange(4000, 4500)), schema), path, files=1)) >= 1
    assert C.load_manifest(path)["summary"]["n_rows"] == 3700


def test_derived_cell_schema_equals_udf_schema(spark):
    """The driver writer derives the written schema (``_cell_schema``)
    instead of building the cell UDF column: for a pandas-built and a
    list-built frame, with and without a column of the cell column's
    name, it equals the schema ``withColumn`` gives."""
    from spatial4n_spark.cellindex import cell_backend

    udf = cell_backend("s2").udf(14)(F.col("lat"), F.col("lon"))
    pdf = _pdf([1, None], [2.0, np.nan], [48.5, 3.0], name=["a", None], ts=_ts([0, 5]))
    frames = [
        spark.createDataFrame(pdf, SCHEMA),
        spark.createDataFrame([(1, 2.0, 48.5, "a", None)], SCHEMA),
        spark.createDataFrame([(1, 2.0, 48.5, 7)], "id long, lon double, lat double, cell_r int"),
        spark.createDataFrame(pd.DataFrame({"CELL_R": ["x"], "lon": [1.0], "lat": [2.0]})),
    ]
    for df in frames:
        assert C._cell_schema(df.schema) == df.withColumn(C.CELL_COL, udf).schema


def test_local_write_crash_before_commit(spark, tmp_path, monkeypatch):
    """A driver-written MOR upsert that dies after its data and
    equality-delete files land, before the manifest commit: every
    reader is unchanged, the lock is released, the next append commits
    and ``remove_orphan_files`` reclaims exactly the two orphans."""
    path = str(tmp_path / "t")
    rng = np.random.default_rng(9)
    schema = "id long, lon double, lat double"

    def batch(ids):
        n = len(ids)
        return spark.createDataFrame(
            pd.DataFrame({"id": ids, "lon": rng.uniform(-180, 180, n),
                          "lat": rng.uniform(-89, 89, n)}), schema)

    C.write_clustered(batch(np.arange(1000)), path, level=14, files=4)
    queries = [("a", 0.0, 0.0), ("b", 100.0, -40.0)]

    def readers():
        man = C.load_manifest(path)
        names = [e["file"] for e in man["files"]]
        return (
            man["snapshot_id"],
            _rows(C._read_files(spark, path, man, names)),
            sorted(map(repr, C._read_files_local(path, man, names).to_pylist())),
            _rows(C.clustered_radius_query(spark, path, 0.0, 0.0, 5000.0)),
            _rows(C.clustered_knn(spark, path, queries, k=5, id_col="id")),
        )

    before, tree = readers(), set(_tree(path))

    def crash(*args, **kwargs):
        raise RuntimeError("crash before commit")

    with monkeypatch.context() as m:
        m.setattr(C, "_write_manifest", crash)
        with pytest.raises(RuntimeError, match="crash before commit"):
            C.upsert_clustered(spark, batch(np.arange(0, 1000, 5)), path, key="id",
                               files=1, strategy="mor")
    assert not os.path.exists(C.lock_path(path))
    assert readers() == before
    landed = set(_tree(path)) - tree
    data = [n for n in landed if "/" not in n]
    eq_dirs = {os.path.dirname(n) for n in landed if n.startswith(C.DELETE_DIR)}
    assert len(data) == 1 and len(eq_dirs) == 1 and len(landed) == 2

    C.append_clustered(batch(np.arange(1000, 1010)), path, files=1)
    man = C.load_manifest(path)
    assert man["snapshot_id"] == before[0] + 1 and man["summary"]["n_rows"] == 1010
    swept = C.remove_orphan_files(path)
    assert swept["removed_files"] == data
    assert swept["removed_delete_files"] == sorted(eq_dirs)
    assert C.load_manifest(path)["summary"]["n_rows"] == 1010
