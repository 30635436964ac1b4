"""The clustered-table manifest format (io/clustered.py): every writer
commits a manifest, a snapshot file and refs that pass the format check
``_load`` applies to each file it parses, and a table in an older shape
raises an error that names the missing key instead of being read by
guesswork."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spatial4n_spark.io import clustered as C

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("d", T.DateType()),
    ]
)


def _point(i: int) -> tuple:
    """Row ``i``: coordinates spread over the globe, one of four days."""
    return (
        i,
        float(i * 37 % 360 - 180),
        float(i * 13 % 170 - 85),
        dt.date(2024, 1, 1) + dt.timedelta(days=i % 4),
    )


def _spark_points(spark, lo: int, hi: int):
    """Rows [lo, hi) as a frame whose plan is a file scan: the Spark writer."""
    return spark.range(lo, hi).select(
        "id",
        (F.col("id") * 37 % 360 - 180).cast("double").alias("lon"),
        (F.col("id") * 13 % 170 - 85).cast("double").alias("lat"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 4).cast("int")).alias("d"),
    )


def _local_points(spark, lo: int, hi: int):
    """Rows [lo, hi) as a local relation: the driver writer on a flat table."""
    return spark.createDataFrame([_point(i) for i in range(lo, hi)], SCHEMA)


def _check(path: str) -> dict:
    """The table's manifest, its snapshot file, refs.json and every
    ref's snapshot pass the format check; the snapshot file equals the
    manifest. Returns the manifest."""
    man = C._read_manifest_file(os.path.join(path, C.MANIFEST))
    assert C._read_manifest_file(C._snap_file(path, man["snapshot_id"])) == man
    for r in C._load_refs(path).values():
        assert r["type"] in ("tag", "branch")
        C._read_manifest_file(C._snap_file(path, r["snapshot_id"]))
    return man


@pytest.mark.parametrize("day", [False, True], ids=["flat", "day"])
def test_every_writer_emits_the_checked_format(spark, tmp_path, day):
    path = str(tmp_path / "t")
    C.write_clustered(
        _spark_points(spark, 0, 400), path, level=10, files=4, day_of="d" if day else None
    )
    _check(path)
    C.create_tag(path, "v1")
    _check(path)
    C.append_clustered(_local_points(spark, 400, 450), path, files=2)
    _check(path)
    C.append_clustered(_spark_points(spark, 450, 500), path, files=2)
    _check(path)
    C.delete_clustered(spark, path, F.col("id") % 10 == 0)
    _check(path)
    C.delete_clustered(spark, path, F.col("id") % 10 == 1, strategy="mor")
    assert [d["kind"] for d in _check(path)["deletes"]] == ["pos"]
    C.upsert_clustered(spark, _spark_points(spark, 100, 120), path, key="id")
    _check(path)
    C.upsert_clustered(spark, _local_points(spark, 130, 150), path, key="id", strategy="mor")
    assert [d["kind"] for d in _check(path)["deletes"]] == ["pos", "eq"]
    C.compact_clustered(spark, path, files=3)
    assert _check(path)["deletes"] == []
    C.compact_clustered(spark, path, files=3, level=12)
    assert _check(path)["level"] == 12
    C.rollback_clustered(path, 2)
    _check(path)
    C.create_branch(path, "b")
    _check(path)
    C.append_clustered(_spark_points(spark, 500, 520), path, files=1, branch="b")
    _check(path)
    C.fast_forward_clustered(path, "b")
    _check(path)
    C.create_branch(path, "c")
    C.append_clustered(_local_points(spark, 520, 530), path, files=1, branch="c")
    C.append_clustered(_local_points(spark, 530, 540), path, files=1)
    C.cherry_pick_clustered(path, "c")
    man = _check(path)
    assert man["operation"] == f"cherry-pick:{C.table_refs(path)['c']}"
    assert bool(man.get("day_of")) == day
    with open(os.path.join(path, C.SNAP_DIR, C.REFS_FILE)) as f:
        assert all(isinstance(r, dict) for r in json.load(f).values())


def test_old_shapes_raise_named_error(spark, tmp_path):
    """No snapshot_id, no schema, a bare-int tag and a position delete
    without ``kind`` each raise a ValueError naming the key and the
    rewrite, from the manifest and from a snapshot file alike."""
    path = str(tmp_path / "t")
    C.write_clustered(_spark_points(spark, 0, 200), path, level=10, files=2)
    C.delete_clustered(spark, path, F.col("id") % 10 == 1, strategy="mor")
    C.create_tag(path, "v1", 1)
    mpath = os.path.join(path, C.MANIFEST)
    with open(mpath) as f:
        man = json.load(f)

    def without(obj, key):
        return {k: v for k, v in obj.items() if k != key}

    shapes = {
        "snapshot_id": without(man, "snapshot_id"),
        "schema": without(man, "schema"),
        "kind": {**man, "deletes": [without(d, "kind") for d in man["deletes"]]},
    }
    for key, shape in shapes.items():
        C._atomic_json_write(mpath, shape)
        with pytest.raises(ValueError, match=f"no '{key}'.*rewrite the table with write_clustered"):
            C.load_manifest(path)
    C._atomic_json_write(mpath, {**man, "schema": None})
    with pytest.raises(ValueError, match="no 'schema'"):
        C.load_manifest(path)
    C._atomic_json_write(mpath, man)
    assert C.load_manifest(path)["snapshot_id"] == 2

    snap1 = C._snap_file(path, 1)
    with open(snap1) as f:
        first = json.load(f)
    C._atomic_json_write(snap1, without(first, "schema"))
    with pytest.raises(ValueError, match="no 'schema'"):
        C.load_manifest(path, 1)
    C._atomic_json_write(snap1, first)

    refs = os.path.join(path, C.SNAP_DIR, C.REFS_FILE)
    C._atomic_json_write(refs, {"v1": 1})
    with pytest.raises(ValueError, match="ref 'v1'.*no 'type'.*write_clustered"):
        C.load_manifest(path, "v1")
    with pytest.raises(ValueError, match="no 'type'"):
        C.create_tag(path, "v2")
