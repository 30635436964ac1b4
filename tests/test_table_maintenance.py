"""jobs/table_maintenance.py (the scheduled maintenance job) driven
in-process: it reads the table's day spec from the manifest, compacts
only what is fragmented — per day on a day-partitioned table, the whole
table on a flat one — and reports it in its JSON line."""

import json

from pyspark.sql import functions as F

from spatial4n_spark.io import clustered as C
from spatial4n_spark.suite import pts_orders


def _run(capsys, *args):
    import importlib
    import sys

    sys.path.insert(0, ".")
    job = importlib.import_module("jobs.table_maintenance")
    assert job.main([*args]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _keys(spark, path):
    man = C.load_manifest(path)
    df = C._read_files(spark, path, man, [e["file"] for e in man["files"]])
    return sorted(r[0] for r in df.select("o_orderkey").collect())


def test_maintenance_compacts_only_the_fragmented_day(spark, sf_dir, tmp_path, capsys):
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.expr(
            "timestampadd(SECOND, CAST((o_orderkey % 2) * 86400 AS BIGINT), "
            "TIMESTAMP_NTZ'2024-01-01 00:00:00')"
        ),
    )
    path = str(tmp_path / "day")
    C.write_clustered(pts.where(F.col("o_orderkey") % 4 < 2), path, level=14, files=2, day_of="ts")
    late = pts.where(F.col("o_orderkey") % 4 == 3)  # day 2024-01-02 only
    for m in range(3):
        C.append_clustered(late.where(F.col("o_orderkey") % 3 == m), path, files=1)
    before = C.load_manifest(path)["files"]
    by_day = {d: [e["file"] for e in before if e["day"] == d] for d in ("2024-01-01", "2024-01-02")}
    threshold = len(by_day["2024-01-01"])
    assert threshold < len(by_day["2024-01-02"])
    keys = _keys(spark, path)

    rep = _run(
        capsys, "--table", path, "--compact-above", str(threshold), "--compact-files", "1",
        "--keep-last", "1",
    )
    assert rep["compacted"] == ["2024-01-02"]
    after = C.load_manifest(path)
    assert after["operation"] == "replace" and after.get("day_of") == "ts"
    assert sorted(e["file"] for e in after["files"] if e["day"] == "2024-01-01") == sorted(
        by_day["2024-01-01"]
    )
    day2 = [e for e in after["files"] if e["day"] == "2024-01-02"]
    assert not {e["file"] for e in day2} & set(by_day["2024-01-02"])
    assert len(day2) == 1
    assert rep["files_before"] == len(before) and rep["files_after"] == len(after["files"])
    assert _keys(spark, path) == keys and rep["rows"] == len(keys)


def test_maintenance_compacts_a_flat_table_once(spark, sf_dir, tmp_path, capsys):
    pts = pts_orders(spark, sf_dir)
    path = str(tmp_path / "flat")
    C.write_clustered(pts.where(F.col("o_orderkey") % 4 != 3), path, level=14, files=2)
    for m in range(3):
        C.append_clustered(pts.where(F.col("o_orderkey") % 12 == 3 + 4 * m), path, files=1)
    keys = _keys(spark, path)
    rep = _run(capsys, "--table", path, "--compact-above", "3", "--compact-files", "2")
    assert rep["compacted"] == ["*"] and rep["files_before"] == 5 >= 2 >= rep["files_after"]
    assert "day_of" not in C.load_manifest(path)
    assert _keys(spark, path) == keys and rep["rows"] == len(keys)
    # the compacted table is under the threshold: the next run rewrites nothing
    sid = C.load_manifest(path)["snapshot_id"]
    assert _run(capsys, "--table", path, "--compact-above", "3")["compacted"] == []
    assert C.load_manifest(path)["snapshot_id"] == sid
