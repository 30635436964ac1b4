"""Hilbert-range-clustered storage (io/clustered.py): manifest file
pruning + pushed row-group ranges must change what is READ, never what
is RETURNED."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial4n_spark.functions.native import haversine_km
from spatial4n_spark.io import clustered as C
from spatial4n_spark.kernels.polygon import Circle, Rect
from spatial4n_spark.kernels.s2cell import s2_decode_center, s2_encode, s2_parent
from spatial4n_spark.operators.spatial_join import spatial_join_points_polygons
from spatial4n_spark.suite import RADIUS_CENTERS, layer, pts_orders


@pytest.fixture(scope="module")
def clustered(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("clustered"))
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=14, files=16)
    return path, pts


def test_manifest_bounds_match_files(spark, clustered):
    path, _ = clustered
    man = C.load_manifest(path)
    assert man["level"] == 14 and man["cell_col"] == C.CELL_COL
    assert len(man["files"]) > 1  # multiple files or there is nothing to prune
    for e in man["files"]:
        got = (
            spark.read.parquet(os.path.join(path, e["file"]))
            .agg(
                F.min(C.CELL_COL).alias("lo"),
                F.max(C.CELL_COL).alias("hi"),
                F.count("*").alias("n"),
            )
            .collect()[0]
        )
        assert (got["lo"], got["hi"], got["n"]) == (e["min"], e["max"], e["rows"])
    # range clustering: file id ranges are disjoint (repartitionByRange)
    spans = sorted((e["min"], e["max"]) for e in man["files"])
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))


def test_clustered_radius_bit_equals_brute_and_prunes(spark, clustered):
    path, pts = clustered
    pruned_somewhere = False
    for qid, qlon, qlat, r in RADIUS_CENTERS:
        out, st = C.clustered_radius_query(spark, path, qlon, qlat, r, with_stats=True)
        got = sorted(row[0] for row in out.select("o_orderkey").collect())
        want = sorted(
            row[0]
            for row in pts.where(
                haversine_km(F.col("lon"), F.col("lat"), F.lit(qlon), F.lit(qlat))
                <= F.lit(r)
            )
            .select("o_orderkey")
            .collect()
        )
        assert got == want, qid
        assert st.files_kept <= st.files_total
        pruned_somewhere = pruned_somewhere or st.files_kept < st.files_total
        assert C.CELL_COL not in out.columns
    assert pruned_somewhere  # at least the city-scale circles must prune


def test_pip_join_over_pruned_candidates_bit_equal(spark, clustered):
    path, pts = clustered
    shapes = [s for _, s in layer()]
    cand, st = C.clustered_candidates(spark, path, shapes, with_stats=True)
    full = sorted(
        map(
            tuple,
            spatial_join_points_polygons(pts, layer(), level=3, index="s2")
            .select("o_orderkey", "poly_id")
            .collect(),
        )
    )
    via = sorted(
        map(
            tuple,
            spatial_join_points_polygons(cand, layer(), level=3, index="s2")
            .select("o_orderkey", "poly_id")
            .collect(),
        )
    )
    assert via == full and len(full) > 0
    assert st.files_kept <= st.files_total and st.rows_kept_files <= st.rows_total


def test_cover_ranges_sound_and_exact_without_coalescing():
    """Soundness: every point of the shape has its fine cell inside the
    ranges. Exactness (max_ranges=inf): fine-cell membership in ranges
    == ancestor membership in the cover cell set."""
    L = 14
    circle = Circle(2.3125, 48.875, 2.0, geo=True)
    ranges = C.cover_ranges(circle, L, max_ranges=10**9)
    lv = C._auto_cover_level(circle, L)
    from spatial4n_spark.cellindex import cell_backend

    fulls, bounds = cell_backend("s2").cover(circle, lv, geo=True)
    cells = {int(c) for c in list(fulls) + list(bounds)}

    rng = np.random.default_rng(7)
    lat = rng.uniform(48.875 - 2.5, 48.875 + 2.5, 4000)
    lon = rng.uniform(2.3125 - 3.5, 2.3125 + 3.5, 4000)
    fine = s2_encode(lat, lon, L)
    anc = s2_parent(fine, L - lv)
    lo = np.array([a for a, _ in ranges])
    hi = np.array([b for _, b in ranges])
    in_ranges = ((fine[:, None] >= lo[None, :]) & (fine[:, None] <= hi[None, :])).any(1)
    in_cover = np.isin(anc, np.fromiter(cells, dtype=np.int64))
    assert (in_ranges == in_cover).all()
    # soundness on points INSIDE the circle specifically
    inside = (lon - 2.3125) ** 2 + (lat - 48.875) ** 2 <= 2.0**2
    assert in_ranges[inside].all()


def test_cover_ranges_coalescing_only_widens():
    L = 14
    rect = Rect(-30.0, 40.0, -20.0, 35.0)
    exact = C.cover_ranges(rect, L, max_ranges=10**9)
    capped = C.cover_ranges(rect, L, max_ranges=4)
    assert len(capped) <= 4 <= len(exact)
    # every exact range is contained in some capped range
    for lo, hi in exact:
        assert any(clo <= lo and hi <= chi for clo, chi in capped)


def test_range_filter_pushed_to_parquet(spark, clustered, monkeypatch):
    # the Spark scan path (the table fits the driver-local budget, so
    # the budget is pinned to 0 to plan the scan)
    monkeypatch.setattr(C, "_LOCAL_READ_ROWS", 0)
    path, _ = clustered
    out = C.clustered_radius_query(spark, path, 2.3125, 48.875, 150.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    # the range disjunction on the cluster column reaches the scan
    assert C.CELL_COL in plan.split("PushedFilters")[1][:2000]


def test_local_radius_plan_is_local_table_scan(spark, clustered):
    """Under the row budget the radius probe reads on the driver: its
    plan is one LocalTableScan (the Catalyst predicate folded into it),
    and the probe with the caller's toPandas runs at most one job."""
    path, _ = clustered
    sc = spark.sparkContext
    sc.setJobGroup("local-radius-probe", "local radius probe")
    try:
        out = C.clustered_radius_query(spark, path, 2.3125, 48.875, 150.0)
        assert len(out.toPandas()) > 0
        jobs = sc.statusTracker().getJobIdsForGroup("local-radius-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan") and "FileScan" not in plan
    assert len(jobs) <= 1


def test_local_probes_send_one_plan_shape(spark, clustered):
    """The driver-local probes send the JVM one plan shape whatever the
    centre: after one warm radius probe, radius probes at four centres
    not seen before compile no new generated code, and a kNN request
    from a driver list starts no Spark job before the caller collects."""
    path, pts = clustered
    sc = spark.sparkContext
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def radius(qlon, qlat, r):
        out = C.clustered_radius_query(spark, path, qlon, qlat, r)
        assert out._jdf.queryExecution().executedPlan().toString().startswith(
            "LocalTableScan"
        )
        return out.collect()

    radius(2.3125, 48.875, 150.0)
    # a radius at a row's exact distance runs the predicate: both
    # branches are warm before the count is read
    lon, lat = pts.select("lon", "lat").where(F.col("lon").isNotNull() & F.col("lat").isNotNull()).first()
    edge = float(
        spark.range(1)
        .select(haversine_km(F.lit(lon), F.lit(lat), F.lit(2.3125), F.lit(48.875)))
        .first()[0]
    )
    radius(2.3125, 48.875, edge)
    n0 = compiled.getCount()
    got = [
        radius(*c)
        for c in [(2.4375, 48.75, 120.0), (139.75, 35.625, 250.0),
                  (179.875, -16.4375, 400.0), (10.5, 87.5, 600.0)]
    ]
    assert compiled.getCount() == n0 and sum(map(len, got)) > 0

    sc.setJobGroup("local-knn-probe", "local knn probe")
    try:
        out = C.clustered_knn(spark, path, [("a", 2.0, 48.5), ("b", -73.0, 40.5)], 5,
                              id_col="o_orderkey")
        jobs = sc.statusTracker().getJobIdsForGroup("local-knn-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [] and out.count() == 10


_RESTART = """
import sys

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from spatial4n_spark.functions.native import haversine_km
from spatial4n_spark.io import clustered as C


def session():
    return (SparkSession.builder.master("local[1]")
            .config("spark.sql.shuffle.partitions", "1")
            .config("spark.ui.enabled", "false").getOrCreate())


def probes(spark):
    radius = C.clustered_radius_query(spark, path, 2.0, 48.0, 300.0)
    # a radius at a row's exact distance: the probe runs the predicate
    band = C.clustered_radius_query(spark, path, 2.0, 48.0, edge)
    knn = C.clustered_knn(spark, path, [("a", 2.0, 48.0)], 5, id_col="id")
    return (sorted(r.id for r in radius.collect()), sorted(map(tuple, knn.collect())),
            sorted(r.id for r in band.collect()))


path = sys.argv[1]
spark = session()
rng = np.random.default_rng(3)
pdf = pd.DataFrame({"id": np.arange(3000), "lon": rng.uniform(-10.0, 10.0, 3000),
                    "lat": rng.uniform(40.0, 55.0, 3000)})
C.write_clustered(spark.createDataFrame(pdf), path, level=14, files=2)
edge = spark.range(1).select(haversine_km(
    F.lit(float(pdf.lon[0])), F.lit(float(pdf.lat[0])), F.lit(2.0), F.lit(48.0))).first()[0]
before = probes(spark)
spark.stop()
spark = session()
assert probes(spark) == before and before[0] and len(before[1]) == 5 and 0 in before[2]
assert len(C._PROBE_COLS) == 2
assert all(jsc is spark.sparkContext._jsc for jsc, _ in C._PROBE_COLS.values())
spark.stop()
print("restart ok")
"""


def test_probe_columns_rebuilt_after_session_restart(tmp_path):
    """The probes' cached Columns belong to one SparkContext: after a
    stop and a new session (in a child process, so the suite's session
    lives on) the probes rebuild them and answer as before."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    res = subprocess.run(
        [sys.executable, "-c", _RESTART, str(tmp_path / "t")],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert res.returncode == 0 and "restart ok" in res.stdout, res.stderr[-3000:]


def test_append_keeps_exactness_compaction_restores_locality(
    spark, sf_dir, tmp_path
):
    """Appends must keep every query bit-correct immediately (per-file
    stats stay true); what they cost is locality (more files kept per
    query), which compaction restores."""
    path = str(tmp_path / "clu")
    pts = pts_orders(spark, sf_dir)
    base = pts.where(F.col("o_orderkey") % 4 == 0)
    C.write_clustered(base, path, level=14, files=8)

    # three out-of-order appended batches (worst case for locality:
    # each batch spans the whole world)
    for m in (1, 2, 3):
        C.append_clustered(pts.where(F.col("o_orderkey") % 4 == m), path, files=2)

    qlon, qlat, r = 2.3125, 48.875, 150.0
    want = sorted(
        row[0]
        for row in pts.where(
            haversine_km(F.col("lon"), F.col("lat"), F.lit(qlon), F.lit(qlat))
            <= F.lit(r)
        )
        .select("o_orderkey")
        .collect()
    )
    out_a, st_a = C.clustered_radius_query(spark, path, qlon, qlat, r, with_stats=True)
    got_a = sorted(row[0] for row in out_a.select("o_orderkey").collect())
    assert got_a == want  # correct right after appends
    man_a = C.load_manifest(path)
    assert sum(e["rows"] for e in man_a["files"]) == pts.count()

    C.compact_clustered(spark, path, files=8)
    out_c, st_c = C.clustered_radius_query(spark, path, qlon, qlat, r, with_stats=True)
    got_c = sorted(row[0] for row in out_c.select("o_orderkey").collect())
    assert got_c == want  # compaction changes layout, never results
    man_c = C.load_manifest(path)
    assert sum(e["rows"] for e in man_c["files"]) == pts.count()
    # locality restored: the compacted run keeps no more files than the
    # appended layout did, and its file ranges are disjoint again
    assert st_c.files_kept <= st_a.files_kept
    spans = sorted((e["min"], e["max"]) for e in man_c["files"])
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))
    # the appended layout genuinely overlapped (the thing compaction fixes)
    spans_a = sorted((e["min"], e["max"]) for e in man_a["files"])
    assert any(spans_a[i][1] >= spans_a[i + 1][0] for i in range(len(spans_a) - 1))


def test_stream_ingest_into_clustered_equals_batch(spark, sf_dir, tmp_path):
    """foreachBatch ingest (streaming/clustered_sink.py): after the
    availableNow run over multiple micro-batches, the clustered table
    holds exactly the input rows and answers radius queries identically
    to a batch filter; a second run of the same stream (fresh streaming
    checkpoint, same table) is deduped by the batch ledger."""
    from spatial4n_spark.streaming.clustered_sink import stream_to_clustered

    pts = pts_orders(spark, sf_dir)
    src = str(tmp_path / "src")
    # several input files -> several micro-batches via maxFilesPerTrigger
    pts.repartition(3).write.parquet(src)

    table = str(tmp_path / "table")
    C.write_clustered(pts.limit(0), table, level=14, files=1)

    stream = (
        spark.readStream.schema(pts.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_to_clustered(stream, table, str(tmp_path / "ckpt1"), files_per_batch=2)
    q.awaitTermination(300)

    man = C.load_manifest(table)
    assert sum(e["rows"] for e in man["files"]) == pts.count()
    qlon, qlat, r = 2.3125, 48.875, 150.0
    want = sorted(
        row[0]
        for row in pts.where(
            haversine_km(F.col("lon"), F.col("lat"), F.lit(qlon), F.lit(qlat))
            <= F.lit(r)
        )
        .select("o_orderkey")
        .collect()
    )
    got = sorted(
        row[0]
        for row in C.clustered_radius_query(spark, table, qlon, qlat, r)
        .select("o_orderkey")
        .collect()
    )
    assert got == want

    # REPLAY of the same stream (same checkpoint path whose progress was
    # lost — Spark re-delivers batches 0..n) must be deduped by the
    # (checkpoint, batch_id) ledger
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt1"))
    stream2 = (
        spark.readStream.schema(pts.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q2 = stream_to_clustered(stream2, table, str(tmp_path / "ckpt1"), files_per_batch=2)
    q2.awaitTermination(300)
    man2 = C.load_manifest(table)
    assert sum(e["rows"] for e in man2["files"]) == pts.count()

    # a genuinely NEW stream (different checkpoint) into the same table
    # is new data and must append, not be swallowed by the ledger
    extra = str(tmp_path / "extra")
    # distinct keys, placed far from every query circle so the radius
    # assertions below stay valid
    pts.limit(50).select(
        (F.col("o_orderkey") + F.lit(10**9)).alias("o_orderkey"),
        F.lit(0.0).alias("lon"),
        F.lit(-89.0).alias("lat"),
    ).write.parquet(extra)
    stream3 = spark.readStream.schema(pts.schema).parquet(extra)
    q3 = stream_to_clustered(stream3, table, str(tmp_path / "ckpt3"), files_per_batch=1)
    q3.awaitTermination(300)
    man3 = C.load_manifest(table)
    assert sum(e["rows"] for e in man3["files"]) == pts.count() + 50

    # compaction of the ingested table keeps the same rows
    C.compact_clustered(spark, table, files=4)
    got_c = sorted(
        row[0]
        for row in C.clustered_radius_query(spark, table, qlon, qlat, r)
        .select("o_orderkey")
        .collect()
    )
    assert got_c == want


def test_clustered_knn_equals_ring_knn(spark, clustered):
    _check_clustered_knn_equals_ring_knn(spark, clustered)


def test_clustered_knn_equals_ring_knn_above_budget(spark, clustered, monkeypatch):
    from spatial4n_spark.operators import knn

    monkeypatch.setattr(knn, "_BRUTE_FORCE_PAIRS", 0)
    _check_clustered_knn_equals_ring_knn(spark, clustered)


def _check_clustered_knn_equals_ring_knn(spark, clustered):
    """clustered_knn must return exactly what the ring-expansion kNN
    returns — incl. the pole and dateline queries, where the S2 cover
    pieces of the above-budget plan matter."""
    from spatial4n_spark.operators.knn import knn_join

    path, pts = clustered
    queries = [(qid, qlon, qlat) for qid, qlon, qlat, _ in RADIUS_CENTERS]
    want = sorted(
        map(
            tuple,
            knn_join(pts, queries, k=5, id_col="o_orderkey")
            .select("query_id", "o_orderkey", "rank")
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            C.clustered_knn(spark, path, queries, k=5, id_col="o_orderkey")
            .select("query_id", "o_orderkey", "rank")
            .collect(),
        )
    )
    assert got == want and len(got) == 4 * 5


def test_clustered_knn_kernel_equals_plan_under_mor_and_evolution(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Differential on a table with pending position deletes, equality
    deletes (MOR upsert) and an add-column append: the exact kernel and
    the cover plan return identical (query_id, id, rank) and bit-equal
    dist_km, equal to kNN over a pandas model of the live rows. Also
    for k above the live rows (but not the manifest rows, so the cover
    rounds run and never accept) and for a table whose every row is
    deleted."""
    import pandas as pd

    from spatial4n_spark.operators import knn

    path = str(tmp_path / "mor_knn")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=14, files=4)
    C.delete_clustered(spark, path, F.col("o_orderkey") % 5 == 0, strategy="mor")
    moved = pts.where(F.col("o_orderkey") % 5 == 1).withColumn("lon", F.col("lon") + 0.5)
    C.upsert_clustered(spark, moved, path, key="o_orderkey", strategy="mor")
    C.append_clustered(
        pts.limit(40)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10**10).cast("long"))
        .withColumn("tag", F.lit("new")),
        path,
        files=1,
    )
    man = C.load_manifest(path)
    assert {d["kind"] for d in man["deletes"]} == {"pos", "eq"}
    queries = [(qid, qlon, qlat) for qid, qlon, qlat, _ in RADIUS_CENTERS]

    def rows(out):
        return sorted(
            (r["query_id"], r["o_orderkey"], r["rank"], r["dist_km"].hex())
            for r in out.collect()
        )

    kernel = rows(C.clustered_knn(spark, path, queries, k=5, id_col="o_orderkey"))
    # the model: deleted keys gone, upserted keys at their new position,
    # the appended rows as read back
    model = pts.toPandas()
    model = model[model.o_orderkey % 5 != 0]
    model.loc[model.o_orderkey % 5 == 1, "lon"] += 0.5
    added = C._read_listed(spark, path).where(F.col("o_orderkey") >= 10**10)
    model = pd.concat([model, added.select(*model.columns).toPandas()])
    want = knn.knn_join(spark.createDataFrame(model), queries, k=5, id_col="o_orderkey")
    assert kernel == rows(want) and len(kernel) == 4 * 5
    monkeypatch.setattr(knn, "_BRUTE_FORCE_PAIRS", 0)
    assert rows(C.clustered_knn(spark, path, queries, k=5, id_col="o_orderkey")) == kernel

    # 45 manifest rows, about 30 live: k = 40 passes the plan's
    # n_total >= k gate, then every query stays short of k
    small = str(tmp_path / "mor_knn_small")
    C.write_clustered(pts.limit(45), small, level=14, files=2)
    C.delete_clustered(spark, small, F.col("o_orderkey") % 3 == 0, strategy="mor")
    for expect_rows in (True, False):
        got = {}
        for budget in (0, 10**12):
            monkeypatch.setattr(knn, "_BRUTE_FORCE_PAIRS", budget)
            got[budget] = rows(C.clustered_knn(spark, small, queries, k=40, id_col="o_orderkey"))
        assert got[0] == got[10**12] and bool(got[0]) == expect_rows
        if expect_rows:
            live = C._read_listed(spark, small).count()
            assert len(got[0]) == len(queries) * live < len(queries) * 40
            C.delete_clustered(spark, small, F.lit(True), strategy="mor")


def test_local_reads_equal_spark_reads(spark, sf_dir, tmp_path, monkeypatch):
    """The driver-local read (``_read_files_local`` behind
    ``clustered_radius_query`` and ``clustered_knn``) against the Spark
    path it shortcuts (budget 0), on a table with pending position
    deletes, equality deletes whose keys were re-inserted into a
    non-target file, an add-column append, null coordinates and exact
    duplicate points; radius reads also by snapshot id, tag and branch.
    Radius: equal rows, schema and PruneStats. kNN: equal (query_id,
    id, rank) and bit-equal dist_km."""
    path = str(tmp_path / "local_vs_spark")
    pts = pts_orders(spark, sf_dir)
    extra = spark.range(15).select(
        (F.col("id") + 9 * 10**9).alias("o_orderkey"),
        F.when(F.col("id") < 12, F.lit(2.0)).alias("lon"),  # 12 duplicates
        F.when(F.col("id") < 12, F.lit(48.5)).alias("lat"),  # 3 null points
    )
    C.write_clustered(pts.unionByName(extra), path, level=14, files=4)
    C.delete_clustered(spark, path, F.col("o_orderkey") % 5 == 0, strategy="mor")
    C.create_tag(path, "pre-upsert", 2)
    moved = pts.where(F.col("o_orderkey") % 5 == 1).withColumn("lon", F.col("lon") + 0.5)
    C.upsert_clustered(spark, moved, path, key="o_orderkey", strategy="mor")
    C.create_branch(path, "side", 3)
    C.delete_clustered(
        spark, path, F.col("o_orderkey") % 5 == 2, strategy="mor", branch="side"
    )
    C.append_clustered(
        pts.limit(40)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10**10).cast("long"))
        .withColumn("tag", F.lit("new")),
        path,
        files=1,
    )
    man = C.load_manifest(path)
    assert {d["kind"] for d in man["deletes"]} == {"pos", "eq"}
    # the upserted keys live in files their equality delete does not target
    eq = next(d for d in man["deletes"] if d["kind"] == "eq")
    assert {e["file"] for e in man["files"]} - set(eq["targets"])

    def both(read):
        local = read()
        with monkeypatch.context() as m:
            m.setattr(C, "_LOCAL_READ_ROWS", 0)
            return local, read()

    def is_local(df):
        return df._jdf.queryExecution().executedPlan().toString().startswith(
            "LocalTableScan"
        )

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    # a 1 km circle at the middle of the widest id gap between files:
    # its cover meets no file
    level = int(man["level"])
    spans = sorted((e["min"], e["max"]) for e in man["files"])
    gap = max(zip(spans, spans[1:]), key=lambda p: p[1][0] - p[0][1])
    mid_lat, mid_lon = s2_decode_center((gap[0][1] + gap[1][0]) // 2, level)
    prune_all = (float(mid_lon), float(mid_lat), 1.0)
    # a radius equal to the duplicate point's Catalyst distance: the
    # boundary row is returned by both paths, one ulp less by neither
    edge = float(
        spark.range(1)
        .select(haversine_km(F.lit(2.0), F.lit(48.5), F.lit(2.3125), F.lit(48.875)))
        .first()[0]
    )
    cases = [
        (2.0, 48.5, 2.0),  # hot: the duplicate point
        (2.3125, 48.875, edge),
        (2.3125, 48.875, float(np.nextafter(edge, 0.0))),
        (2.3125, 48.875, 150.0),  # Paris
        (139.8125, 35.6875, 100.0),  # cold
        (179.9375, -16.5, 400.0),  # dateline
        (10.0, 88.0, 600.0),  # polar
        prune_all,
    ]
    seen = 0
    for snap in (None, 1, "pre-upsert", "side"):
        for qlon, qlat, r in cases:
            (a, sa), (b, sb) = both(
                lambda: C.clustered_radius_query(
                    spark, path, qlon, qlat, r, with_stats=True, snapshot_id=snap
                )
            )
            assert rows(a) == rows(b), (snap, qlon, qlat)
            assert a.schema == b.schema and sa == sb, (snap, qlon, qlat)
            assert is_local(a) == (sa.files_kept > 0) and not is_local(b)
            assert sa.files_kept > 0 or (qlon, qlat, r) == prune_all
            dup = a.where(F.col("o_orderkey").between(9 * 10**9, 9 * 10**9 + 11))
            if (qlon, qlat) == (2.3125, 48.875) and r <= edge:
                assert dup.count() > 0 if r == edge else dup.count() == 0, (snap, r)
            seen += len(rows(a))
    assert seen > 100

    def knn_rows(df):
        return sorted(
            (r["query_id"], r["o_orderkey"], r["rank"], r["dist_km"].hex())
            for r in df.collect()
        )

    queries = [(qid, qlon, qlat) for qid, qlon, qlat, _ in RADIUS_CENTERS]
    queries.append(("tie", 2.0, 48.5))  # 9 live duplicates tie at k = 5
    a, b = both(lambda: C.clustered_knn(spark, path, queries, k=5, id_col="o_orderkey"))
    assert is_local(a) and knn_rows(a) == knn_rows(b) and len(knn_rows(a)) == 5 * 5
    # the list shortcut (no query frame, no clustered_knn_df) against the
    # DataFrame surface: the same schema, query_id type and nullability
    # included, and bit-equal rows
    qdf = spark.createDataFrame(queries, "query_id string, qlon double, qlat double")
    df_out = C.clustered_knn_df(spark, path, qdf, k=5, id_col="o_orderkey")
    with monkeypatch.context() as m:
        m.setattr(C, "clustered_knn_df", None)
        a = C.clustered_knn(spark, path, queries, k=5, id_col="o_orderkey")
    assert a.schema == df_out.schema == b.schema and knn_rows(a) == knn_rows(df_out)

    # k above the live rows, then an empty table (every row deleted)
    small = str(tmp_path / "local_vs_spark_small")
    C.write_clustered(pts.limit(30).unionByName(extra), small, level=14, files=2)
    C.delete_clustered(spark, small, F.col("o_orderkey") % 3 == 0, strategy="mor")
    for expect_rows in (True, False):
        a, b = both(
            lambda: C.clustered_knn(spark, small, queries, k=50, id_col="o_orderkey")
        )
        assert knn_rows(a) == knn_rows(b) and bool(knn_rows(a)) == expect_rows
        if expect_rows:
            C.delete_clustered(spark, small, F.lit(True), strategy="mor")


def _ring(qlon, qlat, km, n):
    """``n`` points at great-circle distance ``km`` from the centre."""
    from spatial4n_spark.kernels.distance import EARTH_MEAN_RADIUS_KM

    lat1, lon1 = np.radians(qlat), np.radians(qlon)
    d = km / EARTH_MEAN_RADIUS_KM
    b = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False) + 0.1
    lat2 = np.arcsin(np.sin(lat1) * np.cos(d) + np.cos(lat1) * np.sin(d) * np.cos(b))
    lon2 = lon1 + np.arctan2(
        np.sin(b) * np.sin(d) * np.cos(lat1), np.cos(d) - np.sin(lat1) * np.sin(lat2)
    )
    return (np.degrees(lon2) + 180.0) % 360.0 - 180.0, np.degrees(lat2)


def test_settled_radius_probe_equals_band_and_spark(spark, tmp_path, monkeypatch):
    """The driver-local radius probe settles in numpy when no kept row
    lies within the kNN slack of the radius, and runs the Catalyst
    predicate otherwise. Both branches, and the Spark path (budget 0),
    return the brute-force rows and one schema, over rows at exactly
    the Catalyst distance, at r +- 0.5 m (in the band) and r +- 2 m
    (outside it), NaN coordinates and duplicate points, around a hot,
    a polar and a dateline centre, with r = 0 and r >= 20,016 km. The
    analyzed plan shows the branch: a Filter only on the band path."""
    import pandas as pd

    from spatial4n_spark.operators import knn

    centres = [(2.3125, 48.875), (45.0, 90.0), (180.0, -16.5)]
    rng = np.random.default_rng(11)
    lon, lat, edges = [], [], []

    def add(x, y):
        lon.extend(x), lat.extend(y)

    for qlon, qlat in centres:
        for km in (3.0 - 0.002, 3.0 + 0.002, 5.0 + 0.0005, 5.0 - 0.0005, 8.0):
            add(*_ring(qlon, qlat, km, 6))
        edge_row = len(lon) - 7  # the last point at 5 km - 0.5 m
        x, y = _ring(qlon, qlat, 1.0, 40)
        add(x + rng.normal(0.0, 0.001, 40), np.clip(y + rng.normal(0.0, 0.001, 40), -90, 90))
        add([qlon] * 3, [qlat] * 3)  # duplicates at the centre
        edges.append((qlon, qlat, edge_row))
    add([np.nan, 2.3125, np.nan], [48.875, np.nan, np.nan])
    pdf = pd.DataFrame({"id": np.arange(len(lon)), "lon": lon, "lat": lat})
    path = str(tmp_path / "settle")
    C.write_clustered(spark.createDataFrame(pdf), path, level=14, files=3)
    src = spark.createDataFrame(pdf)

    def within(qlon, qlat, r):
        return src.where(
            haversine_km(F.col("lon"), F.col("lat"), F.lit(qlon), F.lit(qlat)) <= F.lit(r)
        )

    def run(qlon, qlat, r):
        out, st = C.clustered_radius_query(spark, path, qlon, qlat, r, with_stats=True)
        band = "Filter" in out._jdf.queryExecution().analyzed().toString()
        assert out._jdf.queryExecution().executedPlan().toString().startswith("LocalTableScan")
        return sorted(x.id for x in out.collect()), out.schema, st, band

    def exact_km(qlon, qlat, i):  # the row's Catalyst distance
        return float(
            src.where(F.col("id") == i)
            .select(haversine_km(F.col("lon"), F.col("lat"), F.lit(qlon), F.lit(qlat)))
            .first()[0]
        )

    cases = [
        case
        for qlon, qlat, edge_row in edges
        for case in [
            (qlon, qlat, 3.0, False),  # rows at r +- 2 m: settled
            (qlon, qlat, 5.0, True),  # rows at r +- 0.5 m: band
            (qlon, qlat, exact_km(qlon, qlat, edge_row), True),  # a row at exactly r
            (qlon, qlat, 0.0, True),  # the duplicates at distance 0
            (qlon, qlat, 20_016.0, False),  # the whole sphere
        ]
    ]
    for qlon, qlat, r, want_band in cases:
        want = sorted(x.id for x in within(qlon, qlat, r).collect())
        got, schema, st, band = run(qlon, qlat, r)
        assert band == want_band and got == want and want, (qlon, qlat, r)
        with monkeypatch.context() as m:  # a slack past every distance: always the band
            m.setattr(knn, "_SLACK_KM", 1e6)
            forced = run(qlon, qlat, r)
        with monkeypatch.context() as m:
            m.setattr(C, "_LOCAL_READ_ROWS", 0)
            spark_out, spark_st = C.clustered_radius_query(
                spark, path, qlon, qlat, r, with_stats=True
            )
        assert forced[3] and forced[:3] == (got, schema, st), (qlon, qlat, r)
        assert sorted(x.id for x in spark_out.collect()) == got, (qlon, qlat, r)
        assert spark_out.schema == schema and spark_st == st
        assert all(f.nullable for f in schema) and schema.names == ["id", "lon", "lat"]


def test_st_clustered_time_and_space_pruning(spark, sf_dir, tmp_path, monkeypatch):
    """Day-partitioned clustered table: day-partition +
    manifest pruning must compose — a 2-of-8-day Paris query keeps only
    matching days AND only spatially-relevant files, and returns exactly
    the brute-force rows."""
    # the Spark scan path (the table fits the driver-local budget, so
    # the budget is pinned to 0 to plan the scan)
    monkeypatch.setattr(C, "_LOCAL_READ_ROWS", 0)
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1704067200)  # 2024-01-01 00:00:00 UTC
            + (F.col("o_orderkey") % 8) * 86400
            + F.col("o_orderkey") % 977
        ).cast("timestamp_ntz"),
    )
    path = str(tmp_path / "st")
    C.write_clustered(pts, path, level=14, files=32, day_of="ts")
    man = C.load_manifest(path)
    assert {e["day"] for e in man["files"]} == {
        f"2024-01-0{d}" for d in range(1, 9)
    }
    assert sum(e["rows"] for e in man["files"]) == pts.count()

    t0, t1 = "2024-01-02 00:00:00", "2024-01-03 23:59:59"
    qlon, qlat, r = 10.0, 88.0, 600.0  # the polar gate circle: dense enough at sf0.001
    out, st = C.clustered_radius_query(spark, path, qlon, qlat, r, t0=t0, t1=t1, with_stats=True)
    got = sorted(row[0] for row in out.select("o_orderkey").collect())
    want = sorted(
        row[0]
        for row in pts.where(
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
    assert got == want and len(want) > 0
    assert st.days_kept <= 2 < st.days_total  # time axis pruned
    # space axis pruned too: fewer files than the kept days contain
    day_files = [e for e in man["files"] if "2024-01-02" <= e["day"] <= "2024-01-03"]
    assert st.files_kept < len(day_files)
    # the cell-range disjunction reaches the parquet reader
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and C.CELL_COL in plan.split("PushedFilters")[1][:2000]

    # an out-of-range window prunes everything and returns empty
    empty, st0 = C.clustered_radius_query(
        spark, path, qlon, qlat, r, t0="2030-01-01 00:00:00", t1="2030-01-02 00:00:00",
        with_stats=True,
    )
    assert st0.files_kept == 0 and empty.count() == 0


def test_stream_ingest_into_st_clustered(spark, sf_dir, tmp_path):
    """foreachBatch ingest into a day-partitioned table: after the
    availableNow run the table answers (window, circle) queries exactly;
    a replay of the same checkpoint is ledger-deduped."""
    from spatial4n_spark.streaming.clustered_sink import stream_to_clustered

    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1704067200)
            + (F.col("o_orderkey") % 2) * 86400
            + F.col("o_orderkey") % 977
        ).cast("timestamp_ntz"),
    )
    src = str(tmp_path / "src")
    pts.repartition(3).write.parquet(src)
    table = str(tmp_path / "table")
    C.write_clustered(pts.limit(0), table, level=14, files=1, day_of="ts")

    stream = (
        spark.readStream.schema(pts.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_to_clustered(stream, table, str(tmp_path / "ck"), files_per_batch=2)
    q.awaitTermination(300)
    man = C.load_manifest(table)
    assert sum(e["rows"] for e in man["files"]) == pts.count()
    assert {e["day"] for e in man["files"]} == {"2024-01-01", "2024-01-02"}

    t0, t1 = "2024-01-02 00:00:00", "2024-01-02 23:59:59"
    qlon, qlat, r = 10.0, 88.0, 600.0
    got = sorted(
        row[0]
        for row in C.clustered_radius_query(spark, table, qlon, qlat, r, t0=t0, t1=t1)
        .select("o_orderkey")
        .collect()
    )
    want = sorted(
        row[0]
        for row in pts.where(
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
    assert got == want and len(want) > 0

    # replay with progress lost: same checkpoint path, ledger dedups
    import shutil

    shutil.rmtree(str(tmp_path / "ck"))
    stream2 = (
        spark.readStream.schema(pts.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q2 = stream_to_clustered(stream2, table, str(tmp_path / "ck"), files_per_batch=2)
    q2.awaitTermination(300)
    man2 = C.load_manifest(table)
    assert sum(e["rows"] for e in man2["files"]) == pts.count()


def test_st_append_and_per_day_compaction(spark, sf_dir, tmp_path):
    """Day-table lifecycle: appends keep every (window, circle) query exactly
    correct; compacting ONE day restores that day's locality and leaves
    the other days' files untouched."""
    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1704067200)
            + (F.col("o_orderkey") % 2) * 86400
            + F.col("o_orderkey") % 977
        ).cast("timestamp_ntz"),
    )
    path = str(tmp_path / "st")
    base = pts.where(F.col("o_orderkey") % 3 == 0)
    C.write_clustered(base, path, level=14, files=8, day_of="ts")
    for m in (1, 2):
        C.append_clustered(pts.where(F.col("o_orderkey") % 3 == m), path, files=2)

    t0, t1 = "2024-01-02 00:00:00", "2024-01-02 23:59:59"
    qlon, qlat, r = 10.0, 88.0, 600.0

    def rows():
        out = C.clustered_radius_query(spark, path, qlon, qlat, r, t0=t0, t1=t1)
        return sorted(row[0] for row in out.select("o_orderkey").collect())

    want = sorted(
        row[0]
        for row in pts.where(
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
    assert rows() == want and len(want) > 0  # correct right after appends
    man_a = C.load_manifest(path)
    day2_before = [e for e in man_a["files"] if e["day"] == "2024-01-02"]
    day1_before = [e for e in man_a["files"] if e["day"] == "2024-01-01"]
    assert sum(e["rows"] for e in man_a["files"]) == pts.count()

    C.compact_clustered(spark, path, files=4, day="2024-01-02")
    assert rows() == want  # compaction never changes results
    man_c = C.load_manifest(path)
    day2_after = [e for e in man_c["files"] if e["day"] == "2024-01-02"]
    day1_after = [e for e in man_c["files"] if e["day"] == "2024-01-01"]
    assert sum(e["rows"] for e in man_c["files"]) == pts.count()
    assert len(day2_after) < len(day2_before)  # fragmentation removed
    # the compacted day is one disjoint sorted run again
    spans = sorted((e["min"], e["max"]) for e in day2_after)
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))
    # the untouched day's files are exactly as before
    assert sorted(e["file"] for e in day1_after) == sorted(
        e["file"] for e in day1_before
    )


def test_no_matching_files_returns_empty_with_schema(spark, clustered):
    path, pts = clustered
    df, st = C.read_pruned(spark, path, [(2**62, 2**62 + 1)])
    assert df.count() == 0 and st.files_kept == 0
    assert set(df.columns) == set(pts.columns) | {C.CELL_COL}
    df2, st2 = C.read_pruned(spark, path, [])
    assert df2.count() == 0 and st2.n_ranges == 0


def test_manifest_carries_schema_no_footer_read(spark, sf_dir, tmp_path):
    """The table schema rides in the manifest (Iceberg metadata
    analog): an empty-result read answers with the right columns from
    METADATA ALONE — proven by deleting every data file and still
    getting the schema."""
    path = str(tmp_path / "schema_tbl")
    pts = pts_orders(spark, sf_dir).limit(100)
    C.write_clustered(pts, path, level=14, files=2)
    want = set(pts.columns) | {C.CELL_COL}
    assert C.load_manifest(path)["schema"]  # committed with the write

    # metadata-only: no data file on disk, schema still correct
    for e in C.load_manifest(path)["files"]:
        os.remove(os.path.join(path, e["file"]))
    df, st = C.read_pruned(spark, path, [])
    assert df.count() == 0 and st.n_ranges == 0
    assert set(df.columns) == want


@pytest.mark.parametrize("day", [False, True], ids=["flat", "day"])
def test_empty_and_nonempty_reads_share_one_schema(spark, tmp_path, day):
    """A read that keeps no file answers with the schema a read of the
    files returns (``_read_schema``: every field nullable, a day
    table's ``_day`` last), on every reader: ``read_pruned``,
    ``clustered_scan``, ``_read_files``, ``incremental_scan`` and
    ``clustered_radius_query``. The table comes from ``spark.range``,
    whose ``id`` is non-nullable in the manifest."""
    path = str(tmp_path / "t")
    df = spark.range(300).select(
        "id",
        (F.col("id") * 37 % 360 - 180).cast("double").alias("lon"),
        (F.col("id") * 13 % 170 - 85).cast("double").alias("lat"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 3).cast("int")).alias("d"),
    )
    C.write_clustered(df, path, level=10, files=2, day_of="d" if day else None)
    man = C.load_manifest(path)
    names = [e["file"] for e in man["files"]]
    pairs = {
        "read_pruned": (
            C.read_pruned(spark, path, [])[0],
            C.read_pruned(spark, path, [(0, 2**63 - 1)])[0],
        ),
        "clustered_scan": (
            C.clustered_scan(spark, path, {"id": (10**6, 10**6 + 1)}),
            C.clustered_scan(spark, path),
        ),
        "_read_files": (
            C._read_files(spark, path, man, []),
            C._read_files(spark, path, man, names),
        ),
        "incremental_scan": (
            C.incremental_scan(spark, path, 1, 1, snapshot_col="sid"),
            C.incremental_scan(spark, path, 0, 1, snapshot_col="sid"),
        ),
        "clustered_radius_query": (
            C.clustered_radius_query(spark, path, 0.0, 0.0, 1.0),
            C.clustered_radius_query(spark, path, 0.0, 0.0, 20000.0),
        ),
    }
    for reader, (empty, full) in pairs.items():
        assert empty.count() == 0 and full.count() > 0, reader
        assert empty.schema == full.schema, reader
    assert pairs["_read_files"][0].schema == C._read_schema(man)
    assert all(f.nullable for f in C._read_schema(man).fields)


def test_writer_lock_and_overwrite_only(spark, sf_dir, tmp_path):
    """ADVICE round 3: manifest read-modify-write is single-writer
    (enforced by a lockfile, not just documented), the manifest commit
    is atomic (no .tmp residue), and the directory-listing manifest
    rebuild is overwrite-only on BOTH layouts."""
    path = str(tmp_path / "locked")
    pts = pts_orders(spark, sf_dir).limit(200)
    C.write_clustered(pts, path, level=14, files=2)

    # append under a held lock fails fast instead of racing; the lock
    # is a SIBLING of the table dir (overwrite wipes the dir, so an
    # in-dir lockfile would be deleted out from under its own holder)
    lock = C.lock_path(path)
    assert not lock.startswith(path + os.sep)
    with open(lock, "w") as f:
        f.write("other-writer")
    with pytest.raises(RuntimeError, match="locked by another writer"):
        C.append_clustered(pts.limit(10), path, files=1)
    os.remove(lock)

    # a successful append releases the lock and leaves no temp manifest
    C.append_clustered(pts.limit(10), path, files=1)
    assert not os.path.exists(lock)
    assert not any(n.endswith(".tmp") for n in os.listdir(path))
    assert sum(e["rows"] for e in C.load_manifest(path)["files"]) == 210

    # rebuild-from-listing is overwrite-only (would resurrect orphans)
    with pytest.raises(ValueError, match="overwrite-only"):
        C.write_clustered(pts, path, mode="append")


def test_st_requires_wallclock_ts(spark, sf_dir, tmp_path):
    """Day partitions derive/prune on wall-clock strings; a tz-aware
    TIMESTAMP ts would make the day boundary depend on the session
    timezone (writer vs reader skew drops boundary-day rows), so the
    writer rejects it up front."""
    pts = pts_orders(spark, sf_dir).limit(50).withColumn(
        "ts", F.timestamp_seconds(F.lit(1704067200))  # tz-aware TIMESTAMP
    )
    with pytest.raises(ValueError, match="timezone-independent"):
        C.write_clustered(pts, str(tmp_path / "st_bad"), level=14, files=1, day_of="ts")


def test_compaction_advice_lifecycle(spark, sf_dir, tmp_path):
    """Manifest-only advisor: quiet on a fresh table, flags range
    overlap after appends and delete tax after MOR deletes, and goes
    quiet again after the compaction it recommended."""
    from pyspark.sql import functions as F

    from spatial4n_spark.io import clustered as C
    from spatial4n_spark.suite import pts_orders

    path = str(tmp_path / "adv")
    pts = pts_orders(spark, sf_dir)
    C.write_clustered(pts, path, level=14, files=4)
    a = C.compaction_advice(path)
    assert a["should_compact"] is False
    assert a["overlap_factor"] < 2.0

    # each append layers a full-width sorted run: overlap grows ~1/append
    for _ in range(3):
        C.append_clustered(pts, path, files=2)
    a = C.compaction_advice(path)
    assert a["should_compact"] is True
    assert a["overlap_factor"] >= 2.0
    assert any("overlap" in r for r in a["reasons"])

    C.compact_clustered(spark, path, files=a["recommended_files"])
    a = C.compaction_advice(path)
    assert a["should_compact"] is False

    # MOR deletes: the delete tax crosses the threshold without any
    # range overlap
    C.delete_clustered(
        spark, path, F.col("o_orderkey") % 3 == 0, strategy="mor"
    )
    a = C.compaction_advice(path)
    assert a["delete_tax"] > 0.05
    assert a["should_compact"] is True
    assert any("MOR" in r for r in a["reasons"])
    C.compact_clustered(spark, path, files=4)
    a = C.compaction_advice(path)
    assert a["should_compact"] is False
    assert a["pending_delete_rows"] == 0


def test_compaction_advice_counts_overlap_within_days(spark, sf_dir, tmp_path):
    """On a day table each day is its own run, so files of different
    days never overlap: a fresh 4-day table (plus a MOR delete, which
    adds no data file) reads overlap 1.0 and needs no compaction, while
    appends that layer runs within each day are caught. A flat table
    is one group, so its overlap stays the span mass over the union of
    all its files."""
    from spatial4n_spark.suite import pts_orders

    def overlap(groups):
        mass = union = 0
        for ivals in groups:
            ivals = sorted(ivals)
            mass += sum(hi - lo + 1 for lo, hi in ivals)
            lo0, hi0 = ivals[0]
            for lo, hi in ivals[1:]:
                if lo > hi0:
                    union += hi0 - lo0 + 1
                    lo0, hi0 = lo, hi
                else:
                    hi0 = max(hi0, hi)
            union += hi0 - lo0 + 1
        return round(mass / union, 2)

    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.timestamp_seconds(F.lit(1704067200) + (F.col("o_orderkey") % 4) * 86400).cast(
            "timestamp_ntz"
        ),
    )
    for day in (True, False):
        path = str(tmp_path / ("day" if day else "flat"))
        C.write_clustered(pts, path, level=14, files=8, day_of="ts" if day else None)
        C.delete_clustered(spark, path, F.col("o_orderkey") % 50 == 0, strategy="mor")
        a = C.compaction_advice(path)
        files = C.load_manifest(path)["files"]
        spans = [(e["min"], e["max"]) for e in files]
        if day:
            assert len({e["day"] for e in files}) == 4
            assert a["overlap_factor"] == 1.0 and a["should_compact"] is False
        else:
            assert a["overlap_factor"] == overlap([spans])
        for _ in range(2):
            C.append_clustered(pts, path, files=2)
        a = C.compaction_advice(path)
        files = C.load_manifest(path)["files"]
        groups: dict = {}
        for e in files:
            groups.setdefault(e.get("day"), []).append((e["min"], e["max"]))
        assert a["overlap_factor"] == overlap(groups.values()) >= 2.0
        assert a["should_compact"] is True
        if not day:
            assert a["overlap_factor"] == overlap([[(e["min"], e["max"]) for e in files]])


@pytest.mark.parametrize("day", [True, False], ids=["day", "flat"])
def test_executors_agree_after_mor_on_day_and_flat_tables(
    spark, sf_dir, tmp_path, monkeypatch, day
):
    """Every clustered reader at the default row budget (the driver
    reads) against budget 0 (Spark reads), after a MOR delete and a MOR
    upsert that moves keys across days: a file is named by its
    manifest-relative path on both executors, so the pending deletes
    match their rows on a day table (``_day=<day>/<file>``) as on a flat
    one (the bare file name). Radius with and without a window, on the
    settled and the band branch; ``clustered_scan``; ``clustered_knn``;
    ``incremental_scan`` over append-only ranges; time travel by tag.
    The deleted and the replaced row versions are gone on both."""
    import pyarrow.parquet as pq
    from pandas.testing import assert_frame_equal

    from spatial4n_spark.operators import knn

    pts = pts_orders(spark, sf_dir).withColumn(
        "ts",
        F.expr(
            "timestampadd(SECOND, CAST((o_orderkey % 4) * 86400 + o_orderkey % 977 "
            "AS BIGINT), TIMESTAMP_NTZ'2024-01-01 00:00:00')"
        ),
    )
    path = str(tmp_path / "tbl")
    spec = {"day_of": "ts"} if day else {}
    C.write_clustered(pts.where(F.col("o_orderkey") % 3 != 0), path, level=14, files=8, **spec)
    C.append_clustered(pts.where(F.col("o_orderkey") % 3 == 0), path, files=2)  # 2
    C.create_tag(path, "t2")
    C.delete_clustered(spark, path, F.col("o_orderkey") % 5 == 0, strategy="mor")  # 3
    moved = (
        pts.where(F.col("o_orderkey") % 5 == 1)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        .withColumn("lon", F.col("lon") + 0.5)
    )
    C.upsert_clustered(spark, moved, path, key="o_orderkey", strategy="mor")  # 4
    late = pts.limit(30).withColumn("o_orderkey", F.col("o_orderkey") + 10**9)
    C.append_clustered(late, path, files=1)  # 5
    man = C.load_manifest(path)
    kinds = {d["kind"] for d in man["deletes"]}
    assert kinds == {"pos", "eq"} and all(
        ("/" in t) == day for d in man["deletes"] for t in d["targets"]
    )

    def pdf(df):
        return df.toPandas().sort_values("o_orderkey").reset_index(drop=True)

    def both(read):
        local = read()
        with monkeypatch.context() as m:
            m.setattr(C, "_LOCAL_READ_ROWS", 0)
            return local, read()

    def agree(read):
        a, b = both(read)
        assert_frame_equal(pdf(a), pdf(b))
        return a

    # the whole table, read by each executor: deleted keys gone, moved
    # keys once each at their new place and day
    names = [e["file"] for e in man["files"]]
    spark_rows = pdf(C._read_files(spark, path, man, names))
    local_rows = pdf(
        spark.createDataFrame(C._read_files_local(path, man, names), C._read_schema(man))
    )
    assert_frame_equal(spark_rows, local_rows)
    keys = spark_rows["o_orderkey"]
    assert keys.is_unique and len(keys) > 100
    assert not ((keys % 5 == 0) & (keys < 10**9)).any()
    want_moved = pdf(moved)
    got_moved = spark_rows[(keys % 5 == 1) & (keys < 10**9)].reset_index(drop=True)
    assert list(got_moved["lon"]) == list(want_moved["lon"])
    if day:
        assert list(got_moved[C.DAY_COL]) == [
            str(t)[:10] for t in want_moved["ts"]
        ]
        # every row's _day is its file's directory
        file_day = {
            k: e["day"]
            for e in man["files"]
            for k in pq.read_table(
                os.path.join(path, e["file"]), columns=["o_orderkey"]
            )["o_orderkey"].to_pylist()
        }
        assert all(file_day[k] == d for k, d in zip(keys, spark_rows[C.DAY_COL]))

    window = ("2024-01-02 00:00:00", "2024-01-03 23:59:59") if day else (None, None)
    seen, branches = 0, set()
    for qlon, qlat, r in [(2.3125, 48.875, 800.0), (10.0, 88.0, 600.0), (0.0, 0.0, 20_016.0)]:
        for t0, t1 in {(None, None), window}:
            for band in (False, True):
                with monkeypatch.context() as m:
                    if band:  # a slack past every distance: always the band
                        m.setattr(knn, "_SLACK_KM", 1e6)
                    out = agree(
                        lambda: C.clustered_radius_query(
                            spark, path, qlon, qlat, r, t0=t0, t1=t1
                        )
                    )
                on_band = "__s4n_r" in out._jdf.queryExecution().analyzed().toString()
                assert on_band or not band
                branches.add(on_band)
                assert C.DAY_COL not in out.columns and C.CELL_COL not in out.columns
                got = pdf(out)["o_orderkey"]
                assert not ((got % 5 == 0) & (got < 10**9)).any()
                seen += len(got)
    assert seen > 100 and branches == {False, True}
    agree(lambda: C.clustered_scan(spark, path, {"o_orderkey": (1, 4000)}))
    agree(
        lambda: C.clustered_knn(
            spark, path, [("a", 2.3125, 48.875), ("b", 10.0, 88.0)], k=5, id_col="o_orderkey"
        ).select("query_id", "o_orderkey", "rank")
    )
    for frm, to in ((0, 2), (4, 5)):
        inc = agree(lambda: C.incremental_scan(spark, path, frm, to))
        assert (C.DAY_COL in inc.columns) == day
    # time travel by tag: the pre-delete rows are all there
    trav = agree(
        lambda: C.clustered_radius_query(spark, path, 0.0, 0.0, 20_016.0, snapshot_id="t2")
    )
    assert len(pdf(trav)) == pts.count()
    if not day:  # a time window needs a day table
        bounds = {"t0": "2024-01-01 00:00:00", "t1": "2024-01-02 00:00:00"}
        with pytest.raises(ValueError, match="day-partitioned"):
            C.clustered_radius_query(spark, path, 0.0, 0.0, 1.0, **bounds)
        with pytest.raises(ValueError, match="day-partitioned"):
            C.delete_clustered(spark, path, **bounds)
