"""Engine-operator integration tests on local Spark.

Every operator result is cross-checked against a pure-numpy brute-force
evaluation of the same kernels (the reference's randomized-property-test
strategy, RectIntersectionTestHelper.cs:44-170, adapted to joins).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial4n_spark.functions.native import haversine_km, rect_contains_point
from spatial4n_spark.functions.udfs import geohash_udf, relate_wkt_udf
from spatial4n_spark.kernels.distance import EARTH_MEAN_RADIUS_KM as EARTH_R
from spatial4n_spark.kernels.distance import deg_to_km, distance_deg
from spatial4n_spark.kernels.geohash import geohash_encode_str
from spatial4n_spark.kernels.polygon import points_covered
from spatial4n_spark.operators import knn_join, radius_join, spatial_join_points_polygons, tile_stats
from spatial4n_spark.sources import images_df, polygon_layer
from spatial4n_spark.sources.images import synth_coords

N = 4000


@pytest.fixture(scope="module")
def points(spark):
    df = images_df(spark, N, with_bytes=False).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def coords():
    ids = np.arange(N, dtype=np.int64)
    lon, lat = synth_coords(ids)
    return ids, lon, lat


def test_generator_determinism(spark, points, coords):
    ids, lon, lat = coords
    rows = points.select("image_id", "lon", "lat").orderBy("image_id").collect()
    assert len(rows) == N
    np.testing.assert_allclose([r["lon"] for r in rows], lon, rtol=0, atol=0)
    np.testing.assert_allclose([r["lat"] for r in rows], lat, rtol=0, atol=0)


def test_native_haversine_matches_kernel(spark):
    rng = np.random.default_rng(11)
    data = [
        (float(a), float(b), float(c), float(d))
        for a, b, c, d in zip(
            rng.uniform(-180, 180, 500), rng.uniform(-90, 90, 500),
            rng.uniform(-180, 180, 500), rng.uniform(-90, 90, 500),
        )
    ]
    df = spark.createDataFrame(data, "lon1 double, lat1 double, lon2 double, lat2 double")
    got = np.array(
        df.select(haversine_km("lon1", "lat1", "lon2", "lat2").alias("d")).collect()
    ).ravel()
    arr = np.array(data)
    want = deg_to_km(distance_deg(arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3], "haversine"))
    np.testing.assert_allclose(got, want, rtol=1e-12)


def test_geohash_udf_matches_kernel(spark, points, coords):
    ids, lon, lat = coords
    rows = (
        points.select("image_id", geohash_udf(5)(F.col("lat"), F.col("lon")).alias("cell"))
        .orderBy("image_id")
        .collect()
    )
    want = geohash_encode_str(lat, lon, 5)
    assert [r["cell"] for r in rows] == want


def test_spatial_join_matches_bruteforce(spark, points, coords):
    ids, lon, lat = coords
    layer = [(pid, shape) for pid, shape, kind in polygon_layer()]
    out = spatial_join_points_polygons(points, layer, level=3)
    got = {(r["image_id"], r["poly_id"]) for r in out.select("image_id", "poly_id").collect()}

    want = set()
    for pid, shape in layer:
        cov = points_covered(lon, lat, shape, geo=True)
        for i in np.nonzero(cov)[0]:
            want.add((f"img{int(ids[i]):09d}", pid))
    assert got == want


def test_radius_join_matches_bruteforce(spark, points, coords):
    ids, lon, lat = coords
    queries = [
        ("paris", 2.35, 48.85, 50.0),
        ("dateline", 179.5, -10.0, 300.0),
        ("pole", 0.0, 89.0, 200.0),
    ]
    out = radius_join(points, queries, level=2)
    got = {(r["query_id"], r["image_id"]) for r in out.select("query_id", "image_id").collect()}
    want = set()
    for qid, qlon, qlat, rkm in queries:
        d = deg_to_km(distance_deg(qlon, qlat, lon, lat, "haversine"))
        for i in np.nonzero(d <= rkm)[0]:
            want.add((qid, f"img{int(ids[i]):09d}"))
    assert got == want


@pytest.mark.parametrize("index", ["geohash", "s2", "h3"])
def test_radius_join_df_equals_list_path(spark, points, index):
    """The DataFrame-native radius join (queries as rows, covers planned
    distributed in mapInPandas) must return exactly the list path's
    rows — incl. the dateline and pole circles — on every backend."""
    from spatial4n_spark.operators.distance_join import radius_join_df

    queries = [
        ("paris", 2.35, 48.85, 50.0),
        ("dateline", 179.5, -10.0, 300.0),
        ("pole", 0.0, 89.0, 200.0),
    ]
    want = sorted(
        map(
            tuple,
            radius_join(points, queries, level=2, index=index)
            .select("query_id", "image_id")
            .collect(),
        )
    )
    qdf = spark.createDataFrame(
        queries, "query_id string, qlon double, qlat double, radius_km double"
    )
    got = sorted(
        map(
            tuple,
            radius_join_df(points, qdf, level=2, index=index)
            .select("query_id", "image_id")
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    # non-broadcast path (the big-query-set plan) returns the same rows
    got_shuffle = sorted(
        map(
            tuple,
            radius_join_df(points, qdf, level=2, index=index, broadcast_cover=False)
            .select("query_id", "image_id")
            .collect(),
        )
    )
    assert got_shuffle == want


@pytest.fixture
def above_budget(monkeypatch):
    """Sets the exact-kernel budget to 0, so every kNN entry point runs
    its cell plan (stragglers still reach the kernel)."""
    from spatial4n_spark.operators import knn

    monkeypatch.setattr(knn, "_BRUTE_FORCE_PAIRS", 0)


def test_knn_matches_bruteforce(spark, points, coords):
    _check_knn_matches_bruteforce(points, coords)


def test_knn_matches_bruteforce_above_budget(spark, points, coords, above_budget):
    _check_knn_matches_bruteforce(points, coords)


def _check_knn_matches_bruteforce(points, coords):
    ids, lon, lat = coords
    queries = [("q_paris", 2.35, 48.85), ("q_dl", 179.9, -5.0), ("q_sparse", -120.0, -55.0)]
    k = 7
    out = knn_join(points, queries, k=k)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["image_id"], r["dist_km"]))
    for qid, qlon, qlat in queries:
        d = np.asarray(deg_to_km(distance_deg(qlon, qlat, lon, lat, "haversine")))
        order = sorted(range(len(d)), key=lambda i: (d[i], f"img{int(ids[i]):09d}"))[:k]
        want_ids = [f"img{int(ids[i]):09d}" for i in order]
        got_ids = [img for _, img, _ in sorted(got[qid])]
        assert got_ids == want_ids, qid
        np.testing.assert_allclose(
            sorted(x[2] for x in got[qid]), sorted(d[i] for i in order), rtol=1e-9
        )


def test_spatial_join_df_layer_equals_broadcast_path(spark, points):
    """The partitioned-cover join (layer as a DataFrame, distributed cover
    + per-task parse-cache refinement) returns exactly the broadcast
    path's rows on the oracle-verified 11-shape layer."""
    from spatial4n_spark.operators.spatial_join import spatial_join_points_polygons_df
    from spatial4n_spark.sources.polygons import POLYGON_LAYER
    from spatial4n_spark.suite import layer

    want = {
        (r["image_id"], r["poly_id"])
        for r in spatial_join_points_polygons(points, layer(), level=3)
        .select("image_id", "poly_id")
        .collect()
    }
    layer_df = spark.createDataFrame(
        [(pid, wkt) for pid, wkt, *_ in POLYGON_LAYER], "poly_id string, wkt string"
    )
    for index, lv in (("geohash", 3), ("s2", 6), ("h3", 5)):
        got_df = spatial_join_points_polygons_df(
            points, layer_df, level=lv, index=index
        )
        got = {
            (r["image_id"], r["poly_id"])
            for r in got_df.select("image_id", "poly_id").collect()
        }
        assert got == want, index


def test_spatial_join_df_layer_salted_equals_unsalted(spark, points):
    """Explicit salted repartitioning (the north rule's hot-cell defusal)
    changes only the shuffle key, never the rows: (cell, salt) join with
    a bucket-replicated cover returns exactly the unsalted rows — checked
    on a deliberately skewed workload (half the points stacked inside one
    Paris-cell polygon)."""
    from pyspark.sql import functions as F

    from spatial4n_spark.operators.spatial_join import spatial_join_points_polygons_df
    from spatial4n_spark.sources.polygons import POLYGON_LAYER

    layer_df = spark.createDataFrame(
        [(pid, wkt) for pid, wkt, *_ in POLYGON_LAYER], "poly_id string, wkt string"
    )
    # hot-cell workload: clone the points and pin the clones into Paris
    hot = points.select(
        F.concat(F.lit("hot_"), F.col("image_id")).alias("image_id"),
        (F.lit(2.33) + F.col("lon") * 0).alias("lon"),
        (F.lit(48.86) + F.col("lat") * 0).alias("lat"),
    )
    skewed = points.select("image_id", "lon", "lat").unionAll(hot)
    want = {
        (r["image_id"], r["poly_id"])
        for r in spatial_join_points_polygons_df(skewed, layer_df, level=3)
        .select("image_id", "poly_id").collect()
    }
    got = {
        (r["image_id"], r["poly_id"])
        for r in spatial_join_points_polygons_df(
            skewed, layer_df, level=3, salt_buckets=8
        ).select("image_id", "poly_id").collect()
    }
    assert got == want and len(got) > 0


def test_spatial_join_df_layer_10k_features(spark, points, coords):
    """A 10^4-feature synthetic layer through the partitioned-cover path:
    results match an independent numpy evaluation, and the plan builds the
    cover with a distributed MapInPandas stage (the layer never crosses
    the driver as a collected shape dict)."""
    import numpy as np

    from spatial4n_spark.kernels.polygon import Polygon
    from spatial4n_spark.kernels.polygon import points_covered as pc
    from spatial4n_spark.operators.spatial_join import spatial_join_points_polygons_df

    ids, lon, lat = coords
    rng = np.random.default_rng(42)
    feats = []
    # 9000 boxes (rect-collapse path) + 1500 triangles (polygon refine
    # path); every coordinate is pre-rounded and rendered via repr so the
    # WKT parse and the numpy check see bit-identical doubles
    bx = np.round(rng.uniform(-179, 178, 9000), 4)
    by = np.round(rng.uniform(-84, 83, 9000), 4)
    bx2, by2 = np.round(bx + 0.8, 4), np.round(by + 0.6, 4)
    for i in range(9000):
        x0, y0, x1, y1 = (float(v) for v in (bx[i], by[i], bx2[i], by2[i]))
        feats.append(
            (f"box{i:05d}",
             f"POLYGON (({x0!r} {y0!r}, {x1!r} {y0!r}, "
             f"{x1!r} {y1!r}, {x0!r} {y1!r}, {x0!r} {y0!r}))")
        )
    tx = np.round(rng.uniform(-179, 177, 1500), 4)
    ty = np.round(rng.uniform(-84, 82, 1500), 4)
    tx2, ty2 = np.round(tx + 1.2, 4), np.round(ty + 0.2, 4)
    tx3, ty3 = np.round(tx + 0.4, 4), np.round(ty + 1.1, 4)
    for i in range(1500):
        x0, y0 = float(tx[i]), float(ty[i])
        feats.append(
            (f"tri{i:05d}",
             f"POLYGON (({x0!r} {y0!r}, {float(tx2[i])!r} {float(ty2[i])!r}, "
             f"{float(tx3[i])!r} {float(ty3[i])!r}, {x0!r} {y0!r}))")
        )
    layer_df = spark.createDataFrame(feats, "poly_id string, wkt string").repartition(8)

    out = spatial_join_points_polygons_df(points, layer_df, level=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") >= 2  # distributed cover + refinement

    got = {(r["image_id"], r["poly_id"]) for r in out.select("image_id", "poly_id").collect()}

    want = set()
    inb = (lon[:, None] >= bx) & (lon[:, None] <= bx2) \
        & (lat[:, None] >= by) & (lat[:, None] <= by2)
    for pi, pj in zip(*np.nonzero(inb)):
        want.add((f"img{int(ids[pi]):09d}", f"box{pj:05d}"))
    for j in range(1500):
        tri = Polygon(np.array([
            [tx[j], ty[j]], [tx2[j], ty2[j]], [tx3[j], ty3[j]], [tx[j], ty[j]]]))
        cov = pc(lon, lat, tri, True)
        for pi in np.nonzero(cov)[0]:
            want.add((f"img{int(ids[pi]):09d}", f"tri{j:05d}"))
    assert got == want


def test_knn_join_df_equals_list_path(spark, points):
    _check_knn_join_df_equals_list_path(spark, points)


def test_knn_join_df_equals_list_path_above_budget(spark, points, above_budget):
    _check_knn_join_df_equals_list_path(spark, points)


def _check_knn_join_df_equals_list_path(spark, points):
    """The DataFrame kNN returns exactly the driver-list wrapper's rows,
    with broadcast covers and with broadcast_cells=0 (above the budget:
    a forced shuffle-join round)."""
    from spatial4n_spark.operators import knn_join_df

    queries = [("q_paris", 2.35, 48.85), ("q_dl", 179.9, -5.0), ("q_sparse", -120.0, -55.0)]
    k = 7
    want = {
        (r["query_id"], r["image_id"], r["rank"])
        for r in knn_join(points, queries, k=k).collect()
    }
    q_df = spark.createDataFrame(queries, "query_id string, qlon double, qlat double")
    for bcast in (200_000, 0):
        got = {
            (r["query_id"], r["image_id"], r["rank"])
            for r in knn_join_df(points, q_df, k=k, broadcast_cells=bcast).collect()
        }
        assert got == want, f"broadcast_cells={bcast}"


def test_knn_join_cover_equals_ring_path(spark, points):
    _check_knn_join_cover_equals_ring_path(points)


def test_knn_join_cover_equals_ring_path_above_budget(spark, points, above_budget):
    _check_knn_join_cover_equals_ring_path(points)


def _check_knn_join_cover_equals_ring_path(points):
    """The driver-list kNN returns exactly the DataFrame kNN's rows with
    its covers joined by shuffle (broadcast_cells=0) — including pole
    and dateline queries, which exercise the S2 cover's piece
    splitting."""
    from spatial4n_spark.operators.knn import knn_join_df

    queries = [
        ("q_paris", 2.35, 48.85),
        ("q_dl", 179.9, -5.0),
        ("q_sparse", -120.0, -55.0),
        ("q_pole", 10.0, 89.5),
    ]
    k = 7
    want = {
        (r["query_id"], r["image_id"], r["rank"])
        for r in knn_join(points, queries, k=k).collect()
    }
    q_df = points.sparkSession.createDataFrame(
        queries, "query_id string, qlon double, qlat double"
    )
    got = {
        (r["query_id"], r["image_id"], r["rank"])
        for r in knn_join_df(points, q_df, k=k, broadcast_cells=0).collect()
    }
    assert got == want and len(got) == len(queries) * k


def test_knn_join_cover_df_equals_list_path(spark, points):
    _check_knn_join_cover_df_equals_list_path(spark, points)


def test_knn_join_cover_df_equals_list_path_above_budget(spark, points, above_budget):
    _check_knn_join_cover_df_equals_list_path(spark, points)


def _check_knn_join_cover_df_equals_list_path(spark, points):
    """The DataFrame kNN returns exactly the driver-list wrapper's rows,
    including pole and dateline queries."""
    from spatial4n_spark.operators.knn import knn_join_df

    queries = [
        ("q_paris", 2.35, 48.85),
        ("q_dl", 179.9, -5.0),
        ("q_sparse", -120.0, -55.0),
        ("q_pole", 10.0, 89.5),
    ]
    k = 7
    q_df = spark.createDataFrame(queries, "query_id string, qlon double, qlat double")
    want = {
        (r["query_id"], r["image_id"], r["rank"])
        for r in knn_join(points, queries, k=k).collect()
    }
    got = {
        (r["query_id"], r["image_id"], r["rank"])
        for r in knn_join_df(points, q_df, k=k).collect()
    }
    assert got == want and len(got) == len(queries) * k


def test_tile_stats_salted_equals_plain(spark, points):
    plain = {r["cell"]: (r["n"], r["avg_lon"], r["avg_lat"]) for r in tile_stats(points, level=3).collect()}
    salted = {r["cell"]: (r["n"], r["avg_lon"], r["avg_lat"]) for r in tile_stats(points, level=3, salt_buckets=8).collect()}
    assert plain.keys() == salted.keys()
    for cell in plain:
        assert plain[cell][0] == salted[cell][0]
        np.testing.assert_allclose(plain[cell][1:], salted[cell][1:], rtol=1e-9)
    # hot cell exists (paris cluster) — sanity that skew is actually present
    top = max(plain.values())[0] if plain else 0
    assert max(v[0] for v in plain.values()) > N * 0.05


def test_relate_wkt_udf_vectors(spark):
    rows = [
        ("POLYGON((0 0, 10 0, 5 5, 0 0))", "POLYGON((0 0, 9 0, 5 5, 0 0))", "CONTAINS"),
        ("POLYGON((0 0, 10 0, 5 5, 0 0))", "POLYGON((10 0, 20 0, 15 5, 10 0))", "INTERSECTS"),
        ("ENVELOPE (0, 10, 10, 0)", "POINT (5 5)", "CONTAINS"),
        ("BUFFER(POINT(0 -90), 30)", "ENVELOPE (-180, 180, -80, -90)", "CONTAINS"),
        ("ENVELOPE (175, -175, 10, -10)", "POINT (179 0)", "CONTAINS"),
        ("ENVELOPE (175, -175, 10, -10)", "POINT (0 0)", "DISJOINT"),
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in rows], "a string, b string")
    got = [r["rel"] for r in df.select(relate_wkt_udf()(F.col("a"), F.col("b")).alias("rel")).collect()]
    assert got == [e for _, _, e in rows]


def test_native_rect_contains_point_pushdown_shape(spark, points):
    # the bbox prefilter must be a native filter (no Python eval in the plan)
    filtered = points.where(rect_contains_point(F.lit(2.0), F.lit(2.7), F.lit(48.6), F.lit(49.1), F.col("lon"), F.col("lat")))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_salt_planner_detects_hot_clusters(spark):
    """The salt planner's sketch finds the deliberately hot Paris/Tokyo
    cells and sizes the bucket count from the hottest one; salted and
    unsalted aggregation agree exactly."""
    from spatial4n_spark.operators.tiles import tile_stats
    from spatial4n_spark.plans.salt import choose_salt_buckets, sketch_hot_cells
    from spatial4n_spark.sources.images import images_df

    imgs = images_df(spark, 20_000, with_bytes=False, partitions=8).cache()
    hot = sketch_hot_cells(imgs, level=4, top=3)
    # ~18% of rows cluster near Paris: the hottest cell dwarfs the uniform
    # background (world has ~thousands of occupied level-4 cells)
    assert hot[0][1] > 1000
    assert hot[0][0].startswith(("u09", "xn7"))  # Paris / Tokyo geohash cells

    buckets = choose_salt_buckets(imgs, level=4, target_rows_per_bucket=500)
    assert buckets > 1

    from pyspark.sql import functions as F

    withm = imgs.withColumn("pm", F.pmod("phash", F.lit(1000)))  # bounded: no ANSI overflow
    unsalted = tile_stats(withm, level=4, salt_buckets=1, sum_col="pm")
    salted = tile_stats(withm, level=4, salt_buckets=buckets, salt_col="phash", sum_col="pm")
    a = {(r["cell"], r["n"], r["sum_pm"]) for r in unsalted.collect()}
    b = {(r["cell"], r["n"], r["sum_pm"]) for r in salted.collect()}
    assert a == b

    # sampled sketch also lands on a hot cluster cell (scaled estimate).
    # The Paris cluster spans adjacent near-tied level-4 cells, so the
    # sampled argmax may be any of the full sketch's top cells.
    hot_s = sketch_hot_cells(imgs, level=4, sample_fraction=0.25, top=1)
    assert hot_s[0][0] in {c for c, _ in hot}
    assert hot_s[0][0].startswith(("u09", "xn7"))
    imgs.unpersist()


def test_group_bbox_dateline_smart(spark):
    """Fiji property (NtsGeometryTest.cs:251-268): a group straddling the
    dateline gets the SHORT crossing bbox, not a near-world-wide one."""
    from spatial4n_spark.operators.group_bbox import group_bbox

    rows = (
        [("fiji", 179.0 + i * 0.1, -17.0 + i * 0.05) for i in range(5)]
        + [("fiji", -179.8 + i * 0.1, -16.5 + i * 0.05) for i in range(5)]
        + [("eu", -10.0 + i, 40.0 + i * 0.5) for i in range(5)]
        + [("solo", 42.5, 7.25)]
    )
    df = spark.createDataFrame(rows, "grp string, lon double, lat double")
    out = {r["grp"]: r for r in group_bbox(df, "grp").collect()}

    fiji = out["fiji"]
    assert fiji["min_x"] > fiji["max_x"]  # crossing encoded
    width = fiji["max_x"] - fiji["min_x"] + 360.0
    assert width < 5.0  # the smart merge keeps it tight
    assert fiji["min_y"] == -17.0 and fiji["max_y"] == pytest.approx(-16.3)

    eu = out["eu"]
    assert eu["min_x"] == -10.0 and eu["max_x"] == -6.0  # plain bbox
    solo = out["solo"]
    assert solo["min_x"] == solo["max_x"] == 42.5


def _knn_cover_rows(qlon, qlat, r_km):
    """The plan's cover rows for pending queries (query_id = position)."""
    import pandas as pd

    from spatial4n_spark.operators.knn import _S2_LEVEL, _cover_rows

    n = len(qlon)
    pending = pd.DataFrame(
        {"query_id": np.arange(n), "_qlon": np.asarray(qlon, dtype=np.float64),
         "_qlat": np.asarray(qlat, dtype=np.float64),
         "_r": np.asarray(r_km, dtype=np.float64)}
    )
    frames = list(_cover_rows(_S2_LEVEL)(iter([pending])))
    return pd.concat(frames, ignore_index=True)


def test_knn_est_cells_anisotropic(spark):
    """The covers' broadcast decision reads the real cover row count, not
    an estimate: at the cover level the plan picks, pole-adjacent covers
    exceed the nominal ``_CELLS_ACROSS**2`` cells, and the fold over any
    split of the cover rows counts them exactly and keeps every cover
    cell inside its ranges."""
    import pandas as pd

    from spatial4n_spark.operators.knn import _CELLS_ACROSS, _S2_LEVEL, _fold_covers

    radii = np.geomspace(1.0, 5000.0, 40)
    lons = np.tile([10.0, 179.9, -45.0], len(radii))
    rs = np.repeat(radii, 3)
    per_lat = {}
    for qlat in (0.0, 84.7, 89.5, -89.9):
        cov = _knn_cover_rows(lons, np.full(len(lons), qlat), rs)
        per_query = np.bincount(cov["query_id"].to_numpy(), minlength=len(lons))
        assert per_query.min() > 0
        per_lat[qlat] = per_query
        parts = [cov.iloc[i::3][["_lv", "_pcell"]] for i in range(3)]
        folded = pd.concat(
            [f for p in parts for f in _fold_covers(_S2_LEVEL)(iter([p]))], ignore_index=True
        )
        assert folded["_rows"].sum() == len(cov)
        for u, g in cov.groupby("_lv"):
            ranges = folded[folded["_lv"] == u]
            lo = g["_pcell"].to_numpy() << (2 * (_S2_LEVEL - int(u)))
            inside = (lo[:, None] >= ranges["lo"].to_numpy()) & (
                lo[:, None] <= ranges["hi"].to_numpy()
            )
            assert inside.any(axis=1).all(), (qlat, u)
    # a fixed per-query estimate of _CELLS_ACROSS**2 would under-count
    assert max(per_lat[84.7].max(), per_lat[89.5].max()) > _CELLS_ACROSS**2


def test_knn_covered_radius_expr_never_exceeds_enumeration(spark):
    """Acceptance soundness: a query is accepted once its k-th distance
    is within its radius r, so every point within r must lie in a cell
    of the query's cover at the level the plan picks. Checked on pole,
    near-pole and dateline queries over radii from 1 km to 5000 km with
    points sampled inside each circle (numpy haversine <= r)."""
    from spatial4n_spark.kernels.s2cell import s2_encode
    from spatial4n_spark.operators.knn import _S2_LEVEL

    rng = np.random.default_rng(3)
    centers = [(10.0, 89.5), (-60.0, -89.9), (0.0, 90.0), (179.9, -5.0),
               (-179.95, 0.5), (180.0, 60.0), (135.0, 84.7)]
    radii = [1.0, 7.5, 36.9, 135.4, 573.5, 2429.4, 5000.0]
    qlon = np.array([c[0] for c in centers for _ in radii])
    qlat = np.array([c[1] for c in centers for _ in radii])
    r_km = np.array([r for _ in centers for r in radii])
    cov = _knn_cover_rows(qlon, qlat, r_km)
    level_of = dict(zip(cov["query_id"], cov["_lv"]))
    cells_of = cov.groupby("query_id")["_pcell"].apply(set).to_dict()
    m = 400
    for q in range(len(qlon)):
        # destination points at random bearings and distances <= r
        d = r_km[q] * np.sqrt(rng.uniform(0, 1, m)) / EARTH_R
        d[:8] = r_km[q] * (1 - 1e-9) / EARTH_R
        th = rng.uniform(0, 2 * np.pi, m)
        p1, l1 = np.radians(qlat[q]), np.radians(qlon[q])
        p2 = np.arcsin(np.sin(p1) * np.cos(d) + np.cos(p1) * np.sin(d) * np.cos(th))
        l2 = l1 + np.arctan2(
            np.sin(th) * np.sin(d) * np.cos(p1), np.cos(d) - np.sin(p1) * np.sin(p2)
        )
        plat = np.degrees(p2)
        plon = (np.degrees(l2) + 180.0) % 360.0 - 180.0
        inside = deg_to_km(distance_deg(qlon[q], qlat[q], plon, plat, "haversine")) <= r_km[q]
        assert inside.sum() > m // 2
        lv = int(level_of[q])
        got = s2_encode(plat[inside], plon[inside], lv)
        missing = set(got.tolist()) - cells_of[q]
        assert not missing, (qlon[q], qlat[q], r_km[q], lv)


def test_spatial_join_polygons_equals_matrix(spark):
    """The cover-cell polygon pair join returns exactly the crossJoin
    relate matrix's non-disjoint pairs, and its candidate set is a strict
    subset of the cross product (the point of the operator)."""
    from spatial4n_spark.operators.spatial_join import spatial_join_polygons
    from spatial4n_spark.sources.polygons import POLYGON_LAYER
    from spatial4n_spark.sources.relate_expected import LAYER_RELATE_EXPECTED

    wkts = [(pid, wkt) for pid, wkt, _ in POLYGON_LAYER]
    got = {
        (r["id_a"], r["id_b"], r["rel"])
        for r in spatial_join_polygons(spark, wkts, wkts, level=3).collect()
    }
    want = {(a, b, r) for a, b, r in LAYER_RELATE_EXPECTED if r != "DISJOINT"}
    assert got == want

    # pruning: candidates (incl. disjoint bbox-touch pairs) < full 11x11
    cands = spatial_join_polygons(
        spark, wkts, wkts, level=3, keep_disjoint=True
    ).count()
    assert len(want) <= cands < len(wkts) ** 2


def test_spatial_join_polygons_df_equals_list_path(spark):
    """The DataFrame pair join (covers planned distributed, both layers
    stay off the driver) equals the list path on every backend."""
    from spatial4n_spark.operators.spatial_join import (
        spatial_join_polygons,
        spatial_join_polygons_df,
    )
    from spatial4n_spark.sources.polygons import POLYGON_LAYER

    wkts = [(pid, wkt) for pid, wkt, _ in POLYGON_LAYER]
    want = {
        (r["id_a"], r["id_b"], r["rel"])
        for r in spatial_join_polygons(spark, wkts, wkts, level=3).collect()
    }
    layer_df = spark.createDataFrame(wkts, "poly_id string, wkt string")
    for index, lv in (("geohash", 3), ("s2", 6), ("h3", 5)):
        got = {
            (r["id_a"], r["id_b"], r["rel"])
            for r in spatial_join_polygons_df(
                layer_df, layer_df, level=lv, index=index
            ).collect()
        }
        assert got == want, index


def test_tile_pyramid_levels_equal_direct(spark, points):
    """Every pyramid level — derived from the finest level's partials by
    parent truncation, never a rescan — is bit-equal to a direct
    aggregation at that level, for both exactly-nesting backends."""
    from spatial4n_spark.operators.tiles import tile_pyramid

    pts = points.withColumn("v", (F.col("phash") % 1000).cast("long"))
    for index, lo, hi in (("geohash", 1, 3), ("s2", 3, 6)):
        pyr = tile_pyramid(
            pts, level=hi, min_level=lo, sum_col="v",
            salt_buckets=4, salt_col="phash", index=index,
        )
        rows = pyr.collect()
        assert sorted({r["lvl"] for r in rows}) == list(range(lo, hi + 1))
        for L in range(lo, hi + 1):
            direct = {
                r["cell"]: (r["n"], r["sum_v"])
                for r in tile_stats(
                    pts, level=L, sum_col="v", index=index
                ).collect()
            }
            got = {
                r["cell"]: (r["n"], r["sum_v"]) for r in rows if r["lvl"] == L
            }
            assert got == direct, (index, L)


def test_tile_pyramid_count_only_and_h3_rejected(spark, points):
    from spatial4n_spark.operators.tiles import tile_pyramid

    pyr = tile_pyramid(points, level=3, min_level=2).collect()
    assert set(r["lvl"] for r in pyr) == {2, 3}
    # counts at every level sum to the input size (partition of the set)
    for L in (2, 3):
        assert sum(r["n"] for r in pyr if r["lvl"] == L) == N
    with pytest.raises(ValueError, match="nest"):
        tile_pyramid(points, level=5, index="h3")


def test_knn_join_routes_large_batches_to_df_plan(spark, points, monkeypatch):
    """The list entry point is a wrapper over knn_join_df: a batch above
    64 queries reaches the DataFrame plan with the caller's
    ``estimated_total``, and the kernel and the plan agree."""
    from spatial4n_spark.operators import knn

    seen = []
    real = knn.knn_join_df
    monkeypatch.setattr(
        knn, "knn_join_df",
        lambda *a, **kw: seen.append(kw["estimated_total"]) or real(*a, **kw),
    )
    rng = np.random.default_rng(5)
    queries = [
        (f"q{i:03d}", float(x), float(y))
        for i, (x, y) in enumerate(zip(rng.uniform(-180, 180, 80), rng.uniform(-80, 80, 80)))
    ]
    k = 5
    got = sorted(map(tuple, knn_join(points, queries, k=k, estimated_total=N).collect()))
    assert seen == [N]
    monkeypatch.setattr(knn, "_BRUTE_FORCE_PAIRS", 0)
    plan = sorted(map(tuple, knn_join(points, queries, k=k, estimated_total=N).collect()))
    assert seen == [N, N]
    assert got == plan and len(got) == 80 * k


def test_knn_list_queries_are_local_relations(spark):
    """A driver-side query list, empty or not and whatever the Arrow
    setting, becomes a LocalRelation: collecting or broadcasting it runs
    no Spark job (an empty pandas frame would be an RDD)."""
    from spatial4n_spark.operators.knn import _list_queries

    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            for queries in ([], [("q", 2.35, 48.85)]):
                df = _list_queries(spark, queries)
                plan = df._jdf.queryExecution().optimizedPlan()
                assert plan.getClass().getSimpleName() == "LocalRelation", (arrow, queries)
                assert [tuple(r) for r in df.collect()] == [("q", 2.35, 48.85)][: len(queries)]
    finally:
        spark.conf.set(key, old)


def _knn_rows(df, id_col="image_id"):
    return sorted(
        (r["query_id"], r[id_col], r["rank"], r["dist_km"])
        for r in df.select("query_id", id_col, "rank", "dist_km").collect()
    )


def test_knn_kernel_equals_plans(spark, coords, monkeypatch):
    """Differential: the exact kernel and every above-budget plan return
    identical (query_id, id, rank) and bit-equal dist_km on dateline and
    polar queries, the Paris hot cluster, exact duplicate points tied at
    the k-th distance, a null point, fewer points than k, and an empty
    points table."""
    from spatial4n_spark.operators import knn

    ids, lon, lat = coords
    rows = [(f"img{int(i):09d}", float(x), float(y)) for i, x, y in zip(ids, lon, lat)]
    # 12 copies of one point: the query beside them ties at the k-th
    # distance and the id order decides which 7 of 12 are returned
    rows += [(f"dup{j:02d}", 40.01, 10.0) for j in range(12)]
    # a null point encodes to the S2 cell of NaN, whose center q_nan sits
    # on: it has no distance and must never be returned
    rows.append(("null_pt", None, None))
    schema = "image_id string, lon double, lat double"
    tables = {
        "full": spark.createDataFrame(rows, schema),
        "fewer_than_k": spark.createDataFrame(rows[:3], schema),
        "empty": spark.createDataFrame([], schema),
    }
    queries = [
        ("q_paris", 2.35, 48.85), ("q_dl", 179.9, -5.0), ("q_dl2", -179.95, 0.5),
        ("q_pole", 10.0, 89.5), ("q_spole", -60.0, -89.9), ("q_tie", 40.0, 10.0),
        ("q_nan", -45.0, -35.2666),
    ]
    qdf = spark.createDataFrame(queries, "query_id string, qlon double, qlat double")
    k = 7
    runs = {
        "df": lambda p: knn.knn_join_df(p, qdf, k),
        "df_shuffle": lambda p: knn.knn_join_df(p, qdf, k, broadcast_cells=0),
    }
    for name, pts in tables.items():
        kernel = _knn_rows(runs["df"](pts))
        want = {"full": len(queries) * k, "fewer_than_k": len(queries) * 3, "empty": 0}
        assert len(kernel) == want[name], name
        if name == "full":
            tie = [r[1] for r in kernel if r[0] == "q_tie"]
            assert tie == [f"dup{j:02d}" for j in range(k)]
        # the tiny tables send every query to the stragglers: one plan
        # arm covers that path
        plans = runs if name == "full" else ("df",)
        with monkeypatch.context() as m:
            m.setattr(knn, "_BRUTE_FORCE_PAIRS", 0)
            for plan in plans:
                assert _knn_rows(runs[plan](pts)) == kernel, (name, plan)
