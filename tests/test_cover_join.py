"""The cover-join core shared by the PIP, corridor, radius and
polygon-pair joins: no point with a null or non-finite coordinate is
ever joined, the cover budget follows the join's ``geo``, the
driver-side list joins build their frames as LocalRelations, and the
keyed refine matches a per-key covers test.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from spatial4n_spark.io.wkt import parse_wkt
from spatial4n_spark.kernels.polygon import points_covered, points_covered_by_key
from spatial4n_spark.plans.cover import cover_cells

DATELINE_WKT = "POLYGON((170 -5, -170 -5, -170 5, 170 5, 170 -5))"
# at lat 1.0 a NaN or null lon encodes to geohash 800, +inf to xbp and
# -inf to xbh: all full cells of the polygon's cover (and of the routes')
BAD_LONS = [None, math.nan, math.inf, -math.inf]
INSIDE = (175.0, 1.0)
ROUTES = [
    ("west", [(-180.0, 0.7), (-170.0, 0.7)], 300.0),
    ("east", [(170.0, 0.7), (180.0, 0.7)], 300.0),
]


def _points(spark):
    rows = [(0, *INSIDE)] + [(i + 1, lon, 1.0) for i, lon in enumerate(BAD_LONS)]
    return spark.createDataFrame(rows, "id long, lon double, lat double")


def _layer_df(spark):
    return spark.createDataFrame([("dl", DATELINE_WKT)], "poly_id string, wkt string")


def _join(spark, plan):
    from spatial4n_spark.operators.corridor import corridor_join
    from spatial4n_spark.operators.distance_join import radius_join
    from spatial4n_spark.operators.spatial_join import (
        spatial_join_points_polygons,
        spatial_join_points_polygons_df,
        spatial_join_points_polygons_rtree,
    )
    from spatial4n_spark.plans.pip_planner import spatial_join_auto

    pts = _points(spark)
    layer = [("dl", parse_wkt(DATELINE_WKT))]
    if plan in ("geohash", "s2", "h3"):
        return spatial_join_points_polygons(pts, layer, level=3, index=plan)
    if plan == "df":
        return spatial_join_points_polygons_df(pts, _layer_df(spark), level=3)
    if plan == "df_salted":
        return spatial_join_points_polygons_df(pts, _layer_df(spark), level=3, salt_buckets=4)
    if plan == "rtree":
        return spatial_join_points_polygons_rtree(pts, layer)
    if plan == "auto":
        return spatial_join_auto(pts, layer)
    if plan == "radius":
        return radius_join(pts, [("q", 177.0, 1.0, 400.0)])
    return corridor_join(pts, ROUTES, level=3)


@pytest.mark.parametrize(
    "plan", ["geohash", "s2", "h3", "df", "df_salted", "rtree", "auto", "corridor", "radius"]
)
def test_nonfinite_points_are_never_candidates(spark, plan):
    got = sorted(r["id"] for r in _join(spark, plan).collect())
    assert got == [0]


def test_cover_budget_follows_geo(spark):
    from spatial4n_spark.operators.spatial_join import choose_join_level
    from spatial4n_spark.plans.pip_planner import plan_pip_join

    square = parse_wkt("POLYGON((200 0, 260 0, 260 60, 200 60, 200 0))", False)
    layer = [("sq", square)]
    assert choose_join_level(layer, geo=False) == 4
    pts = spark.range(1).selectExpr("0.0 AS lon", "0.0 AS lat")
    decision, _ = plan_pip_join(pts, layer, geo=False)
    fulls, bounds = cover_cells(square, decision.level, geo=False)
    assert decision.stats["cover_cells_at_level"] == len(fulls) + len(bounds)


def _rdd_leaves(df) -> bool:
    return "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()


def test_driver_side_joins_build_local_relations(spark):
    from spatial4n_spark.operators.corridor import corridor_join
    from spatial4n_spark.operators.distance_join import radius_join
    from spatial4n_spark.operators.spatial_join import (
        spatial_join_points_polygons,
        spatial_join_polygons,
    )

    pts = spark.range(4).selectExpr("id", "cast(id AS double) AS lon", "1.0 AS lat")
    wkts = [("a", "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"), ("b", DATELINE_WKT)]
    joins = [
        spatial_join_points_polygons(pts, [(i, parse_wkt(w)) for i, w in wkts], level=3),
        corridor_join(pts, ROUTES),
        radius_join(pts, [("q", 1.0, 1.0, 200.0)]),
        spatial_join_polygons(spark, wkts, wkts),
    ]
    assert not any(_rdd_leaves(j) for j in joins)
    assert sorted(tuple(r) for r in joins[3].collect()) == [
        ("a", "a", "CONTAINS"), ("b", "b", "CONTAINS"),
    ]


def test_keyed_refine_matches_per_key_covers():
    rng = np.random.default_rng(3)
    x = rng.uniform(-3, 3, 200)
    y = rng.uniform(-3, 3, 200)
    shapes = [
        parse_wkt("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"),
        parse_wkt("POLYGON((-2 -2, 1 -2, 1 1, -2 -2))"),
        None,
    ]
    keys = rng.integers(0, 3, 200)
    got = points_covered_by_key(x, y, keys, shapes.__getitem__)
    for k, shape in enumerate(shapes):
        m = keys == k
        want = np.zeros(m.sum(), bool) if shape is None else points_covered(x[m], y[m], shape)
        assert (got[m] == want).all()
