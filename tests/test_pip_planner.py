"""Cost-based PIP plan selection (plans/pip_planner.py): the decision
per regime is pinned, and the executed auto plan is result-identical to
the manual entry points.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial4n_spark.io.wkt import parse_wkt, to_wkt
from spatial4n_spark.kernels.polygon import Rect
from spatial4n_spark.plans.pip_planner import (
    BROADCAST_FEATURES_MAX,
    PipPlan,
    plan_pip_join,
    spatial_join_auto,
)


def _rect(pid, x0, x1, y0, y1):
    return (pid, Rect(x0, x1, y0, y1))


def _uniform_layer(n=20, size=1.0):
    """n similar-sized rects marching along the equator."""
    return [
        _rect(f"u{i}", -170 + i * 8.0, -170 + i * 8.0 + size, -2.0, -2.0 + size)
        for i in range(n)
    ]


def _mixed_layer():
    """Continent-sized features beside city blocks: huge bbox spread."""
    out = [_rect("big0", -160.0, -20.0, -50.0, 50.0),
           _rect("big1", 20.0, 150.0, -40.0, 60.0)]
    out += [
        _rect(f"sm{i}", 2.0 + i * 0.02, 2.0 + i * 0.02 + 0.01, 48.0, 48.01)
        for i in range(18)
    ]
    return out


def test_uniform_layer_plans_cover(spark):
    pts = spark.range(1).select(
        F.lit(0.0).alias("lon"), F.lit(0.0).alias("lat")
    )
    d, _ = plan_pip_join(pts, _uniform_layer())
    assert d.plan == "cover"
    assert d.level >= 2
    assert d.salt_buckets == 1
    assert "cover" in d.reason


def test_mixed_size_layer_plans_rtree(spark):
    pts = spark.range(1).select(
        F.lit(0.0).alias("lon"), F.lit(0.0).alias("lat")
    )
    d, _ = plan_pip_join(pts, _mixed_layer())
    assert d.plan == "rtree"
    assert "spread" in d.reason
    assert d.stats["bbox_spread_p90_over_med"] > 64


def test_gate_layer_plans_rtree(spark):
    """The gate layer (fiji_style beside city rects, spread ~96) sits
    in the measured regime where the R-tree ran 2.2x faster (BENCH.md
    session 12) — the planner must pick it."""
    from spatial4n_spark.suite import layer

    pts = spark.range(1).select(
        F.lit(0.0).alias("lon"), F.lit(0.0).alias("lat")
    )
    d, _ = plan_pip_join(pts, layer())
    assert d.plan == "rtree"


def test_large_df_layer_plans_df(spark):
    """A DataFrame layer past the broadcast bound must stay distributed
    — the planner may never collect it."""
    n = BROADCAST_FEATURES_MAX + 50
    rows = [
        (f"p{i}", to_wkt(Rect(i * 0.01, i * 0.01 + 0.005, 0.0, 0.005)))
        for i in range(n)
    ]
    big = spark.createDataFrame(rows, "poly_id string, wkt string")
    pts = spark.createDataFrame(
        [(float(i % 360) - 180.0, float(i % 80) - 40.0) for i in range(500)],
        "lon double, lat double",
    )
    d, use_layer = plan_pip_join(pts, big)
    assert d.plan == "df"
    assert use_layer is big  # passed through, not collected
    assert d.salt_buckets >= 1


def test_small_df_layer_is_collected_and_planned(spark):
    rows = [(pid, to_wkt(s)) for pid, s in _uniform_layer()]
    small = spark.createDataFrame(rows, "poly_id string, wkt string")
    pts = spark.range(1).select(
        F.lit(0.0).alias("lon"), F.lit(0.0).alias("lat")
    )
    d, use_layer = plan_pip_join(pts, small)
    assert d.plan == "cover"
    assert isinstance(use_layer, list) and len(use_layer) == len(rows)


@pytest.fixture(scope="module")
def points(spark):
    from spatial4n_spark.sources.images import images_df

    df = images_df(spark, 4000, with_bytes=False).cache()
    df.count()
    return df


def test_auto_join_matches_manual_paths(spark, points):
    """spatial_join_auto is result-identical to the manual entry points
    on both regimes (plan invariance carries to the auto surface).  The
    mixed layer is compared against the R-tree path — its continent
    rect can't even run through the cover planner (per-shape cell cap),
    which is precisely the regime the planner routes away from."""
    from spatial4n_spark.operators.spatial_join import (
        spatial_join_points_polygons,
        spatial_join_points_polygons_rtree,
    )

    for lay, manual in (
        (_uniform_layer(),
         lambda: spatial_join_points_polygons(points, lay, level=3)),
        (_mixed_layer(),
         lambda: spatial_join_points_polygons_rtree(points, lay)),
    ):
        want = sorted(
            map(tuple, manual().select("image_id", "poly_id").collect())
        )
        got = sorted(
            map(
                tuple,
                spatial_join_auto(points, lay)
                .select("image_id", "poly_id")
                .collect(),
            )
        )
        assert got == want


def test_empty_layer_plans_cover_and_joins_nothing(spark):
    pts = spark.range(3).select(
        F.col("id").cast("double").alias("lon"), F.lit(0.0).alias("lat")
    )
    d, lay = plan_pip_join(pts, [])
    assert (d.plan, lay, d.stats["n_features"]) == ("cover", [], 0)
    assert "empty" in d.reason
    assert spatial_join_auto(pts, []).count() == 0
    empty_df = spark.createDataFrame([], "poly_id string, wkt string")
    d, lay = plan_pip_join(pts, empty_df)
    assert (d.plan, lay) == ("cover", [])
    out = spatial_join_auto(pts, empty_df)
    assert out.count() == 0 and "poly_id" in out.columns


def test_layer_without_wkt_column_raises_clear_error(spark):
    pts = spark.range(1).select(F.lit(0.0).alias("lon"), F.lit(0.0).alias("lat"))
    for layer in (
        spark.createDataFrame([("a",)], "poly_id string"),
        spark.createDataFrame([("a", 1.0)], "poly_id string, area double"),
    ):
        with pytest.raises(ValueError, match="needs \\(poly_id, wkt\\)"):
            plan_pip_join(pts, layer)
