"""Cost-based plan selection for the point-in-polygon join family.

The engine has three correct PIP plans with measured crossovers
(BENCH.md session 12: rtree 0.80 s vs cover 1.74 s at sf0.1 on the
mixed-size gate layer; the DF path is the only one that works past
broadcast size):

- ``cover``  — broadcast cell-cover equi-join
  (operators.spatial_join.spatial_join_points_polygons): candidate
  quality fixed by one global cell level; bbox prefilter rides the
  join condition; best when the layer's features are similar-sized so
  one level fits all, and the total cover broadcast stays small.
- ``rtree``  — broadcast STR R-tree, no join/no shuffle
  (spatial_join_points_polygons_rtree): per-feature candidate quality
  (each polygon indexed by its own bbox), one mapInPandas stage; best
  for broadcastable layers with WILDLY MIXED feature sizes, where any
  single cover level starves small features or blows up big ones.
- ``df``     — beyond-broadcast distributed-cover shuffle join
  (spatial_join_points_polygons_df), with explicit salting for
  hot-cell skew: the only plan whose layer side never touches the
  driver; mandatory once the layer outgrows a broadcast.

``plan_pip_join`` makes that choice from measurable layer statistics —
feature count, bbox-size spread, total cover size — plus (in the df
regime, where a shuffle exists to skew) a hot-cell sketch of the
points; ``spatial_join_auto`` executes it.  The chosen plan never
changes RESULTS (all three are pytest-pinned plan-invariant), only the
physical strategy — exactly the contract Catalyst gives builtin joins.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from spatial4n_spark.kernels.polygon import shape_bbox

# A DataFrame layer at or under this many features is collected and
# joined via a broadcast plan (the cover table for 2k polygons is a few
# MB — squarely broadcast-sized); past it, the layer stays distributed.
BROADCAST_FEATURES_MAX = 2_000

# past this many total cover cells the broadcast table stops being
# "small": the budget of choose_join_level and of the cover -> rtree switch
COVER_CELLS_MAX = 20_000

# bbox-area ratio (p90 / median) above which the layer counts as
# mixed-size: one global cover level can't serve both ends, the R-tree's
# per-feature adaptivity wins.  Calibrated against the measured
# crossover: the gate layer (spread ~96, continent-sized fiji_style vs
# city-block rects) runs 2.2x faster on the R-tree plan (0.80 s vs
# 1.74 s at sf0.1, BENCH.md session 12), so the bar sits below it.
MIXED_SIZE_SPREAD = 64.0


@dataclass(frozen=True)
class PipPlan:
    """The planner's decision — enough to reproduce the choice."""

    plan: str                      # 'cover' | 'rtree' | 'df'
    level: int                     # cell level (cover/df plans)
    salt_buckets: int              # >1 only for the df plan under skew
    reason: str                    # one-line human explanation
    stats: dict = field(default_factory=dict)  # the measured inputs


def _bbox_spread(polygons: list[tuple[str, object]], geo: bool) -> float:
    """p90/median bbox area over the layer (1.0 for uniform layers)."""
    areas = []
    for _, shape in polygons:
        bb = shape_bbox(shape, geo)
        w = float(bb.max_x - bb.min_x)
        if w < 0:  # dateline-crossing rect encoding
            w += 360.0
        areas.append(max(w * float(bb.max_y - bb.min_y), 1e-12))
    a = np.sort(np.asarray(areas, dtype=np.float64))
    med = float(a[len(a) // 2])
    p90 = float(a[min(len(a) - 1, int(0.9 * len(a)))])
    return p90 / max(med, 1e-12)


def _cover_total(polygons: list[tuple[str, object]], level: int, geo: bool) -> int:
    """Total geohash cover cells of the layer at ``level``, counted only
    until it passes ``COVER_CELLS_MAX`` (``COVER_CELLS_MAX + 1`` when one
    feature's cover alone exceeds it)."""
    from spatial4n_spark.plans.cover import cover_cells

    total = 0
    for _, shape in polygons:
        try:
            fulls, bounds = cover_cells(shape, level, geo, max_cells=COVER_CELLS_MAX)
        except ValueError:
            return COVER_CELLS_MAX + 1
        total += len(fulls) + len(bounds)
        if total > COVER_CELLS_MAX:
            break
    return total


def choose_join_level(polygons: list[tuple[str, object]], geo: bool = True) -> int:
    """The uniform join level for a layer: the finest of 2-4 whose total
    cover stays within ``COVER_CELLS_MAX`` broadcast rows (finer cells
    mean fewer candidates through the exact refine, coarser cells a
    smaller broadcast)."""
    level = 2
    for cand in (3, 4):
        if _cover_total(polygons, cand, geo) > COVER_CELLS_MAX:
            break
        level = cand
    return level


def plan_pip_join(
    points: DataFrame,
    layer,
    geo: bool = True,
    level: int | None = None,
    lon: str = "lon",
    lat: str = "lat",
) -> tuple[PipPlan, list | DataFrame]:
    """Choose the PIP plan for ``points`` x ``layer``.

    ``layer`` is either ``[(poly_id, shape)]`` (driver list — already
    broadcast-sized by construction) or a DataFrame of
    ``(poly_id, wkt)``.  Returns ``(decision, layer_for_execution)`` —
    a small DataFrame layer is collected once here (bounded by
    ``BROADCAST_FEATURES_MAX``) so the broadcast plans apply to it;
    a large one is passed through untouched.

    The decision tree, cheapest signals first:

    1. DataFrame layer with > BROADCAST_FEATURES_MAX features -> ``df``
       (never collect an unbounded layer), salt from a hot-cell sketch
       of the points (the only regime with a shuffle to skew).
    2. list/collected layer: bbox-size spread > MIXED_SIZE_SPREAD ->
       ``rtree`` (per-feature candidates beat any single cover level).
    3. cover total at the auto level > COVER_CELLS_MAX -> ``rtree``
       (the cover table stopped being broadcast-small; the R-tree is
       O(features), not O(cells)).
    4. otherwise -> ``cover`` at the auto-chosen level.
    """
    stats: dict = {}
    if isinstance(layer, DataFrame):
        wkt_col = "wkt" if "wkt" in layer.columns else (layer.columns[1:2] or [None])[0]
        if wkt_col is None or layer.schema[wkt_col].dataType.simpleString() != "string":
            raise ValueError(
                "a DataFrame polygon layer needs (poly_id, wkt): a 'wkt' string "
                f"column, or WKT strings in the second column; got {layer.dtypes}"
            )
        n = layer.limit(BROADCAST_FEATURES_MAX + 1).count()
        stats["n_features_probe"] = n
        if n > BROADCAST_FEATURES_MAX:
            from spatial4n_spark.plans.salt import choose_salt_buckets

            lvl = level if level is not None else 4
            salt = choose_salt_buckets(points, lvl, lon, lat)
            stats["salt_buckets"] = salt
            return (
                PipPlan(
                    "df", lvl, salt,
                    f"layer exceeds {BROADCAST_FEATURES_MAX} features: "
                    "beyond-broadcast distributed cover"
                    + (f", salted x{salt} for hot cells" if salt > 1 else ""),
                    stats,
                ),
                layer,
            )
        # bounded collect: the layer IS broadcast-sized
        from spatial4n_spark.io.wkt import parse_wkt

        rows = layer.collect()
        poly_id = layer.columns[0]
        layer = [(r[poly_id], parse_wkt(r[wkt_col], geo)) for r in rows]

    stats["n_features"] = len(layer)
    if not layer:
        lvl = level if level is not None else 2
        return PipPlan("cover", lvl, 1, "empty layer: no features to join", stats), layer
    spread = _bbox_spread(layer, geo)
    stats["bbox_spread_p90_over_med"] = round(spread, 2)
    if spread > MIXED_SIZE_SPREAD:
        return (
            PipPlan(
                "rtree", 0, 1,
                f"bbox sizes spread {spread:.0f}x (p90/median) > "
                f"{MIXED_SIZE_SPREAD:.0f}: per-feature R-tree candidates",
                stats,
            ),
            layer,
        )
    lvl = level if level is not None else choose_join_level(layer, geo)
    total = _cover_total(layer, lvl, geo)
    stats["cover_cells_at_level"] = total
    stats["level"] = lvl
    if total > COVER_CELLS_MAX:
        return (
            PipPlan(
                "rtree", 0, 1,
                f"cover at level {lvl} needs {total}+ cells > "
                f"{COVER_CELLS_MAX}: R-tree is O(features) not O(cells)",
                stats,
            ),
            layer,
        )
    return (
        PipPlan(
            "cover", lvl, 1,
            f"uniform broadcastable layer: cell-cover equi-join at "
            f"level {lvl} ({total} cover cells)",
            stats,
        ),
        layer,
    )


def spatial_join_auto(
    points: DataFrame,
    layer,
    lon: str = "lon",
    lat: str = "lat",
    geo: bool = True,
    level: int | None = None,
    poly_id: str = "poly_id",
    wkt_col: str = "wkt",
) -> DataFrame:
    """PIP join with the physical plan chosen by ``plan_pip_join``.

    Results are identical to every manual entry point (the three plans
    are plan-invariant, pytest-pinned); only the physical strategy —
    broadcast cover join, broadcast R-tree scan, or distributed salted
    shuffle join — adapts to the layer.  Call ``plan_pip_join``
    directly to inspect or log the decision.
    """
    from spatial4n_spark.operators.spatial_join import (
        spatial_join_points_polygons,
        spatial_join_points_polygons_df,
        spatial_join_points_polygons_rtree,
    )

    decision, use_layer = plan_pip_join(points, layer, geo, level, lon, lat)
    if decision.plan == "df":
        return spatial_join_points_polygons_df(
            points, use_layer, lon, lat, level=decision.level, geo=geo,
            poly_id=poly_id, wkt_col=wkt_col,
            salt_buckets=decision.salt_buckets,
        )
    if decision.plan == "rtree":
        return spatial_join_points_polygons_rtree(
            points, use_layer, lon, lat, geo
        )
    return spatial_join_points_polygons(
        points, use_layer, lon, lat, level=decision.level, geo=geo
    )
