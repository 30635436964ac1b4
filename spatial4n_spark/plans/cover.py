"""Cell-cover planning: shape -> geohash cells (full / boundary).

The driver-side "physical planner" of the spatial join (SURVEY.md §2.9,
§4.2): descend the geohash quadtree from level 1, classifying each cell
against the query shape:

- cell DISJOINT shape  -> pruned
- cell fully covered   -> 'full' cell: every point in it matches, no
                          refinement UDF needed (the fast path)
- else                 -> recurse; at the target level it becomes a
                          'boundary' cell that needs exact PIP refinement

This mirrors the reference's bbox-gate-then-exact structure
(NtsGeometry.cs:284-287) hoisted from per-row to per-cell, which is what
makes the distributed join scale: the refinement UDF only sees points in
boundary cells.

Polygon classification is numpy-vectorized over the whole frontier per
level (a planner must handle ~10^5-feature layers): a cell is

- fully covered  iff all 4 corners are covered AND no boundary segment
  intersects the cell (separating-axis test, conservative on touches);
- disjoint       iff no segment intersects it, no corner is covered, and
  no polygon vertex lies inside it (poly-inside-cell case);
- boundary       otherwise.

Conservative ties go to 'boundary', which the exact refinement pass
resolves — never to 'full' or pruned, so join results are exact.

Covers are memoized per process: planning happens once per
(layer, level) and is reused across jobs.
"""

from __future__ import annotations

import numpy as np

from spatial4n_spark.kernels.bbox import rect_relate_rect
from spatial4n_spark.kernels.circle import circle_relate_rects, geo_circle_relate_rects
from spatial4n_spark.kernels.geohash import BASE32, geohash_decode_bbox
from spatial4n_spark.kernels.polygon import (
    Circle,
    MultiPolygon,
    Polygon,
    Rect,
    close_ring,
    points_covered,
    shape_bbox,
    unwrap_dateline,
)
from spatial4n_spark.kernels.geohash import geohash_len_for_width_height
from spatial4n_spark.kernels.relate import relate
from spatial4n_spark.relation import CONTAINS, DISJOINT, INTERSECTS


def choose_level(shape, geo: bool = True, target_cells: int = 8) -> int:
    """Pick the geohash level whose cells are ~1/target of the shape bbox."""
    bb = shape_bbox(shape, geo)
    w = bb.width / max(target_cells, 1)
    h = (bb.max_y - bb.min_y) / max(target_cells, 1)
    lvl = geohash_len_for_width_height(max(w, 1e-9), max(h, 1e-9))
    return max(1, min(lvl, 7))


def _poly_rings(shape) -> list[np.ndarray]:
    members = shape.polys if isinstance(shape, MultiPolygon) else [shape]
    rings: list[np.ndarray] = []
    for m in members:
        rings.append(unwrap_dateline(m.shell))
        rings.extend(unwrap_dateline(h) for h in m.holes)
    return rings


def _classify_poly_cells(shape, min_x, max_x, min_y, max_y, geo: bool) -> np.ndarray:
    """int8 per cell: DISJOINT / CONTAINS (fully covered) / INTERSECTS."""
    n = len(min_x)
    rings = [close_ring(r) for r in _poly_rings(shape)]
    x1 = np.concatenate([r[:-1, 0] for r in rings])
    y1 = np.concatenate([r[:-1, 1] for r in rings])
    x2 = np.concatenate([r[1:, 0] for r in rings])
    y2 = np.concatenate([r[1:, 1] for r in rings])
    vx = np.concatenate([r[:, 0] for r in rings])
    vy = np.concatenate([r[:, 1] for r in rings])

    offsets = [0.0]
    if geo:
        if float(vx.max()) > 180.0:
            offsets.append(360.0)  # unwrapped page east of the seam
        if float(vx.min()) < -180.0:
            offsets.append(-360.0)

    cov = [
        points_covered(min_x, min_y, shape, geo),
        points_covered(max_x, min_y, shape, geo),
        points_covered(min_x, max_y, shape, geo),
        points_covered(max_x, max_y, shape, geo),
    ]
    all_cov = cov[0] & cov[1] & cov[2] & cov[3]
    any_cov = cov[0] | cov[1] | cov[2] | cov[3]

    # segment x cell-rect intersection (separating axes: x, y, segment normal)
    sxmin, sxmax = np.minimum(x1, x2)[:, None], np.maximum(x1, x2)[:, None]
    symin, symax = np.minimum(y1, y2)[:, None], np.maximum(y1, y2)[:, None]
    nx, ny = -(y2 - y1), x2 - x1
    c = (nx * x1 + ny * y1)[:, None]
    hit = np.zeros(n, dtype=bool)
    vin = np.zeros(n, dtype=bool)
    for off in offsets:
        rx1, rx2 = min_x + off, max_x + off
        bbox_ov = (sxmin <= rx2) & (sxmax >= rx1) & (symin <= max_y) & (symax >= min_y)
        p1 = nx[:, None] * rx1 + ny[:, None] * min_y
        p2 = nx[:, None] * rx2 + ny[:, None] * min_y
        p3 = nx[:, None] * rx1 + ny[:, None] * max_y
        p4 = nx[:, None] * rx2 + ny[:, None] * max_y
        pmin = np.minimum(np.minimum(p1, p2), np.minimum(p3, p4))
        pmax = np.maximum(np.maximum(p1, p2), np.maximum(p3, p4))
        hit |= (bbox_ov & (pmin <= c) & (c <= pmax)).any(axis=0)
        vin |= (
            (vx[:, None] >= rx1) & (vx[:, None] <= rx2)
            & (vy[:, None] >= min_y) & (vy[:, None] <= max_y)
        ).any(axis=0)

    out = np.full(n, INTERSECTS, dtype=np.int8)
    out[~hit & ~any_cov & ~vin] = DISJOINT
    out[all_cov & ~hit] = CONTAINS
    return out


def _classify_cells(shape, bboxes, geo: bool) -> np.ndarray:
    min_x, max_x, min_y, max_y = bboxes
    if isinstance(shape, (Polygon, MultiPolygon)):
        return _classify_poly_cells(shape, min_x, max_x, min_y, max_y, geo)
    # Circle / Rect query shapes: the exact relate kernel over the whole
    # level in one call (what relate() runs per cell)
    if isinstance(shape, Circle):
        rel = geo_circle_relate_rects if shape.geo else circle_relate_rects
        return rel(shape.x, shape.y, shape.radius, min_x, max_x, min_y, max_y)
    if isinstance(shape, Rect):
        return rect_relate_rect(
            shape.min_x, shape.max_x, shape.min_y, shape.max_y, min_x, max_x, min_y, max_y, geo
        )
    # buffered-line / buffered-polygon query shapes: their exact scalar
    # relate per cell
    rel_fn = shape.relate_rect if hasattr(shape, "relate_rect") else (
        lambda r: relate(shape, r, geo)
    )
    out = np.empty(len(min_x), dtype=np.int8)
    for i in range(len(min_x)):
        out[i] = rel_fn(
            Rect(float(min_x[i]), float(max_x[i]), float(min_y[i]), float(max_y[i]))
        )
    return out


_COVER_CACHE: dict = {}
_COVER_CACHE_MAX = 256  # bound: layers are small; evict oldest on overflow


def _cover_key(shape, level: int, geo: bool, max_cells: int):
    """Hashable cache key: value-keyed for query-side Circle/Rect constants
    (rebuilt per call by radius/knn planners), identity-keyed for parsed
    polygon layers (parsed once per process)."""
    from spatial4n_spark.kernels.bufline import BufLineString

    if isinstance(shape, Circle):
        sk = ("circle", shape.x, shape.y, shape.radius, shape.geo)
    elif isinstance(shape, Rect):
        sk = ("rect", shape.min_x, shape.max_x, shape.min_y, shape.max_y)
    elif isinstance(shape, BufLineString):
        sk = ("bls", tuple((s.ax, s.ay, s.bx, s.by, s.buf) for s in shape.segments))
    else:
        sk = ("id", id(shape))
    return (sk, level, geo, max_cells)


def cover_cells(shape, level: int, geo: bool = True, max_cells: int = 4096):
    """Quadtree cover of a shape. Returns (full_cells, boundary_cells).

    ``level`` is the uniform join level: every returned cell has exactly
    ``level`` characters so the point side can equi-join on a single
    cell column. Interior regions produce 'full' cells (skip refinement);
    the shape's boundary produces 'boundary' cells.
    """
    key = _cover_key(shape, level, geo, max_cells)
    hit = _COVER_CACHE.get(key)
    if hit is not None:
        # The value pins the shape object: for identity-keyed entries the
        # cached shape stays alive, so CPython cannot reuse its id for a
        # different object — an id-collision stale hit is impossible.
        cached_shape, result = hit
        if cached_shape is shape or key[0][0] != "id":
            return result

    full: list[str] = []
    boundary: list[str] = []

    def expand_full(cell: str):
        # check the projected size BEFORE recursing: a CONTAINS cell at a
        # shallow depth would otherwise materialize all 32^(level-depth)
        # leaf strings (GBs at fine levels) just to raise afterwards
        if len(full) + len(boundary) + 32 ** (level - len(cell)) > max_cells:
            raise ValueError(
                f"cell cover exceeds {max_cells} cells at level {level}"
            )
        if len(cell) == level:
            full.append(cell)
            return
        for ch in BASE32:
            expand_full(cell + ch)

    frontier = list(BASE32)
    for depth in range(1, level + 1):
        if not frontier:
            break
        bboxes = geohash_decode_bbox(frontier)
        cls = _classify_cells(shape, bboxes, geo)
        nxt: list[str] = []
        for cell, r in zip(frontier, cls):
            if r == DISJOINT:
                continue
            if r == CONTAINS:
                expand_full(cell)
            elif depth == level:
                boundary.append(cell)
            else:
                nxt.extend(cell + ch for ch in BASE32)
            if len(full) + len(boundary) > max_cells:
                raise ValueError(f"cell cover exceeds {max_cells} cells at level {level}")
        frontier = nxt

    if len(_COVER_CACHE) >= _COVER_CACHE_MAX:
        _COVER_CACHE.pop(next(iter(_COVER_CACHE)))
    _COVER_CACHE[key] = (shape, (full, boundary))
    return full, boundary
