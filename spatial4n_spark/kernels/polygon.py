"""Polygon geometry: shape model, covers-semantics PIP, 4-valued relate.

From-scratch replacements for what the reference delegates to
NetTopologySuite (``src/Spatial4n/Shapes/Nts/NtsGeometry.cs``), with the
same 4-valued result mapping (:359-373): covers=>CONTAINS,
covered-by=>WITHIN, disjoint=>DISJOINT, else INTERSECTS — boundaries
belong to the shape.

Dateline handling mirrors NtsGeometry.UnwrapDateline (:438-530): walk the
ring, shift coordinates by +/-360 whenever the step jumps more than 180,
then relate against the point at x, x+360, x-360.

The hot-path kernel is ``points_covered`` — vectorized over point arrays
(loop over polygon edges only), used by the spatial join's exact PIP
refinement stage over Arrow batches.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from spatial4n_spark.kernels.bbox import rect_relate_rect
from spatial4n_spark.kernels.circle import geo_circle_relate_rect
from spatial4n_spark.kernels.distance import distance_deg
from spatial4n_spark.relation import CONTAINS, DISJOINT, INTERSECTS, WITHIN, combine, transpose


# ---------------------------------------------------------------------------
# shape model
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Point:
    x: float
    y: float

    @property
    def is_empty(self):
        return np.isnan(self.x)


@dataclass(frozen=True)
class Rect:
    min_x: float
    max_x: float
    min_y: float
    max_y: float

    @property
    def crosses_dateline(self):
        return self.min_x > self.max_x

    @property
    def width(self):
        w = self.max_x - self.min_x
        return w + 360.0 if w < 0 else w


@dataclass(frozen=True)
class Circle:
    x: float
    y: float
    radius: float  # degrees
    geo: bool = True


@dataclass(frozen=True)
class LineString:
    coords: np.ndarray  # (N, 2) x,y
    buffer: float = 0.0


@dataclass(frozen=True)
class MultiPoint:
    coords: np.ndarray  # (N, 2)


@dataclass(frozen=True)
class Polygon:
    shell: np.ndarray  # (N, 2) closed or open ring, x,y
    holes: tuple = ()

    def rings(self):
        return (self.shell, *self.holes)


@dataclass(frozen=True)
class MultiPolygon:
    polys: tuple  # tuple[Polygon, ...]


@dataclass(frozen=True)
class GeometryCollection:
    shapes: tuple


# ---------------------------------------------------------------------------
# ring utilities
# ---------------------------------------------------------------------------


def close_ring(coords: np.ndarray) -> np.ndarray:
    coords = np.asarray(coords, dtype=np.float64)
    if coords.shape[0] and not np.array_equal(coords[0], coords[-1]):
        coords = np.vstack([coords, coords[:1]])
    return coords


def ring_area_signed(coords: np.ndarray) -> float:
    """Shoelace signed area (planar degrees^2). CCW positive."""
    c = close_ring(coords)
    x, y = c[:-1, 0], c[:-1, 1]
    x2, y2 = c[1:, 0], c[1:, 1]
    return float(np.sum(x * y2 - x2 * y) * 0.5)


def unwrap_dateline(coords: np.ndarray) -> np.ndarray:
    """Shift coordinates by +/-360 pages so consecutive steps are < 180.

    Behavior of NtsGeometry.UnwrapDateline (NtsGeometry.cs:438-530): a ring
    that hops the dateline is made contiguous (x may leave [-180,180]).
    """
    coords = np.asarray(coords, dtype=np.float64).copy()
    if len(coords) < 2:
        return coords
    dx = np.diff(coords[:, 0])
    shift = np.zeros(len(coords))
    # cumulative page shift: each jump > 180 pulls subsequent points back
    steps = np.where(dx > 180.0, -360.0, np.where(dx < -180.0, 360.0, 0.0))
    shift[1:] = np.cumsum(steps)
    # a ring with net winding (e.g. a polar cap spanning all 360 deg of
    # longitude) cannot be unwrapped — page-shifting would break ring
    # closure and collapse the shell; keep the flat interpretation (the
    # reference's NTS path also treats such rings as flat lat/lon rings).
    # The net includes the VIRTUAL closing step (last -> first), so open
    # ring forms are caught too; for ordinary open polylines the closing
    # step compensates any single crossing and the net stays 0.
    close_dx = coords[0, 0] - coords[-1, 0]
    close_step = -360.0 if close_dx > 180.0 else (360.0 if close_dx < -180.0 else 0.0)
    if shift[-1] + close_step != 0.0:
        return coords
    coords[:, 0] += shift
    return coords


def ring_bbox(coords: np.ndarray, geo: bool = True) -> Rect:
    """Bbox of a (possibly dateline-hopping) ring with smart lon range.

    NtsGeometry.ComputeGeoBBox (:161-200): the Fiji case must produce a
    narrow dateline-crossing bbox, not a world-wide one.
    """
    u = unwrap_dateline(coords) if geo else np.asarray(coords, dtype=np.float64)
    if len(u) == 0:
        # empty shape: NaN bbox, the same convention merge_bboxes([]) uses
        return Rect(np.nan, np.nan, np.nan, np.nan)
    min_x, max_x = float(np.min(u[:, 0])), float(np.max(u[:, 0]))
    min_y, max_y = float(np.min(u[:, 1])), float(np.max(u[:, 1]))
    if geo and (min_x < -180.0 or max_x > 180.0):
        if max_x - min_x >= 360.0:
            min_x, max_x = -180.0, 180.0
        else:
            # dateline-crossing: wrap edges back into range, min>max encodes it
            from spatial4n_spark.kernels.norm import norm_lon_deg

            min_x, max_x = float(norm_lon_deg(min_x)), float(norm_lon_deg(max_x))
    return Rect(min_x, max_x, min_y, max_y)


def shape_bbox(shape, geo: bool = True) -> Rect:
    from spatial4n_spark.kernels.circle import circle_bbox

    if isinstance(shape, Point):
        return Rect(shape.x, shape.x, shape.y, shape.y)
    if isinstance(shape, Rect):
        return shape
    if isinstance(shape, Circle):
        if shape.geo:
            mnx, mxx, mny, mxy = (float(v) for v in circle_bbox(shape.x, shape.y, shape.radius))
            return Rect(mnx, mxx, mny, mxy)
        return Rect(shape.x - shape.radius, shape.x + shape.radius, shape.y - shape.radius, shape.y + shape.radius)
    if isinstance(shape, (LineString, MultiPoint)):
        bb = ring_bbox(shape.coords, geo)
        buf = getattr(shape, "buffer", 0.0)
        if buf and not np.isnan(bb.min_x):
            # buffered linestring: the bbox includes the buffer band
            # (BufferedLineString bbox = union of expanded segment boxes);
            # expand with the engine's rect_buffer (geo pole/lon handling)
            from spatial4n_spark.kernels.area import rect_buffer

            mnx, mxx, mny, mxy = rect_buffer(
                bb.min_x, bb.max_x, bb.min_y, bb.max_y, buf, geo
            )
            return Rect(float(mnx), float(mxx), float(mny), float(mxy))
        return bb
    if isinstance(shape, Polygon):
        return ring_bbox(shape.shell, geo)
    if isinstance(shape, MultiPolygon):
        boxes = [shape_bbox(p, geo) for p in shape.polys]
        return merge_bboxes(boxes, geo)
    if type(shape).__name__ == "BufferedPolygon":  # avoid circular import
        return shape.bbox()
    if isinstance(shape, GeometryCollection):
        boxes = [shape_bbox(s, geo) for s in shape.shapes]
        return merge_bboxes(boxes, geo)
    raise TypeError(type(shape))


def merge_bboxes(boxes: list, geo: bool = True) -> Rect:
    """Merge bboxes with the shorter-way-round longitude rule.

    ShapeCollection.ComputeBoundingBox + LongitudeRange.ExpandTo
    (ShapeCollection.cs:71-104, Range.cs:194-217) — order-insensitive.
    """
    if not boxes:
        return Rect(np.nan, np.nan, np.nan, np.nan)
    min_y = min(b.min_y for b in boxes)
    max_y = max(b.max_y for b in boxes)
    if not geo:
        return Rect(min(b.min_x for b in boxes), max(b.max_x for b in boxes), min_y, max_y)
    # longitude: greedily expand the merged range the shorter way round
    cur_min, cur_max = boxes[0].min_x, boxes[0].max_x
    for b in boxes[1:]:
        cur_min, cur_max = _expand_lon_range(cur_min, cur_max, b.min_x, b.max_x)
        if _lon_width(cur_min, cur_max) >= 360.0:
            cur_min, cur_max = -180.0, 180.0
            break
    return Rect(cur_min, cur_max, min_y, max_y)


def _lon_width(min_x, max_x):
    w = max_x - min_x
    return w + 360.0 if w < 0 else w


def _lon_contains(min_x, max_x, v):
    if min_x <= max_x:
        return min_x <= v <= max_x
    return v >= min_x or v <= max_x


def _expand_lon_range(a_min, a_max, b_min, b_max):
    """Range.LongitudeRange.ExpandTo (Range.cs:194-217): merge the short way."""
    from spatial4n_spark.kernels.norm import norm_lon_deg

    if _lon_contains(a_min, a_max, b_min) and _lon_contains(a_min, a_max, b_max):
        if _lon_contains(b_min, b_max, a_min) and _lon_contains(b_min, b_max, a_max):
            # mutually containing: could be world
            if (a_min, a_max) == (b_min, b_max):
                return a_min, a_max
            return -180.0, 180.0
        return a_min, a_max
    if _lon_contains(b_min, b_max, a_min) and _lon_contains(b_min, b_max, a_max):
        return b_min, b_max
    # choose the orientation with the smaller total width
    w1 = _lon_width(a_min, b_max)  # a first
    w2 = _lon_width(b_min, a_max)  # b first
    if _lon_contains(a_min, a_max, b_min):
        return a_min, b_max
    if _lon_contains(a_min, a_max, b_max):
        return b_min, a_max
    if w1 <= w2:
        return float(norm_lon_deg(a_min)), float(norm_lon_deg(b_max))
    return float(norm_lon_deg(b_min)), float(norm_lon_deg(a_max))


# ---------------------------------------------------------------------------
# point-in-polygon (vectorized over points) — COVERS semantics
# ---------------------------------------------------------------------------


def _ring_test(px, py, ring):
    """Even-odd crossing + boundary detection for one ring.

    Returns (strict_inside, on_boundary) bool arrays.
    """
    c = close_ring(ring)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    on = np.zeros(px.shape, dtype=bool)
    x1s, y1s = c[:-1, 0], c[:-1, 1]
    x2s, y2s = c[1:, 0], c[1:, 1]
    for x1, y1, x2, y2 in zip(x1s, y1s, x2s, y2s):
        # on-segment: zero cross product and within the segment's bbox
        cross = (px - x1) * (y2 - y1) - (py - y1) * (x2 - x1)
        within_box = (
            (px >= min(x1, x2)) & (px <= max(x1, x2)) & (py >= min(y1, y2)) & (py <= max(y1, y2))
        )
        on |= (cross == 0.0) & within_box
        # half-open crossing rule avoids double counting shared vertices
        cond = (y1 > py) != (y2 > py)
        if y2 != y1:
            x_int = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            inside ^= cond & (px < x_int)
    return inside & ~on, on


def _poly_covered_one_page(px, py, poly: Polygon):
    shell_in, shell_on = _ring_test(px, py, poly.shell)
    covered = shell_in | shell_on
    for hole in poly.holes:
        h_in, h_on = _ring_test(px, py, hole)
        covered &= ~(h_in & ~h_on)  # hole boundary still belongs to the polygon
        covered |= shell_on | h_on
    return covered


def points_covered(px, py, poly, geo: bool = True):
    """Vectorized covers test of point arrays against a polygon/multipolygon.

    COVERS semantics: boundary points count as covered
    (NtsGeometry.cs:341-346 — point relate is disjoint-or-CONTAINS).
    Dateline: the polygon's rings are unwrapped and the points are tested
    at x, x+360 and x-360 (NtsGeometry.cs:438-530 page logic).
    """
    px = np.atleast_1d(np.asarray(px, dtype=np.float64))
    py = np.atleast_1d(np.asarray(py, dtype=np.float64))
    if isinstance(poly, Rect):
        from spatial4n_spark.kernels.bbox import rect_contains_point

        return rect_contains_point(poly.min_x, poly.max_x, poly.min_y, poly.max_y, px, py, geo)
    if isinstance(poly, Circle):
        calc = "haversine" if poly.geo else "cartesian"
        return np.atleast_1d(distance_deg(poly.x, poly.y, px, py, calc) <= poly.radius)
    if isinstance(poly, MultiPolygon):
        out = np.zeros(px.shape, dtype=bool)
        for p in poly.polys:
            out |= points_covered(px, py, p, geo)
        return out
    if type(poly).__name__ == "BufferedPolygon":  # avoid circular import
        return poly.covers(px, py)
    if type(poly).__name__ == "BufLineString":
        return poly.contains(px, py)
    if not isinstance(poly, Polygon):
        raise TypeError(type(poly))
    if geo:
        u = Polygon(unwrap_dateline(poly.shell), tuple(unwrap_dateline(h) for h in poly.holes))
        span = u.shell[:, 0]
        out = _poly_covered_one_page(px, py, u)
        if np.max(span) > 180.0:
            out |= _poly_covered_one_page(px + 360.0, py, u)
        if np.min(span) < -180.0:
            out |= _poly_covered_one_page(px - 360.0, py, u)
        return out
    return _poly_covered_one_page(px, py, poly)


def points_covered_by_key(x, y, keys, shape_of, geo: bool = True):
    """The keyed refine of every cover join: point ``i`` against the
    shape ``shape_of(keys[i])``, one vectorized ``points_covered`` call
    per distinct key. A key whose ``shape_of`` is None covers nothing."""
    import pandas as pd

    out = np.zeros(len(x), dtype=bool)
    for k in pd.unique(keys):
        shape = shape_of(k)
        if shape is None:
            continue
        mask = keys == k
        out[mask] = points_covered(x[mask], y[mask], shape, geo)
    return out


# ---------------------------------------------------------------------------
# segment intersection (for polygon x polygon relate)
# ---------------------------------------------------------------------------


def _segments_of(poly: Polygon):
    segs = []
    for ring in poly.rings():
        c = close_ring(np.asarray(ring, dtype=np.float64))
        for i in range(len(c) - 1):
            segs.append((c[i], c[i + 1]))
    return segs


def _seg_relate(p1, p2, q1, q2):
    """Returns (touch, proper): any contact / transversal interior crossing."""
    d1 = np.cross(q2 - q1, p1 - q1)
    d2 = np.cross(q2 - q1, p2 - q1)
    d3 = np.cross(p2 - p1, q1 - p1)
    d4 = np.cross(p2 - p1, q2 - p1)
    if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and ((d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)):
        return True, True
    # collinear / endpoint touches
    def on_seg(a, b, c):
        return (
            min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
        )

    touch = (
        (d1 == 0 and on_seg(q1, q2, p1))
        or (d2 == 0 and on_seg(q1, q2, p2))
        or (d3 == 0 and on_seg(p1, p2, q1))
        or (d4 == 0 and on_seg(p1, p2, q2))
    )
    return touch, False


def _sample_points(poly: Polygon):
    """Vertices + edge midpoints of all rings (for nesting classification)."""
    pts = []
    for ring in poly.rings():
        c = close_ring(np.asarray(ring, dtype=np.float64))
        pts.append(c[:-1])
        pts.append((c[:-1] + c[1:]) * 0.5)
    return np.vstack(pts)


def _interior_point(poly: Polygon):
    """A representative interior point (centroid fallback: diagonal probe)."""
    c = close_ring(poly.shell)
    centroid = c[:-1].mean(axis=0)
    if bool(points_covered([centroid[0]], [centroid[1]], poly, geo=False)[0]):
        return centroid
    # probe along edge midpoint normals
    for i in range(len(c) - 1):
        mid = (c[i] + c[i + 1]) * 0.5
        d = c[i + 1] - c[i]
        n = np.array([-d[1], d[0]])
        norm = np.hypot(*n)
        if norm == 0:
            continue
        for eps in (1e-9, 1e-7, 1e-5):
            cand = mid + n / norm * eps
            strict_in, on = _ring_test(np.array([cand[0]]), np.array([cand[1]]), poly.shell)
            if strict_in[0]:
                return cand
    return centroid


def relate_polygon_polygon(a: Polygon | MultiPolygon, b: Polygon | MultiPolygon, geo: bool = True):
    """4-valued relate of two polygons (DE-9IM covers mapping).

    NtsGeometry.cs:335-356 + :359-373 semantics, implemented via proper
    segment-crossing detection + covers sampling of vertices/midpoints.
    """
    if isinstance(a, MultiPolygon):
        rel = None
        for p in a.polys:
            r = relate_polygon_polygon(p, b, geo)
            rel = r if rel is None else transpose(combine(transpose(rel), transpose(r)))
        return np.int8(rel)
    if isinstance(b, MultiPolygon):
        rel = None
        for p in b.polys:
            r = relate_polygon_polygon(a, p, geo)
            rel = r if rel is None else combine(rel, r)
        return np.int8(rel)

    if geo:
        a = Polygon(unwrap_dateline(a.shell), tuple(unwrap_dateline(h) for h in a.holes))
        b = Polygon(unwrap_dateline(b.shell), tuple(unwrap_dateline(h) for h in b.holes))
        # align b onto a's page if they unwound onto different sides
        a_cx = (a.shell[:, 0].min() + a.shell[:, 0].max()) / 2
        b_cx = (b.shell[:, 0].min() + b.shell[:, 0].max()) / 2
        if b_cx - a_cx > 180.0:
            b = Polygon(b.shell - [360.0, 0.0], tuple(h - [360.0, 0.0] for h in b.holes))
        elif a_cx - b_cx > 180.0:
            b = Polygon(b.shell + [360.0, 0.0], tuple(h + [360.0, 0.0] for h in b.holes))

    # bbox gate
    ab = ring_bbox(a.shell, geo=False)
    bb = ring_bbox(b.shell, geo=False)
    if (
        ab.min_x > bb.max_x
        or ab.max_x < bb.min_x
        or ab.min_y > bb.max_y
        or ab.max_y < bb.min_y
    ):
        return DISJOINT

    segs_a = _segments_of(a)
    segs_b = _segments_of(b)
    touch = False
    for p1, p2 in segs_a:
        for q1, q2 in segs_b:
            t, proper = _seg_relate(p1, p2, q1, q2)
            if proper:
                return INTERSECTS
            touch |= t

    sa = _sample_points(a)
    sb = _sample_points(b)
    b_in_a = points_covered(sb[:, 0], sb[:, 1], a, geo=False)
    a_in_b = points_covered(sa[:, 0], sa[:, 1], b, geo=False)
    if bool(np.all(b_in_a)):
        # b's boundary is covered by a; make sure b's interior isn't in a hole
        ip = _interior_point(b)
        if bool(points_covered([ip[0]], [ip[1]], a, geo=False)[0]):
            return CONTAINS
        return INTERSECTS if touch or bool(np.any(a_in_b)) else DISJOINT
    if bool(np.all(a_in_b)):
        ip = _interior_point(a)
        if bool(points_covered([ip[0]], [ip[1]], b, geo=False)[0]):
            return WITHIN
        return INTERSECTS if touch or bool(np.any(b_in_a)) else DISJOINT
    if touch or bool(np.any(b_in_a)) or bool(np.any(a_in_b)):
        return INTERSECTS
    return DISJOINT


def rect_to_polygons(r: Rect) -> list[Polygon]:
    """Rect -> 1 polygon, or 2 when dateline-crossing.

    NtsSpatialContext.GetGeometryFrom (NtsSpatialContext.cs:142-160).
    """

    def box(x1, x2):
        return Polygon(
            np.array([[x1, r.min_y], [x2, r.min_y], [x2, r.max_y], [x1, r.max_y], [x1, r.min_y]])
        )

    if r.crosses_dateline:
        return [box(r.min_x, 180.0), box(-180.0, r.max_x)]
    return [box(r.min_x, r.max_x)]


def relate_polygon_rect(poly, r: Rect, geo: bool = True):
    """NtsGeometry.cs:279-289: bbox gate then relate of the rect's polygon(s)."""
    rel = None
    for pg in rect_to_polygons(r):
        one = relate_polygon_polygon(poly, pg, geo)
        rel = one if rel is None else combine(rel, one)
    return np.int8(rel)


def relate_polygon_circle(poly, circ: Circle, calculator: str = "haversine", geo: bool = True):
    """Vertex-counting algorithm. NtsGeometry.cs:292-322."""
    coords = []
    polys = poly.polys if isinstance(poly, MultiPolygon) else (poly,)
    for p in polys:
        for ring in p.rings():
            coords.append(close_ring(np.asarray(ring, dtype=np.float64))[:-1])
    coords = np.vstack(coords)
    if geo:
        d = distance_deg(circ.x, circ.y, coords[:, 0], coords[:, 1], calculator)
    else:
        d = distance_deg(circ.x, circ.y, coords[:, 0], coords[:, 1], "cartesian")
    outside = d > circ.radius
    n_out = int(np.sum(outside))
    if 0 < n_out < len(coords):
        return INTERSECTS
    if n_out == len(coords):
        center_in = bool(points_covered([circ.x], [circ.y], poly, geo)[0])
        return CONTAINS if center_in else DISJOINT
    return WITHIN
