"""The cover joins of polygon layers: point-in-polygon (the north-rule
operator, SURVEY.md §2.9) and polygon x polygon.

Every cell-cover join in the engine (these, ``operators.corridor`` and
``operators.distance_join``) has the same two halves:

1. the cell side: ``CellIndexBackend.cover_rows`` turns each
   ``(key, shape)`` into ``(cell, key, full)`` rows (full cells lie
   inside the shape) plus the caller's payload. A driver-side layer is
   covered on the driver into a LocalRelation; a DataFrame layer is
   covered in one ``mapInPandas`` stage (``CellIndexBackend.cover_stage``)
   so nothing about it crosses the driver;
2. the point side encodes one cell column with the same backend and
   equi-joins the cover. For PIP the native bbox test rides in the join
   condition for every candidate (a point with a null or non-finite
   coordinate is in no bbox), and the exact refine
   (``kernels.polygon.points_covered_by_key``: one vectorized covers test
   per key) decides boundary-cell candidates: ``_full OR pip(...)``.

The broadcast PIP join never shuffles the points; the hot-cell problem
does not skew it (a broadcast hash join has no shuffle). The R-tree PIP
plan replaces the cell side by a broadcast STR tree and shares the
refine; ``plans.pip_planner`` chooses among the three PIP plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from spatial4n_spark.cellindex import cell_backend
from spatial4n_spark.functions.native import rect_contains_point
from spatial4n_spark.functions.udfs import pip_udf
from spatial4n_spark.kernels.polygon import points_covered_by_key, shape_bbox
from spatial4n_spark.operators.knn import _local_frame
from spatial4n_spark.plans.pip_planner import choose_join_level

# distinct polygons whose parsed shape one refine task of the DataFrame
# PIP join keeps (oldest evicted first)
_REFINE_CACHE_MAX = 4096

_BBOX = "_bminx double, _bmaxx double, _bminy double, _bmaxy double"


def _bbox(shape, geo: bool) -> tuple:
    bb = shape_bbox(shape, geo)
    return (bb.min_x, bb.max_x, bb.min_y, bb.max_y)


def _in_bbox(cover: DataFrame, pts: DataFrame, lon: str, lat: str):
    """The native bbox test of the PIP join condition."""
    return rect_contains_point(
        cover["_bminx"], cover["_bmaxx"], cover["_bminy"], cover["_bmaxy"],
        pts[lon], pts[lat],
    )


def spatial_join_points_polygons(
    points: DataFrame,
    polygons: list[tuple[str, object]],
    lon: str = "lon",
    lat: str = "lat",
    level: int | None = 4,
    geo: bool = True,
    cell_col: str | None = None,
    index: str = "geohash",
) -> DataFrame:
    """Inner-join points to the polygons that cover them.

    ``polygons``: [(poly_id, shape)] — the small/broadcast side (a polygon
    layer of up to ~10^5 features; for larger layers, partition the layer
    and union the joins). ``level=None`` auto-plans the join level from
    the layer's cover sizes (``choose_join_level``).
    ``cell_col``: name of a pre-assigned geohash column to use as the join
    key (compute-at-ingest path) — must be encoded at ``level``; an
    explicit opt-in, and the level contract is asserted against the
    column values at runtime (mismatched levels would silently join
    nothing otherwise).
    ``index`` picks the cell scheme for candidate generation ("geohash",
    "s2" or "h3") — bbox test and exact refine are identical, so join
    RESULTS are index-invariant; only the candidate sets differ.
    Returns the points' columns + ``poly_id``.
    """
    backend = cell_backend(index)
    if index != "geohash" and cell_col is not None:
        raise ValueError("cell_col pre-assignment is geohash-only")
    if level is None:
        level = choose_join_level(polygons, geo)
    # the cover rows carry the polygon bbox inline, composed on the driver
    # into a LocalRelation: broadcasting it runs no Spark job
    cover_df = _local_frame(
        points.sparkSession,
        [
            row
            for pid, shape in polygons
            for row in backend.cover_rows(pid, shape, level, geo, _bbox(shape, geo))
        ],
        backend.cover_schema("poly_id", _BBOX),
    )

    if cell_col is not None:
        # explicit compute-at-ingest path (e.g. images_df(cell_level=...));
        # enforce the level contract loudly — a wrong-level cell column
        # would equi-join to zero rows silently
        pts = points.withColumn(
            "_cell",
            F.when(F.length(F.col(cell_col)) == level, F.col(cell_col)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"cell_col {cell_col!r} is not a level-{level} geohash: "),
                        F.col(cell_col),
                    )
                )
            ),
        )
    else:
        pts = points.withColumn("_cell", backend.udf(level)(F.col(lat), F.col(lon)))

    # the native bbox test lives in the JOIN CONDITION, not a post-join
    # .where(): Catalyst collapses adjacent filters, which would merge the
    # cheap native predicate with the expensive PIP-UDF filter and
    # evaluate the UDF on rows the bbox already rejects. As a join
    # condition it is applied inside the broadcast hash join (codegen),
    # so only bbox survivors reach the Arrow UDF.
    cond = (pts["_cell"] == cover_df["_cell"]) & _in_bbox(cover_df, pts, lon, lat)
    cand = pts.join(F.broadcast(cover_df), cond).drop(cover_df["_cell"])
    pip = pip_udf(dict(polygons), geo)
    out = cand.where(F.col("_full") | pip(F.col(lon), F.col(lat), F.col("poly_id")))
    return out.drop("_cell", "_full", "_bminx", "_bmaxx", "_bminy", "_bmaxy")


def spatial_join_points_polygons_df(
    points: DataFrame,
    layer: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    level: int = 4,
    geo: bool = True,
    poly_id: str = "poly_id",
    wkt_col: str = "wkt",
    index: str = "geohash",
    salt_buckets: int = 1,
) -> DataFrame:
    """PIP join against a LARGE polygon layer held as a DataFrame of
    (poly_id, wkt) — the beyond-broadcast path (reference motivation:
    ShapeCollection.cs:42-44 flags the missing R-tree for big layers).
    ``index`` picks the cell backend ("geohash" / "s2" / "h3"); results
    are index-invariant.

    Nothing about the layer ever crosses the driver:

    1. the cell cover is computed DISTRIBUTED (``cover_stage``: one
       ``mapInPandas`` stage runs the backend's planner per polygon) and
       emits (cell, poly_id, full?, bbox, wkt-for-boundary) rows;
    2. points equi-join the cover table on the cell key — both sides
       shuffle on ``_cell`` (the standard big-big spatial-join plan; AQE
       handles hot-cell skew). The bbox test rides in the join
       condition exactly as in the broadcast path. ``salt_buckets > 1``
       adds EXPLICIT salted repartitioning (the north rule's hot-cell
       defusal, opt-in): the cover side replicates each row into every
       salt bucket and each point hashes into one, so the join key
       becomes (_cell, _salt) and a city-cell's points spread across
       ``salt_buckets`` reducers instead of one straggler task. Results
       are identical — each point still meets each of its cell's cover
       rows exactly once (pytest-pinned; prefer AQE unless a known
       mega-hot cell dominates the key histogram);
    3. the keyed refine runs per task with state built from the MATCHED
       shapes only: boundary candidates carry their polygon's WKT, and a
       per-task cache parses each distinct polygon once. Full-cell
       candidates skip refinement.

    Returns the points' columns + ``poly_id``. Results are identical to
    ``spatial_join_points_polygons`` on the same layer (pytest-asserted).
    """
    import numpy as np

    from spatial4n_spark.io.wkt import parse_wkt

    backend = cell_backend(index)

    def shapes_of(pdf):
        for pid, w in zip(pdf[poly_id], pdf[wkt_col]):
            shape = parse_wkt(w, geo)
            yield pid, shape, (*_bbox(shape, geo), w)

    cover_df = backend.cover_stage(
        layer, shapes_of, poly_id, f"{_BBOX}, _wkt string", level, geo
    ).withColumn("_wkt", F.when(~F.col("_full"), F.col("_wkt")))
    pts = points.withColumn("_cell", backend.udf(level)(F.col(lat), F.col(lon)))
    keys = ["_cell"]
    if salt_buckets > 1:
        # replicate the (small) cover side into every bucket; hash each
        # point into one — xxhash64 over the coordinate pair is cheap,
        # JVM-side, and independent of the cell so a hot cell's points
        # spread uniformly
        cover_df = cover_df.crossJoin(
            F.broadcast(
                points.sparkSession.range(salt_buckets).select(
                    F.col("id").cast("int").alias("_salt")
                )
            )
        )
        pts = pts.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(lon), F.col(lat)), F.lit(salt_buckets)).cast("int"),
        )
        keys.append("_salt")
    cond = _in_bbox(cover_df, pts, lon, lat)
    for k in keys:
        cond = (pts[k] == cover_df[k]) & cond

    fields = [f for f in points.schema.fields if f.name != "_cell"]
    out_cols = [f.name for f in fields] + [poly_id]
    cand = pts.join(cover_df, cond).select(
        *[pts[c] for c in out_cols[:-1]], cover_df[poly_id], "_full", "_wkt"
    )
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in fields
    ) + f", {poly_id} string"

    def refine(it):
        cache: dict = {}  # per-task parse cache: only shapes this task saw
        for pdf in it:
            keep = pdf["_full"].to_numpy().copy()
            todo = ~keep
            if todo.any():
                pids = pdf[poly_id].to_numpy()[todo]
                wkts = pdf["_wkt"].to_numpy()[todo]

                def shape_of(p):
                    shape = cache.get(p)
                    if shape is None:
                        if len(cache) >= _REFINE_CACHE_MAX:
                            cache.pop(next(iter(cache)))
                        cache[p] = shape = parse_wkt(wkts[pids == p][0], geo)
                    return shape

                keep[todo] = points_covered_by_key(
                    pdf[lon].to_numpy(np.float64)[todo],
                    pdf[lat].to_numpy(np.float64)[todo],
                    pids, shape_of, geo,
                )
            yield pdf.loc[keep, out_cols]

    return cand.mapInPandas(refine, out_schema)


def spatial_join_points_polygons_rtree(
    points: DataFrame,
    polygons: list[tuple[str, object]],
    lon: str = "lon",
    lat: str = "lat",
    geo: bool = True,
) -> DataFrame:
    """PIP join via a broadcast STR-packed R-tree (plans.rtree) — the
    north star's literally-named plan ("broadcast R-tree … plus an
    exact PIP refinement pass"), beside the cell-cover equi-join.

    Plan shape: NO join and NO shuffle at all — one ``mapInPandas``
    stage over the points. Per Arrow batch:

    1. the broadcast tree (built once driver-side over the layer's
       bboxes, shipped in the task closure) answers candidate
       (point, polygon) pairs in ~log_B(n_polys) vectorized frontier
       expansions — candidate quality adapts PER FEATURE (each polygon
       indexed by its own bbox), where the cover join's is fixed by the
       global cell level;
    2. the keyed refine every PIP plan shares
       (kernels.polygon.points_covered_by_key) tests each pair against
       its polygon — results are plan-invariant
       (pytest-pinned against spatial_join_points_polygons).

    Right for broadcastable layers with wildly mixed feature sizes;
    for beyond-broadcast layers use spatial_join_points_polygons_df.
    Returns the points' columns + ``poly_id``.
    """
    import pandas as pd

    from pyspark.sql.types import StringType, StructField

    from spatial4n_spark.plans.rtree import layer_rtree

    tree, pids = layer_rtree(polygons, geo)
    shapes = [s for _, s in polygons]
    out_schema = StructType(
        list(points.schema.fields) + [StructField("poly_id", StringType(), False)]
    )
    cols = list(points.columns)

    def gen(it):
        import numpy as np

        for pdf in it:
            if not len(pdf):
                continue
            x = pdf[lon].to_numpy(np.float64)
            y = pdf[lat].to_numpy(np.float64)
            pi, owner = tree.query_batch(x, y)
            if not len(pi):
                continue
            keep = points_covered_by_key(x[pi], y[pi], owner, shapes.__getitem__, geo)
            pi, owner = pi[keep], owner[keep]
            if not len(pi):
                continue
            out = pdf.iloc[pi].copy()
            out["poly_id"] = pd.array([pids[o] for o in owner], dtype="string")
            yield out[cols + ["poly_id"]]

    return points.mapInPandas(gen, out_schema)


def spatial_join_polygons(
    spark,
    layer_a: list[tuple[str, str]],
    layer_b: list[tuple[str, str]],
    level: int = 3,
    geo: bool = True,
    index: str = "geohash",
    keep_disjoint: bool = False,
) -> DataFrame:
    """``spatial_join_polygons_df`` over driver lists ``[(id, wkt)]``,
    each held as a LocalRelation (building it runs no Spark job).
    Returns (id_a, id_b, rel)."""
    schema = StructType.fromDDL("id string, wkt string")
    a, b = (_local_frame(spark, list(layer), schema) for layer in (layer_a, layer_b))
    return spatial_join_polygons_df(a, b, level, geo, index, keep_disjoint)


def spatial_join_polygons_df(
    layer_a: DataFrame,
    layer_b: DataFrame,
    level: int = 3,
    geo: bool = True,
    index: str = "geohash",
    keep_disjoint: bool = False,
    id_a: str = "id_a",
    id_b: str = "id_b",
    wkt_col: str = "wkt",
) -> DataFrame:
    """Polygon-layer x polygon-layer spatial join of two DataFrames of
    (id, wkt) (the id is the first column): every (a, b) pair whose
    shapes are NOT disjoint, with the exact 4-valued relation.

    The all-pairs relate matrix (q_layer_relate_matrix) crossJoins —
    fine for conformance on 11 shapes, quadratic at layer scale. This
    join generates candidate pairs from SHARED COVER CELLS instead: each
    shape's cover contains every cell any of its points encodes to, so
    two intersecting shapes necessarily share a cover cell (the same
    soundness argument as the point-side join). Both covers are planned
    DISTRIBUTED (``cover_stage``), an equi-join on the cell key + a
    distinct yields a candidate superset, and the exact relate UDF runs
    once per candidate pair. Nothing about either layer crosses the
    driver. DISJOINT candidates (sharing a cell but not intersecting)
    are filtered after refinement unless ``keep_disjoint``.

    Returns (id_a, id_b, rel). Relation names follow kernels.relate
    (CONTAINS/WITHIN/INTERSECTS; equal shapes -> CONTAINS, the
    reference's covers-first mapping, NtsGeometry.cs:366-369).
    """
    from spatial4n_spark.functions.udfs import relate_wkt_udf
    from spatial4n_spark.io.wkt import parse_wkt

    backend = cell_backend(index)

    def cover(layer: DataFrame, out_id: str) -> DataFrame:
        id_src = layer.columns[0]

        def shapes_of(pdf):
            for pid, w in zip(pdf[id_src], pdf[wkt_col]):
                yield pid, parse_wkt(w, geo), (w,)

        return backend.cover_stage(
            layer, shapes_of, out_id, f"_wkt_{out_id} string", level, geo
        ).drop("_full")

    pairs = (
        cover(layer_a, id_a)
        .join(cover(layer_b, id_b), "_cell")
        .select(id_a, id_b, f"_wkt_{id_a}", f"_wkt_{id_b}")
        .distinct()
    )
    rel = relate_wkt_udf(geo=geo)
    out = pairs.withColumn(
        "rel", rel(F.col(f"_wkt_{id_a}"), F.col(f"_wkt_{id_b}"))
    ).select(id_a, id_b, "rel")
    if not keep_disjoint:
        out = out.where(F.col("rel") != "DISJOINT")
    return out
