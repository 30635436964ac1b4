"""Exact kNN joins: one single-pass kernel under a comparison budget,
density-adaptive cell plans above it.

Every exact entry point returns (query_id, <id_col>, dist_km, rank),
ranked by a ``row_number`` window over (dist_km, <id_col>) with
``dist_km`` from the Catalyst ``functions.native.haversine_km`` — so
all of them agree bit for bit, whichever plan ran.

- **The exact kernel** (``_exact_knn``) runs whenever queries x points
  is at most ``_BRUTE_FORCE_PAIRS``. The queries (at most
  ``min(_BRUTE_FORCE_PAIRS // n_points, broadcast_cells)`` of them)
  are collected and broadcast; ONE ``mapInArrow`` pass streams the
  points in Arrow batches, computes numpy haversine against every
  query and keeps, per query and partition, a running top-k
  (``np.partition``) plus every point within a small slack of the k-th
  distance. The candidates (at most partitions x queries x (k + ties)
  rows) are re-ranked by the shared window. A few Spark jobs in all,
  whatever k or the data density.
- **Above the budget** one S2 cover plan (``_cover_knn``) runs: each
  query gets its own first radius from a counts pyramid, covers come
  from one vectorized ``s2_circle_covers_batch`` per level, candidates
  from one prefix-shifted equi-join; a query is accepted once its k-th
  distance fits its radius, the others double it, and the bounded
  stragglers go to the exact kernel. Nothing per-query touches the
  driver. ``knn_join_df`` hands it the points encoded once at
  ``_S2_LEVEL``; ``io.clustered`` hands it a clustered table's cell
  column and a manifest-pruned scan.

``knn_join`` takes a driver-side query list and is a thin wrapper over
``knn_join_df``; ``io.clustered`` runs the same kernel and the same
plan over a clustered table's manifest-listed files.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from spatial4n_spark.functions.native import haversine_km
from spatial4n_spark.functions.udfs import s2_udf
from spatial4n_spark.kernels.distance import (
    EARTH_MEAN_RADIUS_KM,
    deg_to_km,
    dist_haversine_rad,
    km_to_deg,
)

# queries x points at or below which every exact entry point runs the
# single-pass kernel instead of its cell plan (io.clustered shares it)
_BRUTE_FORCE_PAIRS = 50_000_000

# candidate slack past the k-th numpy distance: the final rank
# recomputes dist_km in the JVM, whose sin/cos/atan2 may differ from
# numpy's by an ulp; near the antipode that moves a distance by up to
# ~0.3 m, so 1 m plus a relative term keeps every possible top-k row
_SLACK_REL = 1e-9
_SLACK_KM = 1e-3

# distance-matrix elements per numpy block (queries x batch rows)
_BLOCK_ELEMS = 1 << 21

# the above-budget cover plan: the S2 level a plain points frame is
# encoded at, cover cells across a query circle, cell-id ranges per
# task and level of the cover fold (a scan gets at most twice as
# many), and rounds before the kernel
_S2_LEVEL = 14
_CELLS_ACROSS = 8.0
_SCAN_RANGES = 64
_MAX_ROUNDS = 10


def _rank_top_k(cand: DataFrame, k: int, id_col: str, lon: str, lat: str, *keep):
    """The one final rank every plan shares: Catalyst haversine from
    (lon, lat) to (_qlon, _qlat), ``row_number`` over (dist_km,
    <id_col>) per query_id, rank <= k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_km").asc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("dist_km", haversine_km(F.col(lon), F.col(lat), "_qlon", "_qlat"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "dist_km", "rank", *keep)
    )


def _local_frame(spark, rows: list, schema: StructType) -> DataFrame:
    """Driver rows as a DataFrame. Built from a pyarrow Table, it is a
    LocalRelation whatever the row count or the Arrow setting:
    collecting or broadcasting it runs no Spark job, where a DataFrame
    made from a Python list (or an empty pandas frame) is an RDD costing
    a job each."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow]
    return spark.createDataFrame(
        pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow),
        schema,
    )


def _query_budget(n_points: int, broadcast_cells: int) -> int:
    """Most queries the exact kernel takes against ``n_points`` points."""
    return min(_BRUTE_FORCE_PAIRS // max(n_points, 1), broadcast_cells)


def _query_frame(queries: DataFrame, query_id: str, qlon: str, qlat: str) -> DataFrame:
    """Queries in the (query_id, _qlon, _qlat) form every plan reads."""
    return queries.select(
        F.col(query_id).alias("query_id"),
        F.col(qlon).cast("double").alias("_qlon"),
        F.col(qlat).cast("double").alias("_qlat"),
    )


def _top_k_batches(qlon, qlat, k: int, id_col: str, lon: str, lat: str):
    """``mapInArrow`` body of the exact kernel: stream point batches,
    keep per query every point within the slack of the running k-th
    distance, and emit the partition's survivors once, tagged ``_qi``
    (the query's position in ``qlon``/``qlat``)."""
    qx = np.radians(np.asarray(qlon, dtype=np.float64))[:, None]
    qy = np.radians(np.asarray(qlat, dtype=np.float64))[:, None]
    nq = len(qx)

    def run(batches):
        import pyarrow as pa

        kth = np.full(nq, np.inf)
        pool, pool_q, pool_d = None, np.empty(0, np.int32), np.empty(0)
        for b in batches:
            if b.num_rows == 0 or nq == 0:
                continue
            px = np.radians(b.column(lon).to_numpy(zero_copy_only=False))[None, :]
            py = np.radians(b.column(lat).to_numpy(zero_copy_only=False))[None, :]
            step = max(1, _BLOCK_ELEMS // b.num_rows)
            qs, rs, ds = [pool_q], [], [pool_d]
            for q0 in range(0, nq, step):
                sl = slice(q0, q0 + step)
                d = dist_haversine_rad(qy[sl], qx[sl], py, px) * EARTH_MEAN_RADIUS_KM
                cap = kth[sl]
                if b.num_rows >= k:
                    # fmin: a NaN (null-coordinate) k-th leaves the cap alone
                    cap = np.fmin(cap, np.partition(d, k - 1, axis=1)[:, k - 1])
                qi, ri = np.nonzero(d <= cap[:, None] * (1 + _SLACK_REL) + _SLACK_KM)
                qs.append((qi + q0).astype(np.int32))
                rs.append(ri)
                ds.append(d[qi, ri])
            rows = pa.Table.from_batches([b.take(pa.array(np.concatenate(rs)))])
            pool = rows if pool is None else pa.concat_tables([pool, rows])
            pool_q, pool_d = np.concatenate(qs), np.concatenate(ds)
            # exact k-th of the merged pool per query, then prune to it
            order = np.lexsort((pool_d, pool_q))
            sq = pool_q[order]
            at_k = np.arange(len(sq)) - np.searchsorted(sq, sq) == k - 1
            kth[sq[at_k]] = pool_d[order][at_k]
            keep = np.flatnonzero(pool_d <= kth[pool_q] * (1 + _SLACK_REL) + _SLACK_KM)
            pool, pool_q, pool_d = pool.take(pa.array(keep)), pool_q[keep], pool_d[keep]
        if pool is not None and pool.num_rows:
            out = pool.select([id_col, lon, lat]).append_column(
                "_qi", pa.array(pool_q, pa.int32())
            )
            yield from out.to_batches()

    return run


def _collect_queries(queries: DataFrame, q_max: int | None) -> list | None:
    """The kernel's query rows on the driver: at most ``q_max + 1`` are
    collected, and None says there are more than ``q_max``;
    ``q_max=None`` takes every query."""
    rows = (queries if q_max is None else queries.limit(q_max + 1)).collect()
    return None if q_max is not None and len(rows) > q_max else rows


def _exact_knn(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    lon: str,
    lat: str,
    id_col: str,
    q_max: int | None,
) -> DataFrame | None:
    """The exact kNN kernel over ``queries`` (query_id, _qlon, _qlat):
    at most ``q_max + 1`` queries reach the driver, and a larger set
    returns None (the caller runs its cell plan); ``q_max=None`` takes
    every query (bounded straggler sets)."""
    rows = _collect_queries(queries, q_max)
    if rows is None:
        return None
    q_df = _local_frame(
        points.sparkSession,
        [(i, *r) for i, r in enumerate(rows)],
        StructType([StructField("_qi", IntegerType()), *queries.schema.fields]),
    )
    pts = points.select(
        id_col, F.col(lon).cast("double").alias(lon), F.col(lat).cast("double").alias(lat)
    )
    cand = pts.mapInArrow(
        _top_k_batches([r[1] for r in rows], [r[2] for r in rows], k, id_col, lon, lat),
        StructType([*pts.schema.fields, StructField("_qi", IntegerType())]),
    )
    return _rank_top_k(cand.join(F.broadcast(q_df), "_qi"), k, id_col, lon, lat)


def _radius_levels(r_deg, level: int):
    """Per-query S2 cover level for circles of ``r_deg`` degrees: about
    ``_CELLS_ACROSS`` cells across the diameter, at most ``level``, and
    rounded DOWN to an even level (coarser is still a sound superset):
    that halves the distinct levels a round joins on, for at most ~1.4x
    more candidate area."""
    want = 2.0 * np.asarray(r_deg, dtype=np.float64) / _CELLS_ACROSS
    lv = np.clip(np.floor(np.log2(90.0 / np.maximum(want, 1e-12))), 1, level)
    return lv.astype(np.int64) & ~np.int64(1)


def _cover_rows(level: int):
    """``mapInPandas`` body: the pending queries' (query_id, _qlon,
    _qlat, _r) rows become their S2 cover rows (_lv, _pcell, query_id,
    _qlon, _qlat, _r), one vectorized ``s2_circle_covers_batch`` per
    cover level (a superset of the exact cover)."""

    def run(it):
        import pandas as pd

        from spatial4n_spark.plans.s2cover import s2_circle_covers_batch

        for pdf in it:
            if not len(pdf):
                continue
            qx = pdf["_qlon"].to_numpy()
            qy = pdf["_qlat"].to_numpy()
            r_km = pdf["_r"].to_numpy()
            r_deg = np.asarray(km_to_deg(r_km), dtype=np.float64)
            lv_arr = _radius_levels(r_deg, level)
            for u in np.unique(lv_arr):
                m = lv_arr == u
                qi, cells = s2_circle_covers_batch(qx[m], qy[m], r_deg[m], int(u))
                src = np.flatnonzero(m)[qi]
                yield pd.DataFrame(
                    {
                        "_lv": np.full(len(cells), int(u), dtype=np.int32),
                        "_pcell": cells,
                        "query_id": pdf["query_id"].to_numpy()[src],
                        "_qlon": qx[src],
                        "_qlat": qy[src],
                        "_r": r_km[src],
                    }
                )

    return run


def _fold_covers(level: int):
    """``mapInPandas`` body over cover rows (_lv, _pcell): per partition
    and level, the cells folded into at most ``_SCAN_RANGES`` coalesced
    level-``level`` id ranges (lo, hi), and the level's cover row count
    in ``_rows`` (on its first range, 0 on the rest). The driver merges
    the bounded partials, so no task funnels the whole cover set."""

    def run(it):
        import pandas as pd

        from spatial4n_spark.io.clustered import _coalesce_ranges_np

        frames = [pdf for pdf in it if len(pdf)]
        if not frames:
            return
        allf = pd.concat(frames, ignore_index=True)
        lvs, cells = allf["_lv"].to_numpy(), allf["_pcell"].to_numpy()
        for u in np.unique(lvs):
            m = lvs == u
            cs = np.unique(cells[m])
            shift = 2 * (level - int(u))
            merged = _coalesce_ranges_np(cs << shift, ((cs + 1) << shift) - 1, _SCAN_RANGES)
            rows = np.zeros(len(merged), dtype=np.int64)
            rows[0] = np.count_nonzero(m)
            yield pd.DataFrame(
                {
                    "_lv": np.full(len(merged), int(u), dtype=np.int32),
                    "lo": [r[0] for r in merged],
                    "hi": [r[1] for r in merged],
                    "_rows": rows,
                }
            )

    return run


def _cover_knn(
    points: DataFrame,
    cell: str,
    level: int,
    scan,
    queries: DataFrame,
    k: int,
    id_col: str,
    lon: str,
    lat: str,
    n_total: int,
    broadcast_cells: int,
) -> DataFrame:
    """The one above-budget kNN plan. ``points`` holds <id_col>, lon, lat
    and ``cell``, the level-``level`` S2 cell id; ``scan(ranges)``
    returns those rows for a list of [lo, hi] cell-id ranges (a
    clustered table prunes files and row groups by them; a plain frame
    may ignore them, the candidate join is exact either way).
    ``queries`` is (query_id, _qlon, _qlat); ``n_total`` the point count.

    1. A counts pyramid (one cells-only aggregate over ``points``,
       rolled up through the Hilbert prefix property, ``shiftright``)
       gives each query the finest pyramid level whose own cell holds
       ~``thr_sel`` points; its first radius targets ~``thr`` candidates
       at that cell's density.
    2. Per round, circle covers of the whole pending set come from one
       vectorized ``s2_circle_covers_batch`` per cover level inside
       ``mapInPandas`` (``_cover_rows``, a superset of the exact cover);
       one collect folds the cover cells into coalesced cell-id ranges
       (``_fold_covers``; ``scan`` gets at most ``2 * _SCAN_RANGES``)
       and counts the cover rows.
    3. Candidates come from ONE prefix-shifted equi-join: each scanned
       row explodes into its (level, ancestor cell) pair per active
       level; the covers are broadcast when their counted rows are at
       most ``broadcast_cells``, else joined by shuffle. The candidates
       are ranked by ``_rank_top_k``.
    4. A query is accepted when it has k candidates and its k-th
       distance is within its own radius (the cover holds every point
       within that radius, so nothing nearer was missed); the others
       double their radius.

    Stragglers (after ``_MAX_ROUNDS``, when ``n_total < k``, or from
    round 2 on once their comparisons fit ``_BRUTE_FORCE_PAIRS``) go to
    the exact kernel over ``points``."""
    from spatial4n_spark.io.clustered import _coalesce_ranges

    r_cap_km = float(deg_to_km(180.0))
    thr_sel = float(max(8, 2 * k))
    thr = float(max(32, 4 * k))
    qid_type = queries.schema["query_id"].dataType.simpleString()
    cover_schema = (
        f"_lv int, _pcell long, query_id {qid_type}, "
        "_qlon double, _qlat double, _r double"
    )

    # --- counts pyramid: local density at a ladder of cell sizes -------
    max_p = min(level, 12)
    pyr = [lv for lv in range(max_p, 1, -2)][::-1][-5:]  # coarse -> fine, <= 5
    cnt = (
        points.select(F.shiftright(F.col(cell), 2 * (level - max_p)).alias("_c"))
        .groupBy("_c")
        .agg(F.count(F.lit(1)).alias("_n"))
        .persist()
    )
    q0 = queries.withColumn("_qc", s2_udf(max_p)(F.col("_qlat"), F.col("_qlon")))
    # the whole pyramid in ONE explode-aggregate over the cell counts
    # and ONE query-side join on the exploded (level, prefix-cell) keys,
    # pivoted back per query: a join per level costs a broadcast-build
    # job per level
    pyrdf = (
        cnt.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lv).alias("_plv"),
                            F.shiftright(F.col("_c"), 2 * (max_p - lv)).alias("_pc"),
                        )
                        for lv in pyr
                    ]
                )
            ).alias("_k"),
            "_n",
        )
        .groupBy("_k._plv", "_k._pc")
        .agg(F.sum("_n").alias("_pn"))
    )
    keys = q0.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lv).alias("_plv"),
                        F.shiftright(F.col("_qc"), 2 * (max_p - lv)).alias("_pc"),
                    )
                    for lv in pyr
                ]
            )
        ).alias("_k"),
    ).select("query_id", "_k._plv", "_k._pc")
    hits = (
        keys.join(pyrdf, ["_plv", "_pc"], "left")
        .groupBy("query_id")
        .agg(
            *[
                F.max(F.when(F.col("_plv") == lv, F.col("_pn"))).alias(f"_n{lv}")
                for lv in pyr
            ]
        )
    )
    q0 = q0.join(hits, "query_id", "left")

    # finest pyramid level whose own cell holds ~thr_sel points; its
    # radius targets ~thr candidates at that cell's density.  Queries
    # with no such level (globally sparse neighborhoods) start at 1.5x
    # the coarsest pyramid cell and escalate by doubling.
    size_deg = {lv: 90.0 / float(1 << lv) for lv in pyr}
    lvl_expr = F.lit(pyr[0])
    sel_ok = F.lit(False)
    for lv in pyr:
        got = F.coalesce(F.col(f"_n{lv}"), F.lit(0)) >= F.lit(thr_sel)
        lvl_expr = F.when(got, F.lit(lv)).otherwise(lvl_expr)
        sel_ok = sel_ok | got
    nsel = F.lit(None).cast("long")
    size_expr = F.lit(None).cast("double")
    for lv in pyr:
        nsel = F.when(F.col("_lvl") == lv, F.col(f"_n{lv}")).otherwise(nsel)
        size_expr = F.when(F.col("_lvl") == lv, F.lit(size_deg[lv])).otherwise(size_expr)
    r_deg_expr = F.when(
        F.col("_sel"),
        size_expr
        * F.sqrt(F.lit(thr) / (F.lit(math.pi) * F.greatest(nsel, F.lit(1)).cast("double"))),
    ).otherwise(F.lit(1.5 * size_deg[pyr[0]]))
    r_km_expr = F.least(
        F.greatest(
            r_deg_expr * F.lit(float(deg_to_km(1.0))),
            F.lit(float(deg_to_km(4.0 * 90.0 / float(1 << level)))),
        ),
        F.lit(r_cap_km),
    )
    pending = (
        q0.withColumn("_lvl", lvl_expr)
        .withColumn("_sel", sel_ok)
        .withColumn("_r", r_km_expr)
        .select("query_id", "_qlon", "_qlat", "_r")
        .localCheckpoint(eager=False)
    )
    n_pending = pending.count()

    accepted: list[DataFrame] = []
    rounds = _MAX_ROUNDS if n_total >= k else 0
    for rnd in range(rounds):
        if n_pending == 0:
            break
        if rnd >= 1 and n_pending * n_total <= _BRUTE_FORCE_PAIRS:
            # a handful of stragglers after the first round: one exact
            # kernel pass beats a whole extra round of cover/scan/join
            break
        covers = pending.mapInPandas(_cover_rows(level), cover_schema).localCheckpoint(
            eager=False
        )
        folded = (
            covers.select("_lv", "_pcell")
            .mapInPandas(_fold_covers(level), "_lv int, lo long, hi long, _rows long")
            .collect()
        )
        n_cover = sum(int(r["_rows"]) for r in folded)
        # ONE scan (union of every level's ranges) and ONE join: each
        # scanned row explodes into its (level, ancestor cell) pair per
        # ACTIVE level, all codegen, so a round costs one read and one
        # shuffle or broadcast however many cover levels it spans
        active = sorted({int(r["_lv"]) for r in folded})
        ranges_all = _coalesce_ranges(
            [(int(r["lo"]), int(r["hi"])) for r in folded], 2 * _SCAN_RANGES
        )
        pairs = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(u).cast("int").alias("_lv"),
                        F.shiftright(F.col(cell), 2 * (level - u)).alias("_pcell"),
                    )
                    for u in active
                ]
            )
        )
        cov = F.broadcast(covers) if n_cover <= broadcast_cells else covers
        # a null-coordinate row has a cell (that of NaN) but no distance;
        # a null dist_km would rank first, so it never becomes a candidate
        cand = (
            scan(ranges_all)
            .where(F.col(lon).isNotNull() & F.col(lat).isNotNull())
            .withColumn("_p", pairs)
            .withColumn("_lv", F.col("_p._lv"))
            .withColumn("_pcell", F.col("_p._pcell"))
            .drop("_p")
            .join(cov, ["_lv", "_pcell"])
        )
        # lazy checkpoint: the pending count below materializes the whole
        # round (ranked, acceptance, anti-join) as one job
        ranked = _rank_top_k(cand, k, id_col, lon, lat, "_r").localCheckpoint(eager=False)
        summ = ranked.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("_n"),
            F.max("dist_km").alias("_dmax"),
            F.first("_r").alias("_rq"),
        )
        accepted_ids = summ.where(
            (F.col("_n") >= k) & (F.col("_dmax") <= F.col("_rq"))
        ).select("query_id")
        accepted.append(
            ranked.join(F.broadcast(accepted_ids), "query_id").select(
                "query_id", id_col, "dist_km", "rank"
            )
        )
        pending = (
            pending.join(F.broadcast(accepted_ids), "query_id", "left_anti")
            .withColumn("_r", F.least(F.col("_r") * 2.0, F.lit(r_cap_km)))
            .localCheckpoint(eager=False)
        )
        n_pending = pending.count()

    cnt.unpersist()
    if n_pending:
        # stragglers (sparse regions, n_total < k)
        pending = pending.select("query_id", "_qlon", "_qlat")
        accepted.append(_exact_knn(points, pending, k, lon, lat, id_col, None))
    return reduce(DataFrame.unionAll, accepted)


def knn_join_df(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "image_id",
    query_id: str = "query_id",
    qlon: str = "qlon",
    qlat: str = "qlat",
    estimated_total: int | None = None,
    broadcast_cells: int = 200_000,
) -> DataFrame:
    """Exact kNN join, queries as a DataFrame. Returns
    (query_id, <id_col>, dist_km, rank); ties break on <id_col>.

    Under the comparison budget (module docstring) the exact kernel
    answers in one pass. Above it the points are encoded ONCE as
    level-``_S2_LEVEL`` S2 cells, persisted, and handed to the cover plan
    (``_cover_knn``) with a scan that returns the whole encoded frame.
    ``estimated_total`` (the point count) saves the count job that sizes
    the budget; ``broadcast_cells`` bounds both the kernel's query set
    and the cover cells the plan broadcasts.
    """
    q0 = _query_frame(queries, query_id, qlon, qlat)
    n_total = estimated_total if estimated_total is not None else points.count()
    out = _exact_knn(points, q0, k, lon, lat, id_col, _query_budget(n_total, broadcast_cells))
    if out is not None:
        return out
    pts = points.select(
        id_col, lon, lat, s2_udf(_S2_LEVEL)(F.col(lat), F.col(lon)).alias("_cell")
    ).persist()
    out = _cover_knn(
        pts, "_cell", _S2_LEVEL, lambda ranges: pts, q0, k, id_col, lon, lat,
        n_total, broadcast_cells,
    )
    pts.unpersist()
    return out


# a driver-side query list as rows: (str query_id, float qlon, float qlat)
_LIST_SCHEMA = StructType(
    [StructField("query_id", StringType()), StructField("qlon", DoubleType()),
     StructField("qlat", DoubleType())]
)


def _list_rows(queries) -> list[tuple]:
    """A driver-side [(query_id, qlon, qlat)] list as ``_LIST_SCHEMA`` rows."""
    return [(str(q), float(a), float(b)) for q, a, b in queries]


def _list_queries(spark, queries) -> DataFrame:
    """A driver-side [(query_id, qlon, qlat)] list as a query DataFrame."""
    return _local_frame(spark, _list_rows(queries), _LIST_SCHEMA)


def knn_join(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "image_id",
    estimated_total: int | None = None,
) -> DataFrame:
    """``knn_join_df`` for a driver-side [(query_id, qlon, qlat)] list.
    Returns (query_id, <id_col>, dist_km, rank); ties break on
    <id_col>."""
    return knn_join_df(
        points, _list_queries(points.sparkSession, queries), k, lon=lon, lat=lat,
        id_col=id_col, estimated_total=estimated_total,
    )
