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
- **Above the budget**, ``knn_join_df`` (geohash ring blocks at a
  per-query level from a counts pyramid) and ``knn_join_cover_df``
  (circle covers on any cell backend) expand candidate regions round
  by round, accept a query once its k-th distance fits the covered
  radius, and hand the bounded stragglers to the exact kernel. Nothing
  per-query touches the driver. SURVEY.md §2.9; reference analog: the
  GetSubGeohashes ring expansion (GeohashUtils.cs:219-228).

``knn_join`` and ``knn_join_cover`` take a driver-side query list and
are thin wrappers over their ``_df`` twins; ``io.clustered`` runs the
same kernel over a clustered table's manifest-listed files.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from spatial4n_spark.functions.native import haversine_km
from spatial4n_spark.functions.udfs import geohash_udf
from spatial4n_spark.kernels.distance import (
    EARTH_MEAN_RADIUS_KM,
    deg_to_km,
    dist_haversine_rad,
)
from spatial4n_spark.kernels.geohash import (
    geohash_cell_sizes,
    geohash_encode_str,
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
    """Driver rows as a DataFrame. Built from pandas (Arrow), it is a
    LocalRelation: collecting or broadcasting it runs no Spark job, where
    a DataFrame made from a Python list is an RDD costing a job each."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)


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


def _rx_rings(qlat, level: int, rings: int):
    """Per-query LONGITUDE ring count: lon cells shrink by cos(lat), so a
    block that guarantees an isotropic covered radius needs rings/cos
    columns (capped at a full 360-degree wrap, which the enumeration's
    wrap+dedup turns into complete lat-band rows). The cos is taken at
    the block's far lat edge — conservative."""
    lat_h, lon_w = geohash_cell_sizes(level)
    rx_cap = int(math.ceil(180.0 / lon_w))
    edge = np.minimum(np.abs(np.asarray(qlat, dtype=np.float64)) + (rings + 1) * lat_h, 90.0)
    cosv = np.maximum(np.cos(np.radians(edge)), 1e-9)
    return np.minimum(np.ceil(rings / cosv), rx_cap).astype(np.int64)


def _ring_cells_frame(qid, qlon, qlat, level: int, rings: int):
    """Vectorized ring-block enumeration for a batch of queries:
    decode each center cell, offset an ANISOTROPIC (2*rx+1) x (2r+1)
    block (rx = lon rings per ``_rx_rings``: pole-adjacent queries wrap
    the whole lon circle instead of starving behind cos -> 0) by integer
    cell sizes, wrap lon / drop beyond-pole rows, re-encode, dedup per
    query. Returns a pandas frame (query_id, _qlon, _qlat, _cell)."""
    import pandas as pd

    from spatial4n_spark.kernels.geohash import geohash_decode_bbox

    qid = np.asarray(qid)
    qlon = np.asarray(qlon, dtype=np.float64)
    qlat = np.asarray(qlat, dtype=np.float64)
    centers = geohash_encode_str(qlat, qlon, level)
    if rings == 0:
        return pd.DataFrame(
            {"query_id": qid, "_qlon": qlon, "_qlat": qlat, "_cell": centers}
        )
    lat_h, lon_w = geohash_cell_sizes(level)
    mnx, mxx, mny, mxy = geohash_decode_bbox(centers)
    cx = (np.asarray(mnx) + np.asarray(mxx)) * 0.5
    cy = (np.asarray(mny) + np.asarray(mxy)) * 0.5
    rx = _rx_rings(qlat, level, rings)

    frames = []
    offy = np.arange(-rings, rings + 1, dtype=np.float64) * lat_h
    for r in np.unique(rx):
        m = np.nonzero(rx == r)[0]
        offx = np.arange(-r, r + 1, dtype=np.float64) * lon_w
        ox, oy = np.meshgrid(offx, offy)
        ox, oy = ox.ravel(), oy.ravel()
        gx = ((cx[m][:, None] + ox[None, :] + 180.0) % 360.0) - 180.0
        gy = cy[m][:, None] + oy[None, :]
        ri, ci = np.nonzero((gy > -90.0) & (gy < 90.0))
        cells = geohash_encode_str(gy[ri, ci], gx[ri, ci], level)
        f = pd.DataFrame({"_row": m[ri], "_cell": cells}).drop_duplicates()
        frames.append(f)
    out = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    rows = out["_row"].to_numpy()
    out["query_id"] = qid[rows]
    out["_qlon"] = qlon[rows]
    out["_qlat"] = qlat[rows]
    return out[["query_id", "_qlon", "_qlat", "_cell"]]


def _covered_radius_km(qlat: float, level: int, rings: int) -> float:
    """Conservative radius fully covered by the anisotropic ring block:
    at least ``rings`` cells of latitude; in longitude ``rx`` cells whose
    km width carries the cos(lat) shrink — when the block wraps the full
    circle the rows are complete lat bands and only the lat term binds
    (this is what lets pole-adjacent queries accept instead of falling
    through to brute force)."""
    lat_h, lon_w = geohash_cell_sizes(level)
    rx = int(_rx_rings([qlat], level, rings)[0])
    lat_km = float(deg_to_km(rings * lat_h))
    if (2 * rx + 1) * lon_w >= 360.0:
        return max(lat_km, 0.0)
    lon_km = float(deg_to_km(rx * lon_w)) * max(
        math.cos(math.radians(abs(qlat) + rings * lat_h)), 0.0
    )
    return max(min(lat_km, lon_km), 0.0)


def _covered_radius_expr(qlat_col, rings_col, level: int):
    """Per-row column twin of ``_covered_radius_km`` with a rings COLUMN.
    Uses rx-1 in the lon term: the enumeration computes rx in numpy, this
    expression in the JVM — the one-cell slack absorbs any ulp-level
    ceil() disagreement so acceptance can never assume a column the
    block did not enumerate."""
    lat_h, lon_w = geohash_cell_sizes(level)
    rx_cap = int(math.ceil(180.0 / lon_w))
    edge = F.least(
        F.abs(qlat_col) + (rings_col + 1) * F.lit(float(lat_h)), F.lit(90.0)
    )
    cosv = F.greatest(F.cos(F.radians(edge)), F.lit(1e-9))
    rx_raw = F.ceil(rings_col / cosv).cast("double")  # UNcapped ceil
    rx = F.least(rx_raw, F.lit(float(rx_cap)))
    rx_c = F.greatest(rx - 1, F.lit(0.0))
    lat_km = rings_col * F.lit(float(deg_to_km(lat_h)))
    # full wrap: claimed either when even the slack-reduced rx spans the
    # circle, or when the UNcapped ceil exceeds the cap BY MORE THAN ONE
    # cell (rx_raw - 1 >= cap). The second clause carries the same
    # one-cell slack as everywhere else: if the JVM's rings/cos cleared
    # the cap by a whole cell, numpy's ceil — at most one off — still hit
    # the cap and enumerated the full (2*cap+1)-column wrap
    # ((2*cap+1)*lon_w >= 360 by construction of cap = ceil(180/lon_w)).
    # A pole query exactly AT the cap boundary defers the wrap claim by
    # one ring doubling instead of risking a one-column acceptance gap;
    # the clause must compare the UNcapped ceil — the capped rx can never
    # exceed cap, so a capped comparison would never fire and would
    # strand pole queries at a near-zero acceptance radius forever.
    full_wrap = ((2 * rx_c + 1) * F.lit(float(lon_w)) >= F.lit(360.0)) | (
        rx_raw - 1 >= F.lit(float(rx_cap))
    )
    lon_km = (
        rx_c
        * F.lit(float(deg_to_km(lon_w)))
        * F.greatest(
            F.cos(F.radians(F.abs(qlat_col) + rings_col * F.lit(float(lat_h)))),
            F.lit(0.0),
        )
    )
    return F.when(full_wrap, F.greatest(lat_km, F.lit(0.0))).otherwise(
        F.greatest(F.least(lat_km, lon_km), F.lit(0.0))
    )


def _est_cells_expr(levels: list[int]):
    """Per-row enumerated-cell estimate over ``_qlat``/``_rings``/``_level``
    columns, ANISOTROPIC: the lon ring count rx grows as rings/cos(lat)
    (capped at a full wrap), so a pole-adjacent batch counts
    (2*rx+1)*(2*rings+1), not (2*rings+1)^2 — the isotropic square
    under-counts by orders of magnitude exactly where blocks are widest,
    and the broadcast decision in ``knn_join_df`` trusts this number."""
    e = F.lit(0.0)
    for lv in levels:
        lat_h, lon_w = geohash_cell_sizes(lv)
        rx_cap = int(math.ceil(180.0 / lon_w))
        edge = F.least(
            F.abs(F.col("_qlat")) + (F.col("_rings") + 1) * F.lit(float(lat_h)),
            F.lit(90.0),
        )
        cosv = F.greatest(F.cos(F.radians(edge)), F.lit(1e-9))
        rx = F.least(F.ceil(F.col("_rings") / cosv), F.lit(rx_cap))
        e = F.when(
            F.col("_level") == lv,
            (2 * rx + 1).cast("double") * (2 * F.col("_rings") + 1),
        ).otherwise(e)
    return e


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
    level: int | None = None,
    max_level: int = 6,
    max_rounds: int = 4,
    estimated_total: int | None = None,
    broadcast_cells: int = 200_000,
    cell_cap: int | None = None,
    max_rings0: int = 16,
) -> DataFrame:
    """Exact kNN join, queries as a DataFrame. Returns
    (query_id, <id_col>, dist_km, rank); ties break on <id_col>.

    Density-adaptive against the clustered-data trap: with one global
    grid level, hot-cluster queries x hot cells multiply into
    |Q_hot| x |N_hot| candidate rows (a Paris-cell query set re-scans
    the whole Paris cell per query), while the same level starves
    ocean queries into round after round of ring doubling. No single
    level serves both, so each query gets its OWN level:

    - points are encoded ONCE at ``max_level``; a per-cell count
      aggregate plus its prefix roll-ups form a counts pyramid (coarser
      geohash cells are string prefixes — no re-encode);
    - each query picks the FINEST level at which its own cell already
      holds ~4k points (its candidate budget), falling back to the
      coarsest level with a density-presized ring count — dense-cluster
      queries search tiny cells, sparse queries search big ones, and
      both start with candidates O(k);
    - ``level=<int>`` pins a single level for every query (the fixed
      grid ``knn_join`` passes through).

    Per round: a ``mapInPandas`` stage expands pending queries into ring
    cells; candidates come from one prefix-keyed equi-join per ACTIVE
    level (<= 5, against the same cached encode — broadcast under a size
    bound, else shuffle-by-cell with AQE skew handling); a
    query-partitioned window takes top-k; acceptance (k-th distance
    within the covered radius of the query's level+rings) is an
    aggregate + join; survivors double their rings. Nothing per-query
    touches the driver until the stragglers left after ``max_rounds``,
    which are collected for the exact kernel.

    Under the comparison budget (module docstring) none of this runs:
    the exact kernel answers in one pass. ``estimated_total`` (the
    point count) saves the count job that sizes the budget.
    """
    q0 = _query_frame(queries, query_id, qlon, qlat)
    n_total = estimated_total if estimated_total is not None else points.count()
    out = _exact_knn(points, q0, k, lon, lat, id_col, _query_budget(n_total, broadcast_cells))
    if out is not None:
        return out
    qid_type = queries.schema[query_id].dataType.simpleString()
    cells_schema = (
        f"query_id {qid_type}, _qlon double, _qlat double, "
        "_level int, _rings int, _cell string"
    )

    lmin = 2
    enc_level = max(max_level, level or 0)
    levels = [level] if level is not None else list(range(lmin, max_level + 1))
    # two thresholds: a query picks the finest level whose own cell holds
    # ~2k points (enough that one ring usually suffices — a bigger bar
    # here pushes queries a whole level coarser, 10-30x more candidates);
    # rings are then presized to a ~4k-candidate budget at that level
    thr_sel = max(4, 2 * k) if cell_cap is None else cell_cap
    thr = max(32, 4 * k) if cell_cap is None else cell_cap

    ptsF = points.withColumn("_cellF", geohash_udf(enc_level)(F.col(lat), F.col(lon)))
    ptsF = ptsF.select(id_col, lon, lat, "_cellF").persist()

    # one count pass at the finest level; the pyramid levels aggregate
    # the (small) counts table, never the points
    cnt = ptsF.groupBy("_cellF").agg(F.count(F.lit(1)).alias("_n")).persist()

    # queries encoded once at enc_level; per-level cells are prefixes
    q0 = q0.withColumn("_qcellF", geohash_udf(enc_level)(F.col("_qlat"), F.col("_qlon")))
    if len(levels) == 1:
        lv = levels[0]
        counts_lv = cnt.groupBy(F.substring("_cellF", 1, lv).alias("_pc")).agg(
            F.sum("_n").alias(f"_n{lv}")
        )
        q0 = q0.withColumn("_pc", F.substring("_qcellF", 1, lv)).join(
            counts_lv, "_pc", "left"
        ).drop("_pc")
    else:
        # the whole pyramid in ONE aggregation (explode each fine cell
        # into its per-level prefixes) and ONE query-side join on the
        # exploded (level, prefix) keys, pivoted back per query — vs a
        # join per level, which costs a broadcast build (a whole Spark
        # job) per level and dominates small-batch latency
        pyr = (
            cnt.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(lv).alias("_plv"),
                                F.substring("_cellF", 1, lv).alias("_pc"),
                            )
                            for lv in levels
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
                            F.substring("_qcellF", 1, lv).alias("_pc"),
                        )
                        for lv in levels
                    ]
                )
            ).alias("_k"),
        ).select("query_id", "_k._plv", "_k._pc")
        hits = (
            keys.join(pyr, ["_plv", "_pc"], "left")
            .groupBy("query_id")
            .agg(
                *[
                    F.max(F.when(F.col("_plv") == lv, F.col("_pn"))).alias(
                        f"_n{lv}"
                    )
                    for lv in levels
                ]
            )
        )
        q0 = q0.join(hits, "query_id", "left")

    # finest level whose own cell already holds ~thr candidates; else the
    # coarsest level (density-presized rings below)
    lvl_expr = F.lit(levels[0])
    for lv in levels[1:]:
        lvl_expr = F.when(
            F.coalesce(F.col(f"_n{lv}"), F.lit(0)) >= thr_sel, F.lit(lv)
        ).otherwise(lvl_expr)
    q0 = q0.withColumn("_level", lvl_expr)
    nlevel = F.lit(None).cast("long")
    for lv in levels:
        nlevel = F.when(F.col("_level") == lv, F.col(f"_n{lv}")).otherwise(nlevel)
    # rings for ~thr candidates at the chosen level's local density
    local_rings = F.ceil(
        (
            F.sqrt(
                F.lit(float(thr)) / F.greatest(F.coalesce(nlevel, F.lit(1)), F.lit(1)).cast("double")
            )
            - 1
        )
        / 2
    ).cast("int")
    # lazy checkpoint: the _pending_stats collect right below materializes
    # it — an eager one would spend a whole extra Spark job on the same
    # plan (job count, not data volume, dominates small-batch latency)
    pending = (
        q0.withColumn(
            "_rings",
            F.greatest(F.lit(1), F.least(F.lit(int(max_rings0)), local_rings)),
        )
        .select("query_id", "_qlon", "_qlat", "_level", "_rings")
        .localCheckpoint(eager=False)
    )

    def _pending_stats(pdf: DataFrame):
        rows = pdf.groupBy("_level").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_est_cells_expr(levels)).alias("cells"),
        ).collect()
        n = sum(int(r["n"]) for r in rows)
        cells = sum(int(r["cells"] or 0) for r in rows)
        act = sorted(int(r["_level"]) for r in rows)
        return n, cells, act

    n_pending, est_cells, active_levels = _pending_stats(pending)

    accepted: list[DataFrame] = []

    def cells_gen():
        def gen(it):
            import pandas as pd

            for pdf in it:
                if not len(pdf):
                    continue
                frames = []
                lv_arr = pdf["_level"].to_numpy()
                rings_arr = pdf["_rings"].to_numpy()
                for lv in np.unique(lv_arr):
                    for r in np.unique(rings_arr[lv_arr == lv]):
                        m = (lv_arr == lv) & (rings_arr == r)
                        f = _ring_cells_frame(
                            pdf["query_id"].to_numpy()[m],
                            pdf["_qlon"].to_numpy()[m],
                            pdf["_qlat"].to_numpy()[m],
                            int(lv),
                            int(r),
                        )
                        f["_level"] = int(lv)
                        f["_rings"] = int(r)
                        frames.append(f)
                out = pd.concat(frames, ignore_index=True)
                yield out[["query_id", "_qlon", "_qlat", "_level", "_rings", "_cell"]]

        return gen

    def radius_expr():
        e = F.lit(0.0)
        for lv in levels:
            e = F.when(
                F.col("_level") == lv,
                _covered_radius_expr(F.col("_qlat"), F.col("_rings"), lv),
            ).otherwise(e)
        return e

    for _ in range(max_rounds):
        if n_pending == 0:
            break
        cells = pending.mapInPandas(cells_gen(), cells_schema)
        if len(active_levels) > 1 and n_pending > 10_000:
            # the per-level join branches below each re-read this plan;
            # Spark does not dedupe common subplans across unionAll
            # branches, so without materialization the Python ring
            # enumeration of ALL pending queries would re-run once per
            # active level.  For small pending sets the re-enumeration
            # (O(n_pending x levels) numpy work) is far cheaper than the
            # extra Spark job an eager checkpoint costs.
            cells = cells.localCheckpoint(eager=True)
        # one prefix-keyed join per ACTIVE level against the same cached
        # encode; at scale each is the standard shuffle-by-cell plan (AQE
        # skew-joins the residual hot cells), and the points side never
        # broadcasts
        cand = None
        for lv in active_levels:
            rhs = cells.where(F.col("_level") == lv)
            if est_cells <= broadcast_cells:
                rhs = F.broadcast(rhs)
            c = ptsF.withColumn("_cell", F.substring("_cellF", 1, lv)).join(rhs, "_cell")
            cand = c if cand is None else cand.unionAll(c)
        ranked = _rank_top_k(cand, k, id_col, lon, lat)
        # lazy checkpoint of the bounded top-k (<= |pending| * k rows):
        # the next-pending stats collect below materializes the whole
        # round — ranked, acceptance, anti-join — as ONE Spark job while
        # the ptsF/cnt caches are still alive; acceptance and the final
        # union then read the materialized checkpoint
        ranked = ranked.localCheckpoint(eager=False)
        summ = ranked.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("_n"), F.max("dist_km").alias("_dmax")
        )
        accepted_ids = (
            summ.join(
                pending.select("query_id", "_qlat", "_level", "_rings"), "query_id"
            )
            .where((F.col("_n") >= k) & (F.col("_dmax") <= radius_expr()))
            .select("query_id")
        )
        accepted.append(
            ranked.join(F.broadcast(accepted_ids), "query_id").select(
                "query_id", id_col, "dist_km", "rank"
            )
        )
        pending = (
            pending.join(F.broadcast(accepted_ids), "query_id", "left_anti")
            .withColumn(
                "_rings", F.least(F.col("_rings") * 2, F.lit(int(max_rings0 * 16)))
            )
            .localCheckpoint(eager=False)
        )
        n_pending, est_cells, active_levels = _pending_stats(pending)

    if n_pending:
        # stragglers (pole/sparse regions, n_total < k): the exact kernel
        accepted.append(
            _exact_knn(points, pending.select("query_id", "_qlon", "_qlat"), k, lon, lat, id_col, None)
        )

    ptsF.unpersist()
    cnt.unpersist()
    return reduce(DataFrame.unionAll, accepted)


def _initial_cover_radius_km(n_total: int, k: int) -> tuple[float, float]:
    """(r0, r_cap): first-round circle radius targeting ~4x k expected
    candidates under a uniform-density estimate (acceptance corrects any
    skew), and the global cap (a 180-deg circle covers the globe)."""
    earth_area = 4.0 * math.pi * 6371.0087714**2
    target = max(64.0, 4.0 * k)
    r_cap_km = float(deg_to_km(180.0))
    r0 = math.sqrt(target / max(n_total, 1) * earth_area / math.pi)
    return min(max(r0, 0.5), r_cap_km), r_cap_km


def _coarse_cell(be, fine_level: int, lv: int, lat: str, lon: str):
    """Column of level-``lv`` cells for the candidate join: the fine
    encode's ancestor where the backend has a prefix hierarchy, else a
    re-encode at ``lv`` (h3: hexes don't nest, so there is no ancestor —
    one extra vectorized encode pass per active level instead)."""
    if be.has_hierarchy:
        return be.parent_col("_cellF", fine_level, lv)
    return be.udf(lv)(F.col(lat), F.col(lon))


def _cover_level(be, r_km: float, level: int, target_cells_across: float) -> int:
    """Finest level (<= the encode level) whose cell size keeps a circle
    cover at ~``target_cells_across`` cells across the diameter."""
    from spatial4n_spark.kernels.distance import km_to_deg

    want = 2.0 * float(km_to_deg(r_km)) / target_cells_across
    lv = level
    while lv > 1 and be.cell_size_deg(lv) < want:
        lv -= 1
    return lv


def knn_join_cover_df(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "image_id",
    query_id: str = "query_id",
    qlon: str = "qlon",
    qlat: str = "qlat",
    index: str = "s2",
    level: int = 12,
    max_rounds: int = 8,
    estimated_total: int | None = None,
    target_cells_across: float = 8.0,
    broadcast_cells: int = 200_000,
) -> DataFrame:
    """Backend-portable exact kNN with the QUERY SET AS A DATAFRAME on
    any cell backend (``index``: s2, geohash or h3). Returns (query_id,
    <id_col>, dist_km, rank); ties break on <id_col>. Under the
    comparison budget (module docstring) the exact kernel answers in one
    pass and the backend is never consulted.

    Above it, every pending query shares the same per-round radius (r0
    doubling on survival — density skew is handled by the exact
    acceptance check, not per-query radii), so each round has ONE cover
    level: a ``mapInPandas`` stage runs the circle-cover planner per
    query (the ``CellIndexBackend.cover`` the radius join uses,
    distributed — nothing per-query on the driver), candidates come
    from one prefix-keyed equi-join against the single fine point encode
    (broadcast under a size bound, else shuffle-by-cell), and acceptance
    (n >= k and k-th distance <= R) is aggregate + anti-join. The cover
    is a superset of every cell meeting the circle, so acceptance is
    exact; the circle covers handle pole and dateline queries through
    the planner's piece splitting. Stragglers go to the exact kernel.
    """
    from spatial4n_spark.cellindex import cell_backend
    from spatial4n_spark.kernels.distance import km_to_deg

    pending = _query_frame(queries, query_id, qlon, qlat)
    n_total = estimated_total if estimated_total is not None else points.count()
    out = _exact_knn(points, pending, k, lon, lat, id_col, _query_budget(n_total, broadcast_cells))
    if out is not None:
        return out
    be = cell_backend(index)
    if be.has_hierarchy:
        pts = points.withColumn("_cellF", be.udf(level)(F.col(lat), F.col(lon)))
        pts = pts.select(id_col, lon, lat, "_cellF").persist()
    else:
        # h3: _coarse_cell re-encodes at each round's cover level, so a
        # fine encode would be computed and never read
        pts = points.select(id_col, lon, lat).persist()
    r_km, r_cap_km = _initial_cover_radius_km(n_total, k)

    qid_type = queries.schema[query_id].dataType.simpleString()
    cover_schema = (
        f"_pcell {be.sql_type}, query_id {qid_type}, _qlon double, _qlat double"
    )

    pending = pending.localCheckpoint(eager=False)
    n_pending = pending.count()
    accepted: list[DataFrame] = []

    def cover_gen(lv: int, r_deg: float):
        def gen(it):
            import pandas as pd

            from spatial4n_spark.cellindex import cell_backend as _cb
            from spatial4n_spark.kernels.polygon import Circle

            be_w = _cb(index)
            for pdf in it:
                if not len(pdf):
                    continue
                qx = pdf["_qlon"].to_numpy()
                qy = pdf["_qlat"].to_numpy()
                if index == "s2":
                    # one vectorized BFS for the whole batch (superset of
                    # the exact cover — acceptance is exact either way);
                    # the scalar per-query planner costs tens of ms per
                    # circle, which dominates large query sets
                    from spatial4n_spark.plans.s2cover import (
                        s2_circle_covers_batch,
                    )

                    idx_a, cells_a = s2_circle_covers_batch(qx, qy, r_deg, lv)
                    yield pd.DataFrame(
                        {
                            "_pcell": cells_a,
                            "query_id": pdf["query_id"].to_numpy()[idx_a],
                            "_qlon": qx[idx_a],
                            "_qlat": qy[idx_a],
                        }
                    )
                    continue
                cells: list = []
                idx: list[int] = []
                for i in range(len(pdf)):
                    fulls, bounds = be_w.cover(
                        Circle(float(qx[i]), float(qy[i]), r_deg, geo=True), lv
                    )
                    cs = fulls + bounds
                    cells.extend(cs)
                    idx.extend([i] * len(cs))
                out = pd.DataFrame(
                    {
                        "_pcell": np.asarray(
                            cells, dtype=np.int64 if be_w.sql_type == "long" else object
                        ),
                        "query_id": pdf["query_id"].to_numpy()[idx],
                        "_qlon": qx[idx],
                        "_qlat": qy[idx],
                    }
                )
                yield out

        return gen

    for _ in range(max_rounds):
        if n_pending == 0:
            break
        lv = _cover_level(be, r_km, level, target_cells_across)
        covers = pending.mapInPandas(
            cover_gen(lv, float(km_to_deg(r_km))), cover_schema
        )
        # ~target_cells_across^2 cells per query by construction of lv
        if n_pending * target_cells_across**2 <= broadcast_cells:
            covers = F.broadcast(covers)
        cand = pts.withColumn("_pcell", _coarse_cell(be, level, lv, lat, lon)).join(
            covers, "_pcell"
        )
        ranked = _rank_top_k(cand, k, id_col, lon, lat)
        # lazy checkpoint: the pending count below materializes the whole
        # round (ranked, acceptance, anti-join) as one job
        ranked = ranked.localCheckpoint(eager=False)
        summ = ranked.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("_n"), F.max("dist_km").alias("_dmax")
        )
        accepted_ids = summ.where(
            (F.col("_n") >= k) & (F.col("_dmax") <= F.lit(float(r_km)))
        ).select("query_id")
        accepted.append(
            ranked.join(F.broadcast(accepted_ids), "query_id").select(
                "query_id", id_col, "dist_km", "rank"
            )
        )
        pending = pending.join(
            F.broadcast(accepted_ids), "query_id", "left_anti"
        ).localCheckpoint(eager=False)
        n_pending = pending.count()
        r_km = min(r_km * 2.0, r_cap_km)

    if n_pending:
        # stragglers (n_total < k, or max_rounds exhausted)
        accepted.append(_exact_knn(points, pending, k, lon, lat, id_col, None))

    pts.unpersist()
    return reduce(DataFrame.unionAll, accepted)


def _list_queries(spark, queries) -> DataFrame:
    """A driver-side [(query_id, qlon, qlat)] list as a query DataFrame."""
    return _local_frame(
        spark,
        [(str(q), float(a), float(b)) for q, a, b in queries],
        StructType(
            [StructField("query_id", StringType()), StructField("qlon", DoubleType()),
             StructField("qlat", DoubleType())]
        ),
    )


def knn_join_cover(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "image_id",
    index: str = "s2",
    level: int = 12,
    max_rounds: int = 8,
    estimated_total: int | None = None,
    target_cells_across: float = 8.0,
) -> DataFrame:
    """``knn_join_cover_df`` for a driver-side [(query_id, qlon, qlat)]
    list; ``index`` and ``level`` pass through. Returns (query_id,
    <id_col>, dist_km, rank); ties break on <id_col>."""
    return knn_join_cover_df(
        points, _list_queries(points.sparkSession, queries), k, lon=lon, lat=lat,
        id_col=id_col, index=index, level=level, max_rounds=max_rounds,
        estimated_total=estimated_total, target_cells_across=target_cells_across,
    )


def knn_join(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "image_id",
    level: int = 3,
    max_rounds: int = 4,
    estimated_total: int | None = None,
) -> DataFrame:
    """``knn_join_df`` for a driver-side [(query_id, qlon, qlat)] list;
    ``level`` (the geohash ring level of the above-budget plan) passes
    through. Returns (query_id, <id_col>, dist_km, rank); ties break on
    <id_col>."""
    return knn_join_df(
        points, _list_queries(points.sparkSession, queries), k, lon=lon, lat=lat,
        id_col=id_col, level=level, max_rounds=max_rounds,
        estimated_total=estimated_total,
    )
