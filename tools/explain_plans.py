"""Dump physical plans of the headline operators into PLANS.md.

Evidence that each operator compiles to the intended physical shape:
broadcast joins on the small side (no fact-table shuffle), native
predicates inside codegen, Arrow UDFs only where Catalyst can't express
the kernel, two-phase salted aggregation. Regenerate after plan-shape
changes: python tools/explain_plans.py
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

COMMENTS = {
    "clustered_scan": (
        "Generic metadata-pruned scan (manifest per-column stats): the table was "
        "built from batches with DISJOINT o_orderkey ranges; scanning one range "
        "must list only that batch's files (2 of 6) and push the residual BETWEEN "
        "to the reader. No joins, no shuffles — a pure scan whose file list was "
        "decided at plan time from JSON metadata."
    ),
    "mor_scan": (
        "Radius query with a PENDING merge-on-read delete file: the pruned scan "
        "keeps its pushed cell BETWEEN (pushdown survives the anti-join) and the "
        "pending position set applies as ONE BroadcastHashJoin LeftAnti on "
        "(file, row position) — no shuffle, no second pass; compaction retires it."
    ),
    "rtree_pip_join": (
        "Broadcast STR R-tree PIP join: the entire join is ONE mapInPandas stage "
        "over the points — no join operator, no Exchange; candidates come from the "
        "closure-broadcast tree probe, exact refinement from the same covers "
        "kernel, inside a single Arrow pass."
    ),
    "pip_join": (
        "Point-in-polygon join. Wanted shape: scan -> derive -> geohash Arrow UDF -> "
        "ONE BroadcastHashJoin carrying BOTH the cell equi-key and the native bbox "
        "prefilter in its condition (so the exact-PIP Arrow UDF only sees bbox "
        "survivors) -> PIP filter. The fact side never shuffles."
    ),
    "radius_join": (
        "Distance join (the list form wraps radius_join_df): the query circles are "
        "a LocalTableScan covered in ONE mapInPandas stage, the cover joins the fact "
        "side in a BroadcastHashJoin on the cell key, then the haversine predicate "
        "as native Catalyst expressions (WholeStageCodegen, no UDF in the exact "
        "phase)."
    ),
    "tile_stats": (
        "Salted two-phase aggregation: partial HashAggregate on (cell, salt), "
        "exchange on the salted key, final HashAggregate on cell. Map-side partials "
        "bound the per-key skew; integer sums make it order-insensitive."
    ),
    "corridor_join": (
        "Buffered-polyline join, the pip_join shape: the route cover is a "
        "LocalTableScan broadcast into ONE BroadcastHashJoin on the cell key (points "
        "with a non-finite coordinate are dropped by a native Filter below the "
        "encode), then the pip_udf filter (two-line containment, deciding "
        "boundary-cell candidates)."
    ),
    "cell_assign": (
        "Tile assignment: single projection pass — geohash Arrow UDF + native "
        "integer cell id; no joins, no shuffles."
    ),
    "poly_buffer_join": (
        "Buffered-polygon join (GetBuffered layer): same broadcast cover shape as "
        "pip_join; the buffered covers test runs only on boundary-cell survivors."
    ),
    "emb_cosine_topk": (
        "Exact cosine top-k: map-side JVM dot products, then TakeOrderedAndProject "
        "— distributed partial top-k per partition, a k-row merge, NO "
        "single-partition Exchange + Window over the candidate set."
    ),
    "emb_ann": (
        "Multi-table LSH ANN: bucket-match filter inside the scan projection, "
        "then TakeOrderedAndProject. With the materialized index (io/ann_index) "
        "the same probe becomes a partition-pruned read (see test_text_similarity "
        "plan-inspection test)."
    ),
    "emb_dup_pairs": (
        "Embedding near-dup pairs: per-table bucket self-joins (equi-join on the "
        "bucket id) + exact cosine verify — NO CartesianProduct anywhere; the "
        "O(n^2) crossJoin of round 1 is gone."
    ),
    "pip_join_s2": (
        "Same join, S2 index (plans/s2cover.py cover; `index=\"s2\"`). The plan is "
        "SHAPE-IDENTICAL to pip_join — one BroadcastHashJoin with the cell equi-key "
        "plus the native bbox prefilter in its condition, fact side never shuffles — "
        "but the join key is an int64 S2 cell instead of a geohash string: a bigint "
        "`HashedRelationBroadcastMode` key hashes/compares cheaper than UTF8String, "
        "and the broadcast rows are narrower. Candidate generation differs only "
        "driver-side (4-ary Hilbert-cell BFS vs 32-ary geohash quadtree); results "
        "are index-invariant (same oracle)."
    ),
    "pip_join_h3": (
        "Same join, H3 hex index (plans/h3cover.py cover; `index=\"h3\"`). Again "
        "SHAPE-IDENTICAL — one BroadcastHashJoin on an int64 hex cell + native bbox "
        "prefilter; the hex cover is planned by direct uniform-level enumeration "
        "(no tree), which only changes the driver-side candidate set. All three "
        "backends compile to the same physical join."
    ),
    "h3_tile_stats": (
        "Salted two-phase aggregation through the hex backend: identical plan to "
        "tile_stats — partial HashAggregate on (cell, salt), exchange, final "
        "HashAggregate on cell — with a bigint group key."
    ),
    "radius_join_clustered": (
        "Radius query over the Hilbert-range-clustered layout (io/clustered.py). "
        "The kept files of this table fit the driver-local read budget, so each "
        "probe is ONE LocalTableScan: the manifest-surviving files were read on "
        "the driver under the same read spec, and the exact haversine predicate "
        "was folded into the local relation (no scan, no job until collected). "
        "Above the budget the probe is the pruned parquet scan with the cell-range "
        "BETWEEN in PushedFilters shown under mor_scan."
    ),
    "pip_join_clustered": (
        "PIP join over the pruned clustered scan: same ONE BroadcastHashJoin as "
        "pip_join, but the fact-side scan starts from manifest-surviving files "
        "with pushed cell ranges — storage pruning composes with the join plan "
        "unchanged."
    ),
    "st_radius_join": (
        "Radius query with a [t0, t1] window over a day-partitioned clustered table "
        "(io/clustered.py, day spec in the manifest): only files inside the "
        "window's day directories AND the manifest's surviving cell bounds are "
        "read (both axes pruned at plan time, driver-side). Within the driver-local "
        "budget the kept files are read on the driver under the one read spec and "
        "the exact timestamp (+ haversine, on the slack band) predicates fold into "
        "a LocalTableScan; above it the pushed cell-range disjunction skips row "
        "groups and both filters run as native codegen. No joins, no shuffles."
    ),
    "doc_neardup_pairs": (
        "Exact n-gram Jaccard near-dup pairs. Wanted shape: tokenize ONCE per doc "
        "in its own projection (shingles must not inline the tokenizer into "
        "element_at, or interpreted HOF eval re-tokenizes per element), "
        "explode_outer + explicit null filter (plain explode lets "
        "InferFiltersFromGenerate push a size()>0 filter BELOW the spread "
        "repartition, re-running the whole shingle expression serially on one "
        "partition), shingle-bucket self-join with the stop-shingle cap, exact "
        "intersection/union as native aggregates."
    ),
}


def _q_mor_scan(spark, sf_dir):
    """Radius query over a clustered table carrying a PENDING
    merge-on-read position-delete file: the plan must keep the pruned
    scan's pushed cell BETWEEN (the anti-join must not block pushdown)
    and apply the pending set as ONE BroadcastHashJoin LeftAnti on
    (file, row position) — no shuffle, no second pass. The 5,000-row
    table fits the driver-local read budget, so the budget is pinned to
    0 here: this entry documents the Spark scan that serves tables
    above it."""
    import tempfile
    from unittest import mock

    from pyspark.sql import functions as F

    from spatial4n_spark.io import clustered as C
    from spatial4n_spark.suite import pts_orders

    path = tempfile.mkdtemp(prefix="plans_mor_")
    pts = pts_orders(spark, sf_dir).limit(5000)
    C.write_clustered(pts, path, level=14, files=4)
    C.delete_clustered(
        spark, path, F.col("o_orderkey") % 10 == 0, strategy="mor"
    )
    with mock.patch.object(C, "_LOCAL_READ_ROWS", 0):
        return C.clustered_radius_query(spark, path, 2.3125, 48.875, 300.0)


def _q_rtree_pip_join(spark, sf_dir):
    """Broadcast STR R-tree PIP join: the whole join must compile to a
    single mapInPandas stage over the points — NO join operator and NO
    Exchange anywhere (candidates come from the closure-broadcast tree,
    refinement from the same covers kernel, inside one Arrow pass)."""
    from spatial4n_spark.operators.spatial_join import (
        spatial_join_points_polygons_rtree,
    )
    from spatial4n_spark.suite import layer, pts_orders

    return spatial_join_points_polygons_rtree(
        pts_orders(spark, sf_dir), layer()
    ).select("o_orderkey", "poly_id")


def _q_clustered_scan(spark, sf_dir):
    """Generic metadata-pruned scan on a NON-spatial stats column: a
    table built from batches with disjoint o_orderkey ranges, scanned
    for one batch's range — the plan must list ONLY that batch's files
    and push the residual BETWEEN."""
    import tempfile

    from pyspark.sql import functions as F

    from spatial4n_spark.io import clustered as C
    from spatial4n_spark.suite import pts_orders

    path = tempfile.mkdtemp(prefix="plans_scan_")
    pts = pts_orders(spark, sf_dir).limit(2000)
    C.write_clustered(pts, path, level=14, files=4)
    b = pts.limit(200).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10**10).cast("long")
    )
    C.append_clustered(b, path, files=2)
    return C.clustered_scan(spark, path, {"o_orderkey": (10**10, 2 * 10**10)})


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from spatial4n_spark import suite

    from spatial4n_spark import suite_text

    queries = {
        "pip_join": suite.q_pip_join,
        "radius_join": suite.q_radius_join,
        "tile_stats": suite.q_tile_stats,
        "corridor_join": suite.q_corridor_join,
        "cell_assign": suite.q_cell_assign,
        "poly_buffer_join": suite.q_poly_buffer_join,
        "emb_cosine_topk": suite_text.q_emb_cosine_topk,
        "emb_ann": suite_text.q_emb_ann,
        "emb_dup_pairs": suite_text.q_emb_dup_pairs,
        "pip_join_s2": suite.q_pip_join_s2,
        "pip_join_h3": suite.q_pip_join_h3,
        "h3_tile_stats": suite.q_h3_tile_stats,
        "radius_join_clustered": suite.q_radius_join_clustered,
        "pip_join_clustered": suite.q_pip_join_clustered,
        "st_radius_join": suite.q_st_radius_join,
        "doc_neardup_pairs": suite_text.q_doc_neardup_pairs,
        "clustered_scan": _q_clustered_scan,
        "mor_scan": _q_mor_scan,
        "rtree_pip_join": _q_rtree_pip_join,
    }

    out = [
        "# PLANS — physical plans of the headline operators\n",
        "Generated by `python tools/explain_plans.py` (sf0.01 inputs; plans are",
        "size-independent except AQE runtime re-optimization).\n",
    ]
    for name, fn in queries.items():
        df = fn(spark, "/root/testdata/sf0.01")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the tree + the condition/filter details, drop column lists
        lines = []
        in_tree = True
        for line in plan.splitlines():
            if line.startswith("== Physical Plan =="):
                continue
            if not line.strip():
                in_tree = False
            if in_tree:
                lines.append(line)
            elif any(k in line for k in ("Condition", "PushedFilters", "Arguments: [plan")):
                lines.append(line.strip()[:240])
        out.append(f"## {name}\n")
        out.append(COMMENTS.get(name, "") + "\n")
        out.append("```")
        out.extend(lines)
        out.append("```\n")

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
