"""Chunked sf1 verification of the image_tiles gate row.

The single-pass DuckDB oracle for image_tiles at sf1 (2M images, three
backend arms) spills past this sandbox's ~76 GB free disk — a DuckDB
resource ceiling, not a correctness gap.  This sweep verifies the SAME
comparison exactly, chunked:

- Spark side: the normal gate query (q_image_tiles_all), one run per
  arm (filtered on the tag column — Catalyst prunes the other union
  children).
- Oracle side: each arm's SQL with (a) oracles_images.set_image_chunk
  restricting the id generator to ``i % K == c`` (the whole per-pixel
  pipeline scales by 1/K) and (b) the final avg ratio swapped for its
  numerator sum — n_chips / n_images / sum_px / sum_dec are pure
  sums/counts, so the K chunk partials merge EXACTLY (integer sums),
  and avg_brightness = sum_dec / (sum_px * 3) is the same single IEEE
  double division both engines perform.
- Compare: tools.check_oracle.compare (columns + order-insensitive
  exact values), per arm.

Usage: python tools/sf1_image_tiles_chunked.py [--sf /tmp/sf1] [--k 8]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the DuckDB image oracles mirror the pure JPEG decoder bit for bit; set
# before any Spark session starts so local-mode workers inherit it
os.environ.setdefault("SPATIAL4N_JPEG_CODEC", "pure")

_RATIO = re.compile(
    r"CAST\(sum\(px_dec\) AS BIGINT\) / \(CAST\(sum\(CAST\(w AS BIGINT\) \* w\) AS BIGINT\) \* 3\)\s*\n\s*AS avg_brightness"
)


def partial_sql(arm_sql: str) -> str:
    out, n = _RATIO.subn("CAST(sum(px_dec) AS BIGINT) AS sum_dec", arm_sql)
    assert n == 1, "avg_brightness ratio not found — oracle shape changed"
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/sf1")
    ap.add_argument("--k", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    import pandas as pd
    from pyspark.sql import SparkSession, functions as F

    from spatial4n_spark import oracles_images as OI
    from tools.check_oracle import compare, duck_con

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("sf1-image-tiles-chunked")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.spatial4n.scan.partitions", str(args.cpus * 2))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from spatial4n_spark.suite import q_image_tiles_all

    arms = {
        "geohash": OI.sql_image_tiles,
        "s2": OI.sql_image_s2_tiles,
        "h3": OI.sql_image_h3_tiles,
    }
    failed = []
    for arm, sql_fn in arms.items():
        t0 = time.time()
        sdf = (
            q_image_tiles_all(spark, args.sf)
            .where(F.col("backend") == arm)
            .drop("backend")
            .toPandas()
        )
        print(f"# spark[{arm}]: {len(sdf)} cells ({time.time() - t0:.0f}s)", flush=True)

        parts = []
        for c in range(args.k):
            t1 = time.time()
            OI.set_image_chunk(args.k, c)
            try:
                sql = partial_sql(sql_fn())
            finally:
                OI.set_image_chunk()
            con = duck_con(args.sf)
            parts.append(con.execute(sql).df())
            con.close()
            print(
                f"# oracle[{arm}] chunk {c + 1}/{args.k}: "
                f"{len(parts[-1])} cells ({time.time() - t1:.0f}s)",
                flush=True,
            )
        for p in parts:
            # the gate union casts every backend's cell to VARCHAR to
            # share one schema; mirror that before merging
            p["cell"] = p["cell"].astype(str)
        merged = (
            pd.concat(parts)
            .groupby("cell", as_index=False)[
                ["n_chips", "n_images", "sum_px", "sum_dec"]
            ]
            .sum()
        )
        merged["avg_brightness"] = merged["sum_dec"].astype("float64") / (
            merged["sum_px"].astype("float64") * 3.0
        )
        merged = merged.drop(columns=["sum_dec"])
        errs = compare(f"image_tiles[{arm}]", sdf, merged)
        if errs:
            print(f"FAIL image_tiles[{arm}]:", flush=True)
            for e in errs:
                print("     " + e, flush=True)
            failed.append(arm)
        else:
            print(
                f"PASS image_tiles[{arm}]: {len(sdf)} rows match "
                f"({time.time() - t0:.0f}s)",
                flush=True,
            )
    print("FAILED:", failed if failed else "none", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
