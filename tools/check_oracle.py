"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark at a given sf dir,
runs the paired ``oracle_sql()`` in DuckDB over the same parquet tables,
and compares row count, column names, and order-insensitive values
(exact equality — the suite is designed for bit-parity).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

# the DuckDB image oracles mirror the pure JPEG decoder bit for bit; set
# before any Spark session starts so local-mode workers inherit it
os.environ.setdefault("SPATIAL4N_JPEG_CODEC", "pure")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # big-sf oracle hardening: the heavy oracles (image DCT chains at
    # sf1) spill tens of GB — keep the spill off the repo directory,
    # and bound both phases by this host: memory to 40 % of its RAM
    # (the gate's Spark driver shares it), the spill to 80 % of the
    # temp directory's free space. An oracle past both stops with
    # DuckDB's out-of-memory error instead of an OOM kill or a full
    # disk. Overridable: ORACLE_DUCK_MEM / ORACLE_DUCK_TMP.
    tmp = os.environ.get("ORACLE_DUCK_TMP", "/tmp/duckdb_oracle_tmp")
    with contextlib.suppress(OSError):
        os.makedirs(tmp, exist_ok=True)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    settings = {
        "temp_directory": f"'{tmp}'",
        "memory_limit": f"'{os.environ.get('ORACLE_DUCK_MEM', f'{ram_mb * 2 // 5}MB')}'",
        # our compares are order-insensitive (canon() sorts), so DuckDB
        # need not buffer pipelines to preserve row order — a large
        # memory/spill reduction on the wide-intermediate oracles
        "preserve_insertion_order": "false",
    }
    with contextlib.suppress(OSError):
        free_mb = shutil.disk_usage(tmp).free // 2**20
        settings["max_temp_directory_size"] = f"'{free_mb * 4 // 5}MB'"
    if os.environ.get("ORACLE_DUCK_THREADS"):
        settings["threads"] = str(int(os.environ["ORACLE_DUCK_THREADS"]))
    # one statement per setting: a failed SET must not skip the others
    for name, value in settings.items():
        try:
            con.execute(f"SET {name}={value}")
        except duckdb.Error as ex:
            print(f"WARNING: DuckDB setting {name} not applied: {ex}", file=sys.stderr)
    for t in TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        except duckdb.Error:
            pass
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(sdf.columns) != sorted(odf.columns):
        errs.append(f"columns: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return errs
    if len(sdf) != len(odf):
        errs.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    s, o = canon(sdf), canon(odf)
    if len(s) == len(o):
        for c in s.columns:
            a, b = s[c].to_numpy(), o[c].to_numpy()
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                a = a.astype(np.float64)
                b = b.astype(np.float64)
                bad = ~((a == b) | (np.isnan(a) & np.isnan(b)))
                if bad.any():
                    i = int(np.argmax(bad))
                    errs.append(
                        f"col {c}: {int(bad.sum())} diffs, first at row {i}: "
                        f"spark={a[i]!r} oracle={b[i]!r} (maxabs={np.nanmax(np.abs(a - b))})"
                    )
            else:
                bad = a.astype(object) != b.astype(object)
                if bad.any():
                    i = int(np.argmax(bad))
                    errs.append(
                        f"col {c}: {int(bad.sum())} diffs, first at row {i}: "
                        f"spark={a[i]!r} oracle={b[i]!r}"
                    )
    return errs


def main() -> int:
    # positional: sf_dir [query ...]; also accepts --sf DIR / --queries a,b
    args = sys.argv[1:]
    sf_dir, only = "/root/testdata/sf0.01", set()
    pos = []
    i = 0
    while i < len(args):
        if args[i] in ("--sf", "--queries"):
            if i + 1 >= len(args):
                print(f"ERROR: {args[i]} requires a value")
                return 2
            if args[i] == "--sf":
                sf_dir = args[i + 1]
            else:
                only.update(q for q in args[i + 1].split(",") if q)
            i += 2
        else:
            pos.append(args[i])
            i += 1
    if pos:
        sf_dir = pos[0]
        only.update(q for c in pos[1:] for q in c.split(",") if q)

    import __spark_entry__ as E

    queries = E.queries()
    unknown = only - set(queries)
    if unknown:
        # a typo'd filter must not report a vacuous "FAILED: none" —
        # and must not pay JVM startup to say so
        print(f"ERROR: unknown query names: {sorted(unknown)}")
        return 2

    from pyspark.sql import SparkSession

    # env knobs for big-sf sweeps: the sandbox parquet is single-row-group
    # (unsplittable), so without scan repartitioning a quadratic row like
    # emb_knn runs its whole cross join on 1-2 tasks at sf1.
    cpus = int(os.environ.get("ORACLE_CPUS", "8"))
    scan_parts = int(os.environ.get("ORACLE_SCAN_PARTITIONS", "0"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("ORACLE_DRIVER_MEM", "8g"))
        .config("spark.spatial4n.scan.partitions", str(scan_parts))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)

    oracles = E.oracle_sql()
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}", flush=True)
            failed.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, {time.time() - t0:.1f}s)", flush=True)
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {ex}", flush=True)
            failed.append(name)
            continue
        errs = compare(name, sdf, odf)
        if errs:
            print(f"FAIL {name} ({len(sdf)} vs {len(odf)} rows):")
            for e in errs:
                print(f"     {e}")
            failed.append(name)
        else:
            print(f"PASS {name}: {len(sdf)} rows match ({time.time() - t0:.1f}s)", flush=True)
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
