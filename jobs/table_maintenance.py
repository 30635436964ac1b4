"""Scheduled table maintenance (spark-submit entrypoint) — the
operational sweep a snapshot-versioned table needs to stay healthy at
design scale, as ONE idempotent run:

    zip -r /tmp/spatial4n_spark.zip spatial4n_spark
    spark-submit --master 'local[8]' --py-files /tmp/spatial4n_spark.zip \
        jobs/table_maintenance.py --table /path/to/table \
        --compact-above 8 --keep-last 3 --older-than-days 7

Steps (each optional, each crash-safe on its own — see the library
docstrings):

  1. **compact** when the manifest lists more than --compact-above
     files: restores the one-sorted-run layout appends degrade
     (``compact_clustered``), materializing pending MOR deletes and
     evolved columns along the way. On a day-partitioned table (the
     manifest records its day spec) the count is per day and each day
     over it compacts on its own — only recently appended days
     fragment;
  2. **expire** history: keep the newest --keep-last snapshots AND
     everything younger than --older-than-days (the age window wins —
     a table with heavy commit traffic still keeps its full time-travel
     window); tags and live branches anchor as always;
  3. **orphan sweep**: reclaim crash leftovers no snapshot references
     (``remove_orphan_files`` — disk only, never readable history).

Prints a one-line JSON report (files before/after, snapshots expired,
orphans removed, current ``.history`` tail) — the artifact a scheduler
(Airflow/cron) would log.  Safe to run concurrently with readers
(snapshot isolation) and serialized against writers by the table lock.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", type=str, required=True)
    ap.add_argument(
        "--compact-above", type=int, default=8,
        help="compact when the manifest lists more files than this "
        "(0 = always compact; negative = never)",
    )
    ap.add_argument("--compact-files", type=int, default=16)
    ap.add_argument("--keep-last", type=int, default=2)
    ap.add_argument(
        "--older-than-days", type=float, default=None,
        help="retain every snapshot younger than this many days "
        "regardless of --keep-last",
    )
    ap.add_argument("--master", type=str, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    # a caller's live session (a notebook, a test) is used as it is
    # and left running
    spark = SparkSession.getActiveSession()
    owned = spark is None
    if owned:
        b = SparkSession.builder.appName("table-maintenance")
        if args.master:
            b = b.master(args.master)
        spark = (
            b.config("spark.sql.shuffle.partitions", "16")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")

    from spatial4n_spark.io import clustered as C

    man0 = C.load_manifest(args.table)
    n_files0 = len(man0["files"])

    compacted = []
    if args.compact_above >= 0:
        if not man0.get("day_of"):
            if n_files0 > args.compact_above:
                C.compact_clustered(
                    spark, args.table, files=args.compact_files
                )
                compacted = ["*"]
        else:
            days: dict[str, int] = {}
            for e in man0["files"]:
                days[e["day"]] = days.get(e["day"], 0) + 1
            for day, n in sorted(days.items()):
                if n > args.compact_above:
                    # a day never compacts into MORE files than it has —
                    # the rewrite's point is one sorted run, fewer files
                    C.compact_clustered(
                        spark, args.table,
                        files=min(args.compact_files, n), day=day,
                    )
                    compacted.append(day)

    older_than = (
        time.time() - args.older_than_days * 86400.0
        if args.older_than_days is not None
        else None
    )
    exp = C.expire_snapshots(
        args.table, keep_last=args.keep_last, older_than=older_than
    )
    orphans = C.remove_orphan_files(args.table)
    hist = C._history_rows(args.table)[-3:]

    man1 = C.load_manifest(args.table)
    print(json.dumps({
        "table": args.table,
        "files_before": n_files0,
        "files_after": len(man1["files"]),
        "rows": int(sum(e["rows"] for e in man1["files"])),
        "compacted": compacted,
        "expired_snapshots": exp["expired_snapshots"],
        "orphans_removed": len(orphans["removed_files"]),
        "current_snapshot": int(man1["snapshot_id"]),
        "history_tail": hist,
    }))
    if owned:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
