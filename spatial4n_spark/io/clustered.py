"""Hilbert-range-clustered table layout — file-level spatial pruning
via an Iceberg-style stats manifest.

The third storage layout, completing the scan-pruning ladder (day
partitioning, below, is a property a table of this layout records, not
a fourth layout):

- ``io.tables.write_tiled``  — directory partitions (PartitionFilters).
  Coarse: at 10^12 rows a useful cell level explodes into millions of
  tiny partition directories (the small-files problem).
- ``io.tables.write_bucketed`` — hash buckets (shuffle-free joins).
  Removes the join Exchange but prunes nothing: a hash bucket mixes
  the whole world.
- ``write_clustered`` (this module) — rows SORTED by their fine S2
  Hilbert cell id before the write, plus a per-file min/max stats
  manifest read at planning time.  The Hilbert curve is the point: it
  maps 2-D locality to 1-D id locality, so any spatial cover becomes a
  handful of CONTIGUOUS int64 id ranges (prefix property: a level-lv
  cell's level-L descendants are exactly ``[id << 2(L-lv),
  (id+1) << 2(L-lv))``).  Pruning then happens twice, from one sort:

  1. **file level** — the manifest (the Iceberg manifest-file analog:
     per-data-file column bounds) is intersected with the query ranges
     on the driver; files whose [min,max] misses every range are never
     listed in the scan.  This is what Iceberg calls scan planning with
     column stats, reproduced on plain parquet.
  2. **row-group level** — the residual ``cell BETWEEN lo AND hi``
     disjunction is pushed to the parquet reader (PushedFilters), so
     kept files still skip row groups outside the ranges — for free,
     because the sort made row-group min/max tight.

Range widening (``max_ranges`` coalescing) only ever ADDS candidate
ids; every consumer applies the exact geometric predicate afterwards,
so pruning can be arbitrarily coarse without affecting results.

**Day partitioning** is a property of a table, recorded once in its
manifest (``write_clustered(..., day_of=ts)`` stores ``"day_of": ts``),
not a second table format — the Iceberg partition-spec analog of a
``day(ts)`` transform. A day table's rows land under
``_day=YYYY-MM-DD/`` directories, Hilbert-clustered within each day;
each manifest entry keeps its ``day`` and its manifest-relative
``file`` (``_day=YYYY-MM-DD/part-....parquet``), the one name every
reader, delete file and rewrite refers to. Both read executors return
the ``_day`` column from the entry's directory, a ``[t0, t1]`` window
prunes whole days before the cell ranges prune files (``_prune``), and
every lifecycle operation, reader and metadata table below serves flat
and day tables alike. A flat table's manifest carries no day key.

Reference parity note: the reference has no storage layer — this is
engine-side design the north rule asks for (Iceberg tables, partition/
shuffle/skew handled explicitly); the geometry refined against is the
same Spatial4n kernel semantics as every other path
(SpatialRelation.cs, ShapeCollection.cs).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from spatial4n_spark.cellindex import cell_backend
from spatial4n_spark.functions.native import haversine_km
from spatial4n_spark.kernels.distance import km_to_deg
from spatial4n_spark.kernels.polygon import Circle

CELL_COL = "cell_r"
DAY_COL = "_day"
MANIFEST = "_cluster_manifest.json"
LOCKFILE = "_cluster.lock"
SNAP_DIR = "_snapshots"
DELETE_DIR = "_deletes"
# a pending-delete set at or under this many positions rides a
# broadcast to the scan's anti-join; larger sets shuffle (both are one
# join — the threshold only picks the physical strategy)
BROADCAST_DELETE_ROWS = 2_000_000
_DFILE, _DPOS = "__s4n_file", "__s4n_pos"
# manifest rows (data files plus their applicable delete files) at or
# under which clustered_radius_query and clustered_knn_df read on the
# driver (``_read_files_local``) instead of running Spark scan jobs.
# Rows, not bytes: driver memory and the local relation's cost follow
# rows, while bytes on disk per row vary several-fold with how well the
# columns compress. Measured on 4 cores: probes win at every size up to
# 2.4M rows, but a radius returning every kept row costs about as much
# CPU as the Spark scan at 250k rows and twice as much at 600k (see
# ROADMAP direction 4). Also the most rows of a local-relation batch
# the driver writes itself (``_write_batch``): at 250k rows the driver
# writer took about two thirds of the Spark writer's CPU, at 1M about
# the same CPU and 1.7x its wall time, holding the batch as Python
# objects
_LOCAL_READ_ROWS = 250_000
# the default ``broadcast_cells`` of the clustered kNN surfaces
_BROADCAST_CELLS = 200_000


def lock_path(path: str) -> str:
    """Where ``table_lock`` puts its lockfile for a table directory —
    a SIBLING of the directory (``<path>.<LOCKFILE>``), see
    ``table_lock`` for why."""
    return os.path.abspath(path).rstrip(os.sep) + "." + LOCKFILE


@contextlib.contextmanager
def table_lock(path: str):
    """Single-writer mutual exclusion for manifest read-modify-write.

    Appends and compactions update the manifest as read + extend +
    commit; two concurrent writers would race that sequence, one
    append's entries would vanish from the manifest, and the next
    compaction's sweep would then delete the unlisted (but real) data
    files. This lock makes the single-writer invariant ENFORCED, not
    just documented: O_CREAT|O_EXCL is atomic on POSIX local/NFS
    filesystems, so exactly one writer holds the table at a time and a
    concurrent writer fails fast with a clear error instead of
    corrupting the manifest. (The Iceberg analog is the catalog's
    atomic snapshot CAS; on object stores you'd swap this for a
    conditional-PUT or a DynamoDB/catalog lock — the invariant is the
    same.) A crash while holding the lock leaves the lockfile behind;
    the error message names it so an operator can verify no writer is
    alive and remove it.

    The lockfile is a SIBLING of the table directory
    (``<path>.<LOCKFILE>``), not inside it: the overwrite writer
    (``write_clustered``) also holds this lock, and Spark's overwrite
    mode wipes the table directory — an in-dir
    lockfile would be deleted out from under its own holder, silently
    re-admitting concurrent writers mid-overwrite.
    """
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    lock = lock_path(path)
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"clustered table at {path} is locked by another writer "
            f"({lock} exists); tables are single-writer — serialize "
            "appends/compactions, or remove the stale lockfile if its "
            "writer crashed"
        ) from None
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(lock)


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def write_clustered(
    df: DataFrame,
    path: str,
    level: int = 14,
    lon: str = "lon",
    lat: str = "lat",
    files: int = 16,
    mode: str = "overwrite",
    day_of: str | None = None,
) -> None:
    """Write ``df`` range-clustered by its level-``level`` S2 cell id.

    ``repartitionByRange`` gives each output file a disjoint id range
    (range partitioner on the sort key), ``sortWithinPartitions`` makes
    every parquet row group's min/max tight inside the file, and the
    manifest records the per-file bounds for driver-side pruning.
    ``files`` plays the role executor count * target file size plays at
    design scale; the layout is identical either way.

    Overwrite-only: the initial-write manifest is rebuilt from a full
    directory listing, which under append would resurrect
    crash-orphaned files (rows a retried append already re-delivered)
    into the manifest — ``append_clustered`` is the append path,
    extending the PRIOR manifest by exactly the new files.

    Holds ``table_lock`` across the rewrite + manifest commit, like
    every other writer: an unlocked overwrite racing a concurrent
    append would delete the appender's files mid-commit and leave a
    manifest referencing dead paths.

    ``day_of`` names a timestamp column and makes this a DAY table:
    rows are partitioned into ``_day=YYYY-MM-DD`` directories by the
    column's wall-clock day and range-clustered within each day, and
    the manifest records the column once. Every later append, upsert,
    delete, compaction and streaming write reads it from there.
    """
    if mode != "overwrite":
        raise ValueError("write_clustered is overwrite-only; use append_clustered")
    if day_of is not None:
        _require_wallclock_ts(df, day_of)
        df = df.withColumn(DAY_COL, F.date_format(F.col(day_of), "yyyy-MM-dd"))
    be = cell_backend("s2")  # int64 Hilbert ids with the prefix property
    out = df.withColumn(CELL_COL, be.udf(level)(F.col(lat), F.col(lon)))
    with table_lock(path):
        new = _write_run(out, path, files, day_of is not None, mode=mode)
        _write_manifest(
            path, level, _file_stats(path, new),
            schema_json=_file_schema(out.schema).json(), inherit=False, day_of=day_of,
        )


def _require_wallclock_ts(df: DataFrame, ts: str) -> None:
    """Day partitions are derived with date_format and pruned with
    str(t0)[:10] — both WALL-CLOCK operations. For a tz-aware TIMESTAMP
    column date_format renders in the session timezone, so a reader in
    a different session timezone than the writer would silently drop
    boundary-day rows. Rather than let that happen, require a
    session-timezone-independent type: TIMESTAMP_NTZ, DATE, or string.
    Callers with instant timestamps pick the zone explicitly first,
    e.g. ``F.convert_timezone(F.lit('UTC'), ts).cast('timestamp_ntz')``.
    """
    from pyspark.sql.types import TimestampType

    if isinstance(df.schema[ts].dataType, TimestampType):
        raise ValueError(
            "a day-partitioned table requires a session-timezone-independent "
            f"{ts!r} column (TIMESTAMP_NTZ, DATE, or string); got tz-aware "
            "TIMESTAMP, whose day boundary depends on the session "
            "timezone — convert explicitly, e.g. "
            "to_utc_timestamp(ts, <zone>).cast('timestamp_ntz')"
        )


def _data_files(path: str) -> list[str]:
    """Manifest-relative names of every data file on disk: the table
    directory's parquet files and those of its ``_day=`` directories."""
    out = []
    for n in os.listdir(path):
        if n.endswith(".parquet"):
            out.append(n)
        elif n.startswith(DAY_COL + "="):
            out.extend(
                os.path.join(n, f) for f in os.listdir(os.path.join(path, n))
                if f.endswith(".parquet")
            )
    return sorted(out)


def _day_of(name: str) -> str:
    """The day of a day table's manifest-relative file name
    (``_day=<day>/<file>``)."""
    return name.split("=", 1)[1].split(os.sep, 1)[0]


def _file_schema(schema):
    """A written frame's schema as its data files hold it: without the
    day column, which lives in the directory name."""
    from pyspark.sql.types import StructType

    return StructType([f for f in schema.fields if f.name != DAY_COL])


def _write_run(df: DataFrame, path: str, files: int, day: bool, mode: str = "append") -> list[str]:
    """The Spark write of every clustered-table writer: ``df`` (with its
    cell column, and on a day table its day column) as at most
    ``files`` disjoint ranges of the sort key, sorted within, each a new
    data file. A day table sorts by (day, cell) and writes under
    ``_day=`` directories. Returns the new files' names, found by
    diffing the listing."""
    keys = [DAY_COL, CELL_COL] if day else [CELL_COL]
    pre = set(_data_files(path)) if mode == "append" else set()
    w = df.repartitionByRange(files, *[F.col(k) for k in keys]).sortWithinPartitions(*keys).write
    if day:
        w = w.partitionBy(DAY_COL)
    w.mode(mode).parquet(path)
    return [n for n in _data_files(path) if n not in pre]


def _write_batch(
    df: DataFrame,
    path: str,
    man: dict,
    level: int,
    lon: str,
    lat: str,
    files: int,
):
    """THE batch-write step of ``append_clustered`` and both
    ``upsert_clustered`` strategies (holds the caller's lock): encode
    the level-``level`` cell column, merge the batch schema into the
    manifest's (a type change raises before any file is written), write
    the batch as at most ``files`` new data files, each a disjoint
    range of cell ids sorted within, and read the new files' footer
    stats. Nothing is committed. Returns ``(entries, schema_json,
    tbl)``: the new manifest entries, the merged schema JSON and, when
    the driver wrote the batch, the batch as Arrow (else None).

    The driver writes the batch (``_local_batch``, ``_write_local``)
    when its optimized plan is a ``LocalRelation`` of at most
    ``_LOCAL_READ_ROWS`` rows, e.g. a frame built from pandas: its rows
    already live on the driver, so collecting them runs no Spark job,
    and its schema is derived (``_cell_schema``) without building the
    cell UDF column. Any other batch runs the Spark path:
    ``_write_run``. A day table's batch always runs the Spark path,
    which derives its ``_day`` from the manifest's ``day_of`` column
    with the expression ``write_clustered`` uses."""
    day_of = man.get("day_of")
    tbl = None if day_of else _local_batch(df, level, lon, lat)
    out = None
    if tbl is None:
        if day_of:
            _require_wallclock_ts(df, day_of)
            df = df.withColumn(DAY_COL, F.date_format(F.col(day_of), "yyyy-MM-dd"))
        out = df.withColumn(CELL_COL, cell_backend("s2").udf(level)(F.col(lat), F.col(lon)))
    out_schema = _cell_schema(df.schema) if out is None else _file_schema(out.schema)
    schema_json = _merge_schemas(_manifest_schema(man), out_schema)[0].json()
    if out is None:
        return _file_stats(path, _write_local(tbl, path, files)), schema_json, tbl
    return _file_stats(path, _write_run(out, path, files, bool(day_of))), schema_json, None


def _cell_schema(schema):
    """``schema`` as ``withColumn(CELL_COL, <cell UDF>)`` leaves it: the
    nullable long cell column replaces a column of that name (matched
    as Spark's default resolver matches, ignoring case) or comes
    last. Deriving it here spares the driver writer the UDF column."""
    from pyspark.sql.types import LongType, StructField, StructType

    cell = StructField(CELL_COL, LongType(), True)
    fields = [cell if f.name.lower() == CELL_COL else f for f in schema.fields]
    return StructType(fields if cell in fields else [*fields, cell])


def _local_batch(df: DataFrame, level: int, lon: str, lat: str):
    """The batch as one Arrow table under its ``_cell_schema`` (every
    field nullable), with the cell ids encoded on the driver by the
    same ``s2_encode`` call the cell UDF makes, NaN standing for a null
    coordinate as it does in the UDF's pandas input. None, for the
    Spark path, unless the batch's optimized plan is a
    ``LocalRelation`` (``Dataset.isLocal`` is false for a projection of
    one, though collecting it runs no job either) of at most
    ``_LOCAL_READ_ROWS`` rows whose columns are all flat types Arrow
    holds exactly: numbers, strings, binary, booleans, dates and
    timestamps. The rows are collected as they are, except that
    timestamps are collected as epoch microseconds (a collected
    ``Row`` holds them as naive local times)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from spatial4n_spark.kernels.s2cell import s2_encode

    plan = df._jdf.queryExecution().optimizedPlan()
    if (
        plan.getClass().getSimpleName() != "LocalRelation"
        or plan.data().size() > _LOCAL_READ_ROWS
    ):
        return None
    flat = (
        T.NumericType, T.StringType, T.BinaryType, T.BooleanType,
        T.DateType, T.TimestampType, T.TimestampNTZType,
    )
    out_schema = _cell_schema(df.schema)
    fields = [f for f in out_schema.fields if f.name != CELL_COL]
    names = [f.name for f in fields]
    if (
        lon not in names
        or lat not in names
        or not all(
            isinstance(f.dataType, flat) and not isinstance(f.dataType, T.DecimalType)
            for f in fields
        )
    ):
        return None
    schema = to_arrow_schema(
        T.StructType([T.StructField(f.name, f.dataType, True) for f in out_schema])
    )
    # select only to drop a cell column the batch carries (re-encoded
    # here) or to convert timestamps
    if len(fields) < len(df.columns) or any(
        isinstance(f.dataType, T.TimestampType) for f in fields
    ):

        def col(f):
            c = F.col("`" + f.name.replace("`", "``") + "`")
            return F.unix_micros(c) if isinstance(f.dataType, T.TimestampType) else c

        df = df.select(*[col(f) for f in fields])
    rows = df.collect()
    values = list(zip(*rows)) if rows else [()] * len(fields)
    arrays = {}
    for f, vals in zip(fields, values):
        t = schema.field(f.name).type
        if isinstance(f.dataType, T.TimestampType):
            arrays[f.name] = pa.array(vals, pa.int64()).cast(t)
        else:
            arrays[f.name] = pa.array(vals, t)

    def degrees(name):
        return pc.fill_null(arrays[name].cast(pa.float64()), np.nan).to_numpy()

    with np.errstate(invalid="ignore"):
        cell = s2_encode(degrees(lat), degrees(lon), level)
    arrays[CELL_COL] = pa.array(cell, pa.int64())
    return pa.Table.from_arrays([arrays[f.name] for f in schema], schema=schema)


def _range_bounds(cells, files: int) -> list[int]:
    """Upper bounds splitting sorted ``cells`` into at most ``files``
    contiguous runs of about equal rows, no cell id split across two
    runs: run ``j`` holds the ids in ``(bounds[j-1], bounds[j]]``.
    This is Spark's ``RangePartitioner.determineBounds`` over every row
    at weight 1 (what ``repartitionByRange`` computes when its sample
    holds the whole batch): walk the cumulative row count, cut at each
    multiple of rows/parts, and skip a cut whose id equals the last."""
    import numpy as np

    n = len(cells)
    parts = min(files, n)
    step = target = n / max(parts, 1)
    bounds: list[int] = []
    i = 0
    while i < n and len(bounds) < parts - 1:
        i = max(i, math.ceil(target) - 1)
        if bounds:
            i = max(i, int(np.searchsorted(cells, bounds[-1], side="right")))
        if i >= n:
            break
        bounds.append(int(cells[i]))
        target += step
        i += 1
    return bounds


def _write_parquet(tbl, full: str) -> None:
    """Write ``tbl`` as one parquet file and fsync it, so the file is
    durable before the manifest commit that makes it visible."""
    import pyarrow.parquet as pq

    pq.write_table(tbl, full, compression="snappy")
    fd = os.open(full, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _write_local(tbl, path: str, files: int) -> list[str]:
    """The driver's write of a ``_local_batch`` table: stable-sort the
    rows by cell id, cut them into at most ``files`` runs at
    ``_range_bounds`` and write each run as a new data file named as
    Spark names its part files. Returns the new file names."""
    import uuid

    import numpy as np

    cells = tbl[CELL_COL].to_numpy()
    order = np.argsort(cells, kind="stable")
    tbl, cells = tbl.take(order), cells[order]
    cuts = np.searchsorted(cells, _range_bounds(cells, files), side="right")
    edges = [0, *cuts.tolist(), len(cells)]
    tag = uuid.uuid4()
    names = []
    for part, (a, b) in enumerate(zip(edges, edges[1:])):
        if b > a:
            names.append(f"part-{part:05d}-{tag}-c000.snappy.parquet")
            _write_parquet(tbl.slice(a, b - a), os.path.join(path, names[-1]))
    return names


def _file_stats(path: str, names: list[str]) -> list[dict]:
    """Per-file [min,max] of the cell column from the parquet footers —
    the Iceberg manifest-entry analog."""
    import pyarrow.parquet as pq

    entries = []
    for name in sorted(names):
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        # per-column [min,max] from the footers for every JSON-storable
        # leaf (the Iceberg column-stats analog): `min`/`max` stay the
        # CELL_COL bounds (the primary prune axis), `cols` carries the
        # rest for secondary pruning (e.g. key ranges in upsert)
        cols: dict = {}
        for idx, cname in enumerate(names):
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:  # empty file part
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is None or not isinstance(lo, (int, float, str)):
                continue  # no stats, or a type JSON can't carry faithfully
            if isinstance(lo, float) and not (
                lo == lo and hi == hi  # NaN bounds are not bounds
            ):
                continue
            cols[cname] = [lo, hi]
        if CELL_COL not in cols:
            continue  # file with no rows carries no bounds and never matches
        clo, chi = cols.pop(CELL_COL)
        entries.append(
            {
                "file": name,
                "min": int(clo),
                "max": int(chi),
                "rows": md.num_rows,
                "cols": cols,
            }
        )
        if name.startswith(DAY_COL + "="):  # a day table's file
            entries[-1]["day"] = _day_of(name)
    return entries


def _col_range_keep(e: dict, col: str, lo, hi) -> bool:
    """May this manifest entry hold rows with ``col`` in [lo, hi]? The
    one file-overlap test of every manifest pruner (the cell column's
    bounds are the entry's ``min``/``max``). Sound by construction:
    entries without stats for the column (a type the manifest cannot
    carry) are always kept."""
    rng = [e["min"], e["max"]] if col == CELL_COL else e["cols"].get(col)
    if rng is None:
        return True
    return not (hi < rng[0] or lo > rng[1])


def _snap_file(path: str, snapshot_id: int) -> str:
    return os.path.join(path, SNAP_DIR, f"snap-{int(snapshot_id):05d}.json")


def _write_manifest(
    path: str,
    level: int,
    entries: list[dict],
    operation: str = "overwrite",
    extra_summary: dict | None = None,
    schema_json: str | None = None,
    deletes: list[dict] | None = None,
    branch: str | None = None,
    inherit: bool = True,
    day_of: str | None = None,
) -> dict:
    """Snapshot-versioned manifest commit — the Iceberg snapshot analog.

    The manifest is the table's source of truth: readers (and
    compaction's sweep) touch ONLY files it lists, so a data file not
    yet (or no longer) in the current manifest is invisible, never a
    correctness hazard.  Every commit additionally lands an IMMUTABLE
    copy of the new manifest under ``_snapshots/snap-<id>.json``, so the
    table carries its own lineage: ``load_manifest(path, snapshot_id=N)``
    time-travels any reader to state N, ``rollback_clustered`` restores
    it, and ``snapshots``/``snapshot_log_df`` expose the per-commit
    operation + file/row metrics (the Iceberg snapshot-log / metrics-
    table analog).

    Commit ordering (each step an atomic write):

    1. write the new snapshot file;
    2. ``os.replace`` the current-manifest pointer (the cut-over,
       ``_cut_over``).

    A crash between 1 and 2 leaves a dangling snapshot at id N: the
    table still reads as its parent, and the NEXT commit reuses id N,
    overwriting the dangling file.  Until then sweeps retain the files
    it references — bounded waste, never damage.

    With ``branch`` set (the Iceberg branch-write / WAP-staging analog,
    see ``create_branch``), the commit's base is the BRANCH HEAD, step 2
    updates the branch ref instead of the current-manifest pointer, and
    the main table is untouched — staged state is invisible to every
    reader that doesn't name the branch until ``fast_forward_clustered``
    publishes it.  Snapshot ids are allocated globally (1 + the max over
    the main head and every branch head), so lineages interleaving in
    one ``_snapshots`` never collide; the dangling-reuse contract is
    preserved because a crashed commit's id is exactly the next global
    allocation until some commit lands.

    The table metadata — the schema and the day partition spec
    (``day_of``) — is inherited from the parent unless ``inherit`` is
    False: the initial write and a rollback pass their own.
    """
    main = None
    with contextlib.suppress(FileNotFoundError):
        main = _load(path)
    refs = _load_refs(path)
    if branch is not None:
        r = refs.get(branch)
        if r is None or r["type"] != "branch":
            kinds = {k: v["type"] for k, v in refs.items()}
            raise ValueError(
                f"cannot commit to {branch!r} on {path}: not a branch "
                f"(known refs: {kinds})"
            )
        cur = _load(path, int(r["snapshot_id"]))
    else:
        cur = main
    parent = cur["snapshot_id"] if cur is not None else None
    os.makedirs(os.path.join(path, SNAP_DIR), exist_ok=True)
    heads = [main["snapshot_id"]] if main is not None else [0]
    # every ref counts toward the allocation max, tags included: a tag
    # may legally pin a branch-lineage snapshot ABOVE all heads (it was
    # live when pinned), and after drop_branch that id must never be
    # reallocated — reuse would overwrite the tag-anchored snap-N.json
    # and silently repoint the tag at unrelated data.
    heads += [int(r2["snapshot_id"]) for r2 in refs.values()]
    sid = max([parent or 0] + heads) + 1
    prev_files = {e["file"] for e in cur["files"]} if cur is not None else set()
    new_files = {e["file"] for e in entries}
    # the table schema rides in the manifest (Iceberg metadata analog):
    # empty-result reads and all-zero-row tables need no data file on
    # disk to answer with the right columns. Commits that don't supply
    # one (append/compact) inherit the parent's; rollback restores the
    # TARGET snapshot's schema verbatim (inherit=False), since the
    # current one may describe a later overwrite's shape. The day spec
    # follows the same rule.
    if inherit and cur is not None:
        if schema_json is None:
            schema_json = cur["schema"]
        day_of = cur.get("day_of")
    # pending merge-on-read delete files ride the manifest like data
    # files do.  Commits that don't pass a list inherit the parent's;
    # either way each entry's targets are PRUNED to files this commit
    # still lists — a rewritten/compacted file gets a new name, so its
    # pending deletes (already applied by the rewrite's delete-aware
    # scan) fall away here, and a full replace empties the list.
    if deletes is None and cur is not None:
        deletes = cur["deletes"]
    pruned_dels = []
    for d in deletes or []:
        targets = [t for t in d["targets"] if t in new_files]
        if targets:
            pruned_dels.append({**d, "targets": targets})
    man = {
        "cell_col": CELL_COL,
        "index": "s2",
        "level": level,
        **({"day_of": day_of} if day_of else {}),
        "schema": schema_json,
        "files": entries,
        "deletes": pruned_dels,
        "snapshot_id": sid,
        "parent_id": parent,
        "operation": operation,
        "committed_at": time.time(),
        "summary": {
            "n_files": len(entries),
            "n_rows": int(sum(e["rows"] for e in entries)),
            "added_files": len(new_files - prev_files),
            "removed_files": len(prev_files - new_files),
            "pending_delete_files": len(pruned_dels),
            "pending_delete_rows": int(
                sum(int(d["rows"]) for d in pruned_dels)
            ),
            **(extra_summary or {}),
        },
    }
    _atomic_json_write(_snap_file(path, sid), man)
    if branch is not None:
        # the branch's cut-over: advance the ref, never the manifest —
        # a crash before this line leaves a dangling snapshot exactly
        # like a crashed main commit (id reused next time)
        refs = _load_refs(path)
        refs[branch] = {"type": "branch", "snapshot_id": sid}
        _write_refs(path, refs)
    else:
        _cut_over(path, main, man, operation)
    return man


HISTORY_FILE = "history.jsonl"


def _cut_over(path: str, main: dict | None, man: dict, event: str) -> None:
    """Make ``man`` the main table's state (under the caller's table
    lock): ``os.replace`` the current-manifest pointer, then append the
    ``event`` line to the history log — one line per MADE-CURRENT event
    (the Iceberg ``.history`` table's unit): ordinary commits,
    rollbacks and fast-forward publishes all change which snapshot the
    main table reads as, and the log records WHEN, distinct from each
    snapshot's own committed_at (a published branch head became current
    long after it was committed).

    A crash between the cut-over and the history line loses that line,
    never table state; the next cut-over repairs it first: when the
    log's last line does not name ``main``, the superseded head, the
    head's line is appended with the manifest file's mtime (its
    cut-over time) as ``made_current_at`` and the head's own operation
    as its event."""
    mpath = os.path.join(path, MANIFEST)
    if main is not None:
        logged = _history_lines(path)
        if not logged or logged[-1]["snapshot_id"] != main["snapshot_id"]:
            _append_history(path, main["snapshot_id"], main["operation"], os.path.getmtime(mpath))
    _atomic_json_write(mpath, man)
    _append_history(path, man["snapshot_id"], event, time.time())


def _append_history(path: str, sid: int, event: str, at: float) -> None:
    line = json.dumps({"made_current_at": at, "snapshot_id": int(sid), "event": str(event)})
    with open(os.path.join(path, SNAP_DIR, HISTORY_FILE), "a") as f:
        f.write(line + "\n")


def _history_lines(path: str) -> list[dict]:
    """The history log's lines in file order (none before the first
    logged event)."""
    with contextlib.suppress(FileNotFoundError):
        with open(os.path.join(path, SNAP_DIR, HISTORY_FILE)) as f:
            return [json.loads(ln) for ln in f if ln.strip()]
    return []


def _history_rows(path: str) -> list[dict]:
    rows = sorted(_history_lines(path), key=lambda r: (r["made_current_at"], r["snapshot_id"]))
    chain = {m["snapshot_id"] for m in _history_chain(path)}
    for r in rows:
        r["is_current_ancestor"] = r["snapshot_id"] in chain
    return rows


def history_df(spark: SparkSession, path: str) -> DataFrame:
    """The Iceberg ``.history`` metadata-table analog: every event that
    changed which snapshot the MAIN table reads as (commit, rollback,
    fast-forward publish), with when it became current and whether it is
    still reachable from the current state (false = expired out of the
    chain; note rollback here commits the target as NEW lineage, so a
    rolled-past commit remains an ancestor until expired — unlike
    Iceberg's pointer reset)."""
    return spark.createDataFrame(
        [
            (
                float(r["made_current_at"]),
                int(r["snapshot_id"]),
                str(r["event"]),
                bool(r["is_current_ancestor"]),
            )
            for r in _history_rows(path)
        ],
        "made_current_at double, snapshot_id int, event string, "
        "is_current_ancestor boolean",
    )


def _atomic_json_write(target: str, obj: dict) -> None:
    """Genuinely atomic commit: write a temp file in the SAME directory
    (so the rename can't cross filesystems), fsync, then os.replace()
    over the target. A crash at any point leaves either the old
    manifest or the new one — never a truncated half-write, which a
    plain open('w') + dump would produce and which corrupts the table's
    source of truth for every reader and for compaction's sweep."""
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, target)


# parsed-manifest cache: keyed by the manifest file's identity
# (path, mtime_ns, size) — os.replace() commits give every new manifest
# a fresh identity, so stale entries can't be served; bounded FIFO so a
# long-lived process scanning many tables can't grow without bound.
_MANIFEST_CACHE: dict = {}
_MANIFEST_CACHE_CAP = 64

# the keys every manifest and snapshot file carries; only ``parent_id``
# may be null (a table's first snapshot)
MANIFEST_KEYS = (
    "level", "files", "deletes", "schema", "snapshot_id", "parent_id",
    "operation", "committed_at", "summary",
)


def _format_error(what: str, key: str) -> ValueError:
    return ValueError(
        f"{what} has no {key!r}: not the clustered-table format this "
        "engine reads; rewrite the table with write_clustered"
    )


def _read_manifest_file(fpath: str) -> dict:
    """Parse one manifest or snapshot file and check its format: every
    ``MANIFEST_KEYS`` key present (``schema`` set) and every pending
    delete file's ``kind`` named. Raises ``_format_error`` for the
    first key missing."""
    with open(fpath) as f:
        man = json.load(f)
    for k in MANIFEST_KEYS:
        if k not in man or (man[k] is None and k != "parent_id"):
            raise _format_error(fpath, k)
    for d in man["deletes"]:
        if "kind" not in d:
            raise _format_error(f"delete file {d['file']} of {fpath}", "kind")
    return man


def _load(path: str, snapshot_id: int | str | None = None) -> dict:
    """``load_manifest`` without ``as_of``: the lookup the table's own
    commit, ref and history machinery makes. Readers and writers call
    ``load_manifest`` itself, once per call, so a wrap of that module
    attribute (``perfbench``'s ``io.clustered.manifest`` span) counts
    their manifest reads and not the bookkeeping's. Every file it
    parses passes ``_read_manifest_file``'s format check; a cached
    manifest is not checked again."""
    mpath = os.path.join(path, MANIFEST)
    st = os.stat(mpath)  # FileNotFoundError propagates, as before
    ck = (os.path.abspath(mpath), st.st_mtime_ns, st.st_size)
    cur = _MANIFEST_CACHE.get(ck)
    if cur is None:
        cur = _read_manifest_file(mpath)
        if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_CAP:
            _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
        _MANIFEST_CACHE[ck] = cur
    if snapshot_id is None:
        return cur
    if isinstance(snapshot_id, str) and not snapshot_id.lstrip("-").isdigit():
        # a named ref (tag or branch): resolve to its pinned/head id
        refs = _load_refs(path)
        if snapshot_id not in refs:
            raise ValueError(
                f"unknown ref {snapshot_id!r} on {path}; "
                f"known refs: {sorted(refs)}"
            )
        snapshot_id = refs[snapshot_id]["snapshot_id"]
    sid = int(snapshot_id)
    if cur["snapshot_id"] == sid:
        return cur
    try:
        return _read_manifest_file(_snap_file(path, sid))
    except FileNotFoundError:
        known = [s["snapshot_id"] for s in snapshots(path)]
        raise ValueError(
            f"snapshot {sid} of {path} does not exist or was expired; "
            f"available snapshots: {known}"
        ) from None


def load_manifest(
    path: str,
    snapshot_id: int | str | None = None,
    as_of: float | None = None,
) -> dict:
    """Current manifest, or — with ``snapshot_id`` — the immutable
    manifest of that snapshot (time travel).  A non-numeric string is
    resolved as a ref name — a tag's pinned snapshot or a branch's head
    (see ``create_tag`` / ``create_branch``); every reader that
    forwards ``snapshot_id`` here accepts any of these forms.
    ``as_of`` (a unix timestamp, exclusive with ``snapshot_id``) travels
    to the snapshot that was current AT that time — the Iceberg
    ``FOR SYSTEM_TIME AS OF`` analog (see ``snapshot_as_of``).
    Unknown/expired ids and unknown refs raise ValueError naming the
    surviving range."""
    if as_of is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id or as_of, not both")
        snapshot_id = snapshot_as_of(path, as_of)
    return _load(path, snapshot_id)


def snapshot_as_of(path: str, ts: float) -> int:
    """Resolve a unix timestamp to the snapshot id current at that time
    (the Iceberg timestamp-travel analog).  Pass the result as
    ``snapshot_id=`` to any reader: ``clustered_radius_query(spark, t,
    ..., snapshot_id=snapshot_as_of(t, ts))`` — or use
    ``load_manifest(path, as_of=ts)`` directly.

    The answer is the newest MAIN-history MADE-CURRENT event with
    ``made_current_at`` ≤ ts (the Iceberg snapshot-log semantics).
    Made-current time, not ``committed_at``: a branch commit staged at
    t1 and published by ``fast_forward_clustered`` at t2 was NOT the
    table's state in (t1, t2) — readers at that time saw the
    pre-publish main head — so resolving by commit time would rewrite
    observable history.  Raises if ts precedes
    the earliest retained state, or if the state current at ts has
    since been expired."""
    ts = float(ts)
    rows = _history_rows(path)
    best = None
    for r in rows:
        if r["made_current_at"] <= ts:
            best = r
    if best is None:
        first = rows[0] if rows else {"snapshot_id": "?", "made_current_at": None}
        raise ValueError(
            f"no snapshot of {path} existed at {ts}: the earliest "
            f"recorded state {first['snapshot_id']} became current at "
            f"{first['made_current_at']} (earlier history was expired "
            "or the table is younger than ts)"
        )
    sid = best["snapshot_id"]
    if sid != _load(path)["snapshot_id"] and not os.path.exists(
        _snap_file(path, sid)
    ):
        raise ValueError(
            f"the state of {path} at {ts} (snapshot {sid}) has been "
            "expired; only retained snapshots are time-travelable "
            "(same failure mode as Iceberg)"
        )
    return sid


def _history_chain(path: str, head: int | str | None = None) -> list[dict]:
    """The snapshot MANIFESTS reachable from ``head`` (default: the
    current manifest) by following parent pointers, oldest first.

    This walk — not an id scan — is what defines a lineage's history:
    with branches, snapshot ids from different lineages interleave in
    one ``_snapshots``, so "id ≤ head" would claim another branch's
    commits.  The walk stops where a parent's snapshot file is missing
    (expired history): lineage truncates where history does.  Dangling
    snapshots (a crashed commit's file, unreachable from any head) are
    excluded naturally.
    """
    cur = _load(path, head)
    out = [cur]
    seen = {cur["snapshot_id"]}
    parent = cur["parent_id"]
    while parent is not None and parent not in seen:
        try:
            m = _read_manifest_file(_snap_file(path, parent))
        except FileNotFoundError:
            break
        out.append(m)
        seen.add(parent)
        parent = m["parent_id"]
    out.reverse()
    return out


def snapshots(path: str) -> list[dict]:
    """The table's snapshot log (lineage), oldest first: one dict per
    committed snapshot with id, parent, operation, commit time, and the
    file/row summary.  Dangling snapshots (a crash between the snapshot
    write and the manifest cut-over — ids above the current manifest's)
    are not part of table history and are excluded."""
    mans = _history_chain(path)
    # tag-anchored snapshots survive expire even when the chain between
    # them and the head was reclaimed (a gap the walk can't cross) —
    # they are still readable history, so list them.
    have = {m["snapshot_id"] for m in mans}
    for r in _load_refs(path).values():
        sid = r["snapshot_id"]
        if r["type"] == "tag" and sid not in have:
            with contextlib.suppress(FileNotFoundError):
                mans.append(_read_manifest_file(_snap_file(path, sid)))
                have.add(sid)
    return sorted(
        (
            {k: m[k] for k in ("snapshot_id", "parent_id", "operation", "committed_at", "summary")}
            for m in mans
        ),
        key=lambda s: s["snapshot_id"],
    )


def snapshot_log_df(spark: SparkSession, path: str) -> DataFrame:
    """The snapshot log as a DataFrame — the queryable metrics/lineage
    table the north rule asks checkpointed pipelines to carry."""
    rows = [
        (
            s["snapshot_id"],
            s["parent_id"],
            s["operation"],
            float(s["committed_at"]),
            *(int(s["summary"][k]) for k in ("n_files", "n_rows", "added_files", "removed_files")),
        )
        for s in snapshots(path)
    ]
    return spark.createDataFrame(
        rows,
        "snapshot_id int, parent_id int, operation string, committed_at double, "
        "n_files int, n_rows bigint, added_files int, removed_files int",
    )


# --- named refs (tags + branches) -------------------------------------
#
# The Iceberg refs analog, stored beside the snapshot files
# (``_snapshots/refs.json``, atomic commits under the table lock):
#
# - a TAG is a named, immutable pointer to a snapshot id.  Every reader
#   that takes ``snapshot_id`` also accepts a ref NAME (resolved in
#   ``load_manifest``), and ``expire_snapshots`` retains tagged
#   snapshots — and the data files they reference — regardless of
#   ``keep_last``, so a tag is a retention anchor ("audit-2026Q3") as
#   well as a readable name.
# - a BRANCH is a named, WRITABLE head: ``append_clustered`` /
#   ``delete_clustered`` / ``upsert_clustered`` with ``branch=`` commit
#   against it (new snapshots whose parent chain forks from where the
#   branch was created) without moving the main table, readers audit it
#   by name (``snapshot_id="staging"``), and
#   ``fast_forward_clustered`` publishes it — the Iceberg
#   write-audit-publish (WAP) flow.  Lineages share one id sequence
#   (globally allocated in ``_write_manifest``) and one directory;
#   expire retains every snapshot a branch can reach, so drop stale
#   branches to release history.  Merging diverged lineages is out of
#   scope (fast-forward requires main to be an ancestor of the branch
#   head); ``rollback_clustered`` covers the fork-back use case.

REFS_FILE = "refs.json"


def _load_refs(path: str) -> dict[str, dict]:
    """The refs: ``{name: {"type": "tag"|"branch", "snapshot_id": N}}``,
    each checked for both keys (a missing one raises
    ``_format_error``)."""
    fpath = os.path.join(path, SNAP_DIR, REFS_FILE)
    try:
        with open(fpath) as f:
            refs = json.load(f)
    except FileNotFoundError:
        return {}
    for name, r in refs.items():
        for k in ("type", "snapshot_id"):
            if not isinstance(r, dict) or k not in r:
                raise _format_error(f"ref {name!r} of {fpath}", k)
    return refs


def _write_refs(path: str, refs: dict[str, dict]) -> None:
    """Atomic refs commit."""
    os.makedirs(os.path.join(path, SNAP_DIR), exist_ok=True)
    _atomic_json_write(os.path.join(path, SNAP_DIR, REFS_FILE), refs)


def _live_ids(path: str) -> set[int]:
    """Every snapshot id that is readable history: the main chain, each
    branch's chain, and tag-pinned snapshots.  A dangling snapshot file
    (crashed commit, unreachable from any head) is NOT here — its id
    will be reused by the next commit, so nothing may pin it."""
    ids = {s["snapshot_id"] for s in snapshots(path)}
    for r in _load_refs(path).values():
        if r["type"] == "branch":
            ids.update(m["snapshot_id"] for m in _history_chain(path, r["snapshot_id"]))
    return ids


def _set_ref(path: str, name: str, snapshot_id: int | None, ref_type: str) -> int:
    """Pin ref ``name`` of kind ``ref_type`` at ``snapshot_id`` (default:
    the current one): the one body of ``create_tag`` and
    ``create_branch``."""
    name = str(name)
    if not name or name.lstrip("-").isdigit():
        raise ValueError(
            f"invalid ref name {name!r}: must be non-empty and not "
            "purely numeric (numeric strings read as snapshot ids)"
        )
    with table_lock(path):
        cid = _load(path)["snapshot_id"]
        if snapshot_id is None:
            snapshot_id = cid
        else:
            # must name an existing (retained, reachable) snapshot — a
            # dangling snapshot file from a crashed commit is not
            # history and its id will be reused by the next commit
            live = _live_ids(path)
            if int(snapshot_id) not in live:
                raise ValueError(
                    f"snapshot {int(snapshot_id)} of {path} does not exist "
                    f"(current is {cid}); available snapshots: "
                    f"{sorted(live)}"
                )
        refs = _load_refs(path)
        old = refs.get(name)
        if old is not None and old["type"] != ref_type:
            raise ValueError(
                f"ref {name!r} on {path} is a {old['type']}, not a "
                f"{ref_type}; drop it first to reuse the name"
            )
        refs[name] = {"type": ref_type, "snapshot_id": int(snapshot_id)}
        _write_refs(path, refs)
        return int(snapshot_id)


def create_tag(path: str, name: str, snapshot_id: int | None = None) -> int:
    """Tag a snapshot (default: the current one) with ``name``.  The tag
    is readable everywhere ``snapshot_id`` is (``load_manifest(path,
    "name")``, every query surface) and anchors the snapshot — and the
    files it references — against ``expire_snapshots`` until dropped.
    Returns the pinned snapshot id."""
    return _set_ref(path, name, snapshot_id, "tag")


def drop_tag(path: str, name: str) -> int:
    """Remove a tag; its snapshot becomes expirable again.  Returns the
    snapshot id the tag pointed at."""
    with table_lock(path):
        refs = _load_refs(path)
        if name not in refs:
            raise ValueError(
                f"unknown ref {name!r} on {path}; known refs: {sorted(refs)}"
            )
        sid = int(refs.pop(name)["snapshot_id"])
        _write_refs(path, refs)
        return sid


def table_refs(path: str) -> dict[str, int]:
    """All named refs on the table: ``{name: snapshot_id}`` (a branch
    reports its current head; see ``refs_df`` for types)."""
    return {k: int(v["snapshot_id"]) for k, v in _load_refs(path).items()}


def refs_df(spark: SparkSession, path: str) -> DataFrame:
    """The refs as a DataFrame — the Iceberg ``.refs`` metadata-table
    analog: tags (immutable pins) and branches (writable heads)."""
    rows = [
        (k, int(v["snapshot_id"]), v["type"])
        for k, v in sorted(_load_refs(path).items())
    ]
    return spark.createDataFrame(
        rows, "name string, snapshot_id int, type string"
    )


def create_branch(path: str, name: str, snapshot_id: int | None = None) -> int:
    """Create a writable branch at ``snapshot_id`` (default: the current
    head) — the Iceberg branch / WAP-staging analog.  Commits with
    ``branch=name`` advance only this ref; readers audit the staged
    state with ``snapshot_id=name`` on any query surface; and
    ``fast_forward_clustered(path, name)`` publishes it to the main
    table.  While the branch exists, every snapshot it can reach — and
    the data files they list — survives ``expire_snapshots``.  Returns
    the snapshot id the branch starts at."""
    return _set_ref(path, name, snapshot_id, "branch")


def drop_branch(path: str, name: str) -> int:
    """Remove a branch; its unpublished commits become dangling history
    (reclaimed by ``expire_snapshots``).  Returns the head it was at."""
    if _load_refs(path).get(name, {}).get("type") == "tag":
        raise ValueError(f"ref {name!r} on {path} is a tag; use drop_tag")
    return drop_tag(path, name)


def fast_forward_clustered(path: str, name: str) -> dict:
    """Publish a branch: fast-forward the main table to the branch head
    (the Iceberg fast-forward / WAP publish analog).

    Requires the main head to be an ANCESTOR of the branch head — i.e.
    nothing was committed to main since the branch forked; otherwise the
    lineages diverged and this raises (merging is out of scope — rebase
    by re-staging on a fresh branch).  The publish itself is one atomic
    manifest cut-over to the branch head's already-committed snapshot:
    every staged commit becomes main history in one step, and readers
    switch from the pre-publish state to the published one atomically.
    The branch ref is left pointing at the (now published) head; drop it
    when done.  Returns ``{"published": head, "from": old_main_head}``.
    A no-op (branch head == main head) returns the same shape."""
    with table_lock(path):
        refs = _load_refs(path)
        r = refs.get(name)
        if r is None or r["type"] != "branch":
            kinds = {k: v["type"] for k, v in refs.items()}
            raise ValueError(
                f"cannot fast-forward to {name!r} on {path}: not a "
                f"branch (known refs: {kinds})"
            )
        head = r["snapshot_id"]
        target = _load(path, head)
        main = _load(path)
        mid = main["snapshot_id"]
        if head == mid:
            return {"published": head, "from": mid}
        if mid not in {m["snapshot_id"] for m in _history_chain(path, head)}:
            raise ValueError(
                f"cannot fast-forward {path} to branch {name!r} "
                f"(head {head}): main advanced to snapshot {mid}, which "
                "is not an ancestor of the branch head — the lineages "
                "diverged (re-stage on a fresh branch to publish)"
            )
        _cut_over(path, main, target, f"fast-forward:{name}")
        return {"published": head, "from": mid}


def cherry_pick_clustered(path: str, snapshot_id: int | str) -> dict:
    """Re-apply ONE append-only commit from a diverged lineage onto the
    main head — the Iceberg cherry-pick analog, and the release valve
    for the one WAP flow ``fast_forward_clustered`` refuses (main
    advanced after the branch forked, so the lineages diverged).

    Only APPEND commits are eligible: the target snapshot must add data
    files relative to ITS OWN parent and remove none, and must
    introduce no new pending (merge-on-read) deletes — row-replacing
    operations (overwrite/compact/delete/upsert/rollback) depend on the
    exact file set they replaced, which main no longer has, so
    re-applying them would silently drop or resurrect rows; they raise
    instead.  The added files are committed onto main as a FRESH
    snapshot (new id, parent = main head, operation
    ``cherry-pick:<sid>``); the files themselves are shared, not
    copied (same directory, both lineages reference them).  Schemas
    merge under the add-column evolution rules.

    ``snapshot_id`` may be an id or a ref name (e.g. a diverged
    branch's head).  Returns the new main manifest."""
    with table_lock(path):
        target = _load(path, snapshot_id)
        sid = target["snapshot_id"]
        if target["parent_id"] is None:
            raise ValueError(
                f"cannot cherry-pick snapshot {sid} of {path}: it has no "
                "parent (an initial overwrite is not an append)"
            )
        try:
            parent = _load(path, int(target["parent_id"]))
        except ValueError:
            raise ValueError(
                f"cannot cherry-pick snapshot {sid} of {path}: its parent "
                f"{target['parent_id']} was expired, so the commit's own "
                "added-file set can no longer be certified"
            )
        pfiles = {e["file"] for e in parent["files"]}
        tfiles = {e["file"] for e in target["files"]}
        removed = pfiles - tfiles
        if removed:
            raise ValueError(
                f"cannot cherry-pick snapshot {sid} of {path}: it removed "
                f"{len(removed)} file(s) relative to its parent — only "
                "append-only commits can be re-applied onto a diverged "
                "main (row-replacing ops depend on the replaced file set)"
            )
        pdel = {(d["file"], tuple(d["targets"])) for d in parent["deletes"]}
        newdel = [d for d in target["deletes"] if (d["file"], tuple(d["targets"])) not in pdel]
        if newdel:
            raise ValueError(
                f"cannot cherry-pick snapshot {sid} of {path}: it "
                f"introduced {len(newdel)} pending delete file(s) — "
                "merge-on-read deletes are row-replacing"
            )
        added = [e for e in target["files"] if e["file"] not in pfiles]
        if not added:
            raise ValueError(
                f"cannot cherry-pick snapshot {sid} of {path}: it added "
                "no files (nothing to re-apply)"
            )
        main = _load(path)
        dup = {e["file"] for e in main["files"]} & {e["file"] for e in added}
        if dup:
            raise ValueError(
                f"cannot cherry-pick snapshot {sid} of {path}: main "
                f"already references {sorted(dup)[:3]} (was this commit "
                "already published or picked?)"
            )
        merged, _ = _merge_schemas(_manifest_schema(main), _manifest_schema(target))
        return _write_manifest(
            path,
            int(main["level"]),
            main["files"] + added,
            operation=f"cherry-pick:{sid}",
            schema_json=merged.json(),
            extra_summary={"cherry_picked_from": sid},
        )


def _added_map(path: str, upto: int | str | None = None) -> dict[str, int]:
    """``file -> snapshot id that FIRST listed it`` — per-file lineage,
    walked oldest-first over the retained snapshot files (the Iceberg
    ``added_snapshot_id`` analog).  After ``expire_snapshots`` the walk
    starts at the earliest retained snapshot, so a file added before
    that reports the earliest snapshot that still references it —
    lineage truncates where history does, it never invents ids.

    ``upto`` names the lineage HEAD to walk from (a snapshot id or ref
    name) — the chain walk, not an id filter, keeps another branch's
    interleaved commits out of this lineage's answer."""
    added: dict[str, int] = {}
    for m in _history_chain(path, upto):
        for e in m["files"]:
            added.setdefault(e["file"], m["snapshot_id"])
    return added


def _sweep(path: str) -> tuple[list[str], list[str]]:
    """Delete every data file and every MOR delete file (``_deletes/``)
    that neither the current manifest nor ANY snapshot file on disk
    references (dangling ones included — retaining is always safe):
    crash orphans and expired history. Returns the removed names (data
    files, delete files). Runs under the caller's table lock."""
    import shutil

    mans = [_load(path)]
    sd = os.path.join(path, SNAP_DIR)
    if os.path.isdir(sd):
        for n in os.listdir(sd):
            if n.startswith("snap-") and n.endswith(".json"):
                mans.append(_read_manifest_file(os.path.join(sd, n)))
    ref = {e["file"] for m in mans for e in m["files"]}
    ref_dels = {d["file"] for m in mans for d in m["deletes"]}
    removed = [n for n in _data_files(path) if n not in ref]
    for n in removed:
        os.remove(os.path.join(path, n))
    dd = os.path.join(path, DELETE_DIR)
    removed_dels = []
    for n in os.listdir(dd) if os.path.isdir(dd) else []:
        rel = os.path.join(DELETE_DIR, n)
        if rel not in ref_dels:
            shutil.rmtree(os.path.join(dd, n), ignore_errors=True)
            removed_dels.append(rel)
    return removed, removed_dels


def remove_orphan_files(path: str) -> dict:
    """Standalone maintenance sweep (the Iceberg remove-orphan-files
    analog): delete data files and MOR delete files that NO snapshot —
    current, historical, or dangling — references.  Such files are
    crash leftovers (a writer that died between its data write and its
    manifest commit, whose id was then reused); they are invisible to
    every reader, so unlike ``expire_snapshots`` this reclaims disk
    without touching readable history.  Safe against in-flight writers
    because every writer holds ``table_lock`` across its data write AND
    its commit, and this sweep takes the same lock."""
    with table_lock(path):
        removed, removed_dels = _sweep(path)
        return {"removed_files": removed, "removed_delete_files": removed_dels}


def rollback_clustered(path: str, snapshot_id: int) -> dict:
    """Restore the table to ``snapshot_id`` — Iceberg-style rollback: a
    NEW snapshot whose file list is the target's, so the rollback itself
    is in the lineage and is itself revertible.  Requires the target's
    data files to still exist (i.e. not reclaimed by
    ``expire_snapshots``)."""
    with table_lock(path):
        target = _load(path, snapshot_id)
        missing = [
            e["file"]
            for e in target["files"]
            if not os.path.exists(os.path.join(path, e["file"]))
        ] + [
            d["file"]
            for d in target["deletes"]
            if not os.path.exists(os.path.join(path, d["file"]))
        ]
        if missing:
            raise ValueError(
                f"cannot roll back {path} to snapshot {snapshot_id}: "
                f"{len(missing)} data files were expired (first: {missing[0]})"
            )
        return _write_manifest(
            path,
            int(target["level"]),
            target["files"],
            "rollback",
            extra_summary={"rolled_back_to": int(snapshot_id)},
            schema_json=target["schema"],
            deletes=target["deletes"],
            inherit=False,
            day_of=target.get("day_of"),
        )


def expire_snapshots(
    path: str, keep_last: int = 2, older_than: float | None = None
) -> dict:
    """Reclaim history: drop all but the newest ``keep_last`` snapshots
    (the current one is always retained), then delete every data file no
    retained snapshot references — the Iceberg expire-snapshots +
    orphan-cleanup analog, and the only operation that ever removes a
    file a previous snapshot could read.  ``older_than`` (unix time)
    additionally retains every snapshot committed at/after that horizon
    — the age-based retention contract (`expire_snapshots(older_than=
    now - 7*86400)` keeps a week of time travel regardless of commit
    volume); tags/branches anchor as always."""
    with table_lock(path):
        cid = _load(path)["snapshot_id"]
        ids = [s["snapshot_id"] for s in snapshots(path)]
        refs = _load_refs(path)
        # tagged snapshots are retention anchors: never expired (nor their
        # files swept) while the tag exists, regardless of keep_last; a
        # branch anchors its ENTIRE reachable chain (fast-forward must be
        # able to publish it) — drop stale branches to release history
        anchored = {r["snapshot_id"] for r in refs.values() if r["type"] == "tag"}
        for r in refs.values():
            if r["type"] == "branch":
                anchored.update(
                    m["snapshot_id"] for m in _history_chain(path, r["snapshot_id"])
                )
        retain = set(sorted(ids)[-max(int(keep_last), 1):]) | {cid} | anchored
        expired = []
        sd = os.path.join(path, SNAP_DIR)
        on_disk = (
            [
                int(n[5:-5])
                for n in os.listdir(sd)
                if n.startswith("snap-") and n.endswith(".json")
            ]
            if os.path.isdir(sd)
            else []
        )
        # sweep over every snapshot FILE, not just main history: abandoned
        # branch commits (ref dropped) and dangling crashed commits are
        # unreachable history — this is the operation that reclaims them
        for sid in on_disk:
            if sid in retain:
                continue
            if older_than is not None:
                # age-based retention (the Iceberg older_than analog): a
                # snapshot committed at/after the horizon survives this
                # sweep even when keep_last would have dropped it
                try:
                    at = _read_manifest_file(_snap_file(path, sid))["committed_at"]
                except FileNotFoundError:
                    continue
                if at >= float(older_than):
                    continue
            with contextlib.suppress(FileNotFoundError):
                os.remove(_snap_file(path, sid))
            expired.append(sid)
        removed, removed_dels = _sweep(path)
        return {"expired_snapshots": expired, "removed_files": removed + removed_dels}


def append_clustered(
    df: DataFrame,
    path: str,
    lon: str = "lon",
    lat: str = "lat",
    files: int = 4,
    branch: str | None = None,
) -> None:
    """Append a batch (e.g. one streaming micro-batch) to a clustered
    table WITHOUT rewriting it — the Iceberg append analog.

    The new rows are sorted among themselves and land in fresh files;
    the manifest gains the new files' TRUE bounds, so queries stay
    exactly correct immediately. What degrades is locality: each
    appended file spans its batch's own id range, so over many appends
    a query range intersects more files (files_kept creeps up).
    ``compact_clustered`` restores the one-sorted-run layout; this
    split — cheap true-stats appends, a periodic rewrite for locality —
    is exactly how log-structured table formats behave at design scale.

    A batch whose optimized plan is a ``LocalRelation`` of at most
    ``_LOCAL_READ_ROWS`` rows (a frame built from pandas, or a
    projection or filter of one) is written by the driver with pyarrow
    and runs no Spark job; any other batch is written by a Spark job.
    Both give the same files, ranges and stats (``_write_batch``).

    Crash ordering: data files land first, the manifest commit is the
    LAST step — a crash in between leaves unreferenced orphan files
    (swept by the next compaction), never a wrong manifest. The whole
    read-extend-commit sequence holds ``table_lock`` so a concurrent
    appender/compactor errors instead of racing the manifest.

    Add-column schema evolution: a batch may carry NEW columns (the
    commit's schema grows, pre-evolution files read as NULL in them —
    see ``_merge_schemas``) or OMIT existing ones (its rows read as
    NULL there); a same-name type change is an error.

    With ``branch=`` the append STAGES onto that branch (base = branch
    head, commit advances only the branch ref — the WAP write step);
    the main table and its readers are untouched until
    ``fast_forward_clustered`` publishes.
    """
    with table_lock(path):
        man = load_manifest(path, snapshot_id=branch)
        level = int(man["level"])
        new, schema_json, _ = _write_batch(df, path, man, level, lon, lat, files)
        _write_manifest(
            path,
            level,
            man["files"] + new,
            operation="append",
            schema_json=schema_json,
            branch=branch,
        )


def compact_clustered(
    spark: SparkSession,
    path: str,
    files: int = 16,
    level: int | None = None,
    lon: str = "lon",
    lat: str = "lat",
    day: str | None = None,
) -> None:
    """Rewrite the table as one globally range-clustered run (the
    Iceberg rewrite-data-files / sort-compaction analog), in place and
    crash-safe at every step:

    1. read ONLY the manifest-listed files, re-sort by the existing
       cell column (no re-encode), write the run as NEW files into the
       same directory (a crash here leaves orphans, not damage —
       readers never see unlisted files);
    2. commit the manifest pointing at the new files only (the atomic
       cut-over: one file write);
    3. sweep every data file NO retained snapshot references — crash
       orphans and already-expired history.  The superseded run itself
       stays on disk as long as a snapshot lists it (snapshot
       isolation: a reader that planned against the pre-compaction
       snapshot still finds its files); ``expire_snapshots`` is what
       reclaims that history.

    A query at any crash point returns exactly the same rows; the only
    recoverable waste is orphaned disk, reclaimed by the next sweep.
    Holds ``table_lock`` end to end (same single-writer invariant as
    append).

    Passing ``level`` RE-CLUSTERS the table at a new cell level — the
    Iceberg partition-spec-evolution analog, as one snapshot commit:
    the run is re-encoded from ``lon``/``lat`` at the new level and the
    manifest's level changes with the same cut-over, so every reader
    plans covers against the level of the snapshot it reads (a
    time-traveled query still prunes with the OLD level over the OLD
    files).

    On a day table, ``day`` ('YYYY-MM-DD') rewrites that day's files
    only — the realistic loop, since only recently appended days
    fragment — and every other day's entries stay verbatim."""
    with table_lock(path):
        man = load_manifest(path)
        cur_level = int(man["level"])
        new_level = cur_level if level is None else int(level)
        entries = man["files"]
        if day is not None:
            if not man.get("day_of"):
                raise ValueError(f"compact_clustered(day=...): {path} is not day-partitioned")
            if new_level != cur_level:
                raise ValueError("re-clustering (level=) rewrites every day; pass no day")
            entries = [e for e in entries if e["day"] == day]
        listed = [e["file"] for e in entries]
        if listed:
            # manifest-schema read: compaction MATERIALIZES evolved
            # columns (pre-evolution files rewrite with explicit NULLs)
            # AND pending MOR deletes (the delete-aware scan drops their
            # rows; the rewritten files get new names, so the commit's
            # target pruning retires the delete entries — the Iceberg
            # rewrite-data-files contract)
            cur = _read_files(spark, path, man, listed)
            if new_level != cur_level:
                be = cell_backend("s2")
                cur = cur.drop(CELL_COL).withColumn(
                    CELL_COL, be.udf(new_level)(F.col(lat), F.col(lon))
                )
            new = _write_run(cur, path, files, bool(man.get("day_of")))
            others = [e for e in man["files"] if e["day"] != day] if day else []
            _write_manifest(
                path, new_level, others + _file_stats(path, new), operation="replace"
            )
        elif new_level != cur_level:  # empty table: metadata-only change
            _write_manifest(path, new_level, [], operation="replace")
        _sweep(path)


def compaction_advice(
    path: str,
    overlap_threshold: float = 2.0,
    delete_tax_threshold: float = 0.05,
    small_file_fraction: float = 0.5,
    target_rows_per_file: int | None = None,
) -> dict:
    """Manifest-only compaction scheduler (no data file is opened):
    reads the same stats every scan plans with and answers WHETHER a
    ``compact_clustered`` is worth its rewrite cost, and at what file
    count — the small-file / delete-tax advisor for the periodic
    maintenance job log-structured tables need at scale.

    Three taxes, each measured from the manifest:

    - **overlap factor** — sum of per-file cell-range spans over the
      union span, within each day of a day table (its days are
      separate runs).  A freshly compacted table's ranges are disjoint
      (~1.0); each append layers another full-width run on top, so a
      range query must read ~overlap_factor files instead of the one
      the clustering promises.  Advise past ``overlap_threshold``.
    - **delete tax** — pending merge-on-read delete rows as a fraction
      of table rows: every scan pays an anti-join this size until a
      rewrite retires it (the measured MOR read-tax recovery is
      0.62 -> 0.21 s, BENCH.md).  Advise past ``delete_tax_threshold``.
    - **small files** — fraction of files under 1/4 of the mean file's
      rows: per-file scheduling and footer overhead dominates tiny
      files.  Advise past ``small_file_fraction``.

    Returns ``{should_compact, reasons, n_files, total_rows,
    overlap_factor, pending_delete_rows, delete_tax, small_files,
    recommended_files}`` — feed ``recommended_files`` straight to
    ``compact_clustered(spark, path, files=...)``."""
    man = load_manifest(path)
    entries = man["files"]
    n_files = len(entries)
    total_rows = int(sum(e["rows"] for e in entries))
    out = {
        "should_compact": False,
        "reasons": [],
        "n_files": n_files,
        "total_rows": total_rows,
        "overlap_factor": 1.0,
        "pending_delete_rows": 0,
        "delete_tax": 0.0,
        "small_files": 0,
        "recommended_files": max(n_files, 1),
    }
    if not entries:
        return out

    # overlap factor: per-file span mass over the union of the ranges
    # (the +1s make single-cell files count; ranges are int cell ids),
    # both summed over a day table's days: each day is its own run, so
    # files of different days never overlap
    by_day: dict = {}
    for e in entries:
        by_day.setdefault(e.get("day"), []).append((int(e["min"]), int(e["max"])))
    mass = union = 0
    for ivals in by_day.values():
        ivals.sort()
        mass += sum(hi - lo + 1 for lo, hi in ivals)
        cur_lo, cur_hi = ivals[0]
        for lo, hi in ivals[1:]:
            if lo > cur_hi:
                union += cur_hi - cur_lo + 1
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        union += cur_hi - cur_lo + 1
    overlap = mass / max(union, 1)
    out["overlap_factor"] = round(overlap, 2)

    dels = man["deletes"]
    del_rows = int(sum(int(d["rows"]) for d in dels))
    out["pending_delete_rows"] = del_rows
    out["delete_tax"] = round(del_rows / max(total_rows, 1), 4)

    mean_rows = total_rows / n_files
    small = sum(1 for e in entries if e["rows"] < mean_rows / 4)
    out["small_files"] = small

    if overlap >= overlap_threshold:
        out["reasons"].append(
            f"range overlap {overlap:.1f}x >= {overlap_threshold}: a "
            f"range query reads ~{overlap:.0f} files where a compacted "
            "run reads 1"
        )
    if out["delete_tax"] >= delete_tax_threshold:
        out["reasons"].append(
            f"pending MOR deletes are {out['delete_tax']:.1%} of rows "
            f">= {delete_tax_threshold:.0%}: every scan pays the "
            "anti-join until a rewrite retires them"
        )
    if n_files > 1 and small / n_files >= small_file_fraction:
        out["reasons"].append(
            f"{small}/{n_files} files are under a quarter of the mean "
            "file size: per-file overhead dominates"
        )
    out["should_compact"] = bool(out["reasons"])
    if target_rows_per_file:
        out["recommended_files"] = max(
            1, -(-total_rows // int(target_rows_per_file))
        )
    else:
        # keep the current parallelism, shedding the small-file excess
        out["recommended_files"] = max(1, n_files - small)
    return out


# ---------------------------------------------------------------------------
# row-level delete / upsert (copy-on-write)
# ---------------------------------------------------------------------------


def _per_file_hits(spark: SparkSession, path: str, names, cond, man) -> dict:
    """rows-matching-``cond`` count per data file — the decision input
    for minimal-rewrite: a file with zero matches is NEVER rewritten.
    Driver result is bounded by the file count, not the row count.
    Counts LIVE rows only (pending MOR deletes applied), so an already-
    deleted row never triggers a rewrite or re-deletes."""
    if not names:
        return {}
    cdf = _read_files(spark, path, man, names, keep_src="_src")
    rows = cdf.where(cond).groupBy("_src").count().collect()
    return {r["_src"]: int(r["count"]) for r in rows}


def _delete_scope(man: dict, predicate, shape, t0, t1):
    """The shared delete-planning step: the candidate manifest entries
    (manifest-pruned by the ``[t0, t1]`` window's days and the shape's
    cell cover when given) and the NULL-safe match condition, the
    conjunction of the predicate, the exact window and the cover's cell
    ranges (which loses nothing — the cover is a superset of the
    shape)."""
    conds = [c for c in (predicate, _window(man, t0, t1)) if c is not None]
    ranges = None if shape is None else cover_ranges(shape, int(man["level"]))
    cand = man["files"]
    if ranges is not None or t0 is not None:
        cand, _ = _prune(man, ranges, t0, t1)
    if ranges is not None:
        rcond = None
        for lo, hi in ranges:
            c = F.col(CELL_COL).between(F.lit(lo), F.lit(hi))
            rcond = c if rcond is None else (rcond | c)
        conds.append(rcond if rcond is not None else F.lit(False))
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return cand, F.coalesce(cond.cast("boolean"), F.lit(False))


def delete_clustered(
    spark: SparkSession,
    path: str,
    predicate=None,
    shape=None,
    strategy: str = "cow",
    branch: str | None = None,
    t0=None,
    t1=None,
) -> dict:
    """Row-level DELETE on a clustered table — both Iceberg delete
    strategies:

    - ``strategy='cow'`` (copy-on-write, the default): rewrite ONLY the
      files holding matches, minus the matching rows — reads pay
      nothing afterwards; right when deletes are rare or large.
    - ``strategy='mor'`` (merge-on-read): write a POSITION-DELETE file
      — (data file, row position) pairs under ``_deletes/`` — and
      commit it in the manifest; no data file is rewritten, so the
      delete costs one pruned scan + a delete file proportional to the
      MATCHES, and every subsequent read applies the pending set as an
      anti-join at scan time (``_read_files``).  Right for frequent /
      small deletes on a huge table; ``compact_clustered`` materializes
      pending deletes and drops them (the rewrite-data-files contract).

    ``predicate`` is a pyspark Column; rows where it evaluates TRUE are
    deleted (NULL counts as no-match, i.e. the row survives — SQL
    DELETE semantics). ``shape`` optionally RESTRICTS the delete to the
    shape's cell cover and prunes the candidate files through the
    manifest, so a spatially-local delete never reads the rest of the
    table; because the cover is a superset of the shape, passing the
    shape's own exact predicate + the shape loses nothing. On a day
    table ``[t0, t1]`` (both given) restricts the delete to that
    timestamp window and prunes candidates to its days first, so
    deleting 'this region, these days' from a year of history touches
    only those days' overlapping files. The deleted set is the
    conjunction of whatever is given; at least one must be.

    COW execution, all under ``table_lock``:

    1. count predicate matches PER FILE (one pruned scan; driver state
       bounded by the file count) — files with zero matches keep their
       manifest entries VERBATIM, bytes untouched on disk;
    2. rewrite only the touched files minus the matching rows (pending
       MOR deletes applied — a rewrite never resurrects), new files
       land beside the old (a crash here leaves orphans, never damage);
    3. one atomic snapshot-versioned manifest commit
       (operation='delete'). The superseded files stay on disk while
       any retained snapshot references them (snapshot isolation —
       time travel to the pre-delete snapshot still sees the rows);
       compaction's sweep / ``expire_snapshots`` reclaims them.

    MOR execution differs only in step 2: the matching (file, position)
    pairs are written as a delete file (crash-safe the same way — a
    delete file is invisible until the manifest lists it), and step 3
    commits the SAME data entries plus the new delete entry.

    Zero matches commits nothing (returns a no-op summary). Returns
    the committed manifest (or the no-op summary)."""
    if strategy not in ("cow", "mor"):
        raise ValueError(f"delete strategy must be 'cow' or 'mor', got {strategy!r}")
    if predicate is None and shape is None and t0 is None and t1 is None:
        raise ValueError(
            "delete_clustered needs a predicate, a [t0, t1] window, or a "
            "shape — an unconditioned delete of the whole table should be "
            "an explicit overwrite instead"
        )
    with table_lock(path):
        man = load_manifest(path, snapshot_id=branch)
        level = int(man["level"])
        entries = man["files"]
        cand, cond = _delete_scope(man, predicate, shape, t0, t1)
        if strategy == "mor":
            return _delete_mor(spark, path, man, cand, cond, branch=branch)
        hits = _per_file_hits(spark, path, [e["file"] for e in cand], cond, man)
        if not hits:
            return {
                "operation": "delete",
                "noop": True,
                "deleted_rows": 0,
                "snapshot_id": int(man["snapshot_id"]),
            }
        keepdf = _read_files(spark, path, man, sorted(hits)).where(~cond)
        new = _write_run(keepdf, path, max(1, len(hits)), bool(man.get("day_of")))
        untouched = [e for e in entries if e["file"] not in hits]
        return _write_manifest(
            path,
            level,
            untouched + _file_stats(path, new),
            operation="delete",
            extra_summary={
                "strategy": "cow",
                "deleted_rows": int(sum(hits.values())),
                "rewritten_files": len(hits),
                "untouched_files": len(untouched),
            },
            branch=branch,
        )


def _delete_mor(
    spark: SparkSession, path: str, man: dict, cand, cond,
    branch: str | None = None,
) -> dict:
    """The merge-on-read arm of ``delete_clustered`` (holds the caller's
    lock): write the matching (file, position) pairs as a position-
    delete file, commit it in the manifest, rewrite nothing."""
    import uuid

    names = [e["file"] for e in cand]
    scan = _read_files(
        spark, path, man, names, keep_src=_DFILE, keep_pos=_DPOS
    )
    pairs = scan.where(cond).select(
        F.col(_DFILE).alias("_file"), F.col(_DPOS).alias("_pos")
    )
    # one pass over the matches: per-file counts (bounded by file
    # count) decide targets + summary; zero matches commits nothing
    per_file = pairs.groupBy("_file").count().collect()
    if not per_file:
        return {
            "operation": "delete",
            "noop": True,
            "deleted_rows": 0,
            "snapshot_id": int(man["snapshot_id"]),
        }
    targets = sorted(r["_file"] for r in per_file)
    n_rows = int(sum(r["count"] for r in per_file))
    rel = os.path.join(DELETE_DIR, f"del-{uuid.uuid4().hex[:16]}")
    (
        pairs.repartition(max(1, n_rows // 4_000_000 + 1), "_file")
        .sortWithinPartitions("_file", "_pos")
        .write.mode("error")
        .parquet(os.path.join(path, rel))
    )
    new_entry = {"file": rel, "rows": n_rows, "targets": targets, "kind": "pos"}
    return _write_manifest(
        path,
        int(man["level"]),
        man["files"],
        operation="delete",
        deletes=man["deletes"] + [new_entry],
        extra_summary={
            "strategy": "mor",
            "deleted_rows": n_rows,
            "rewritten_files": 0,
            "delete_file_targets": len(targets),
        },
        branch=branch,
    )


def upsert_clustered(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str,
    lon: str = "lon",
    lat: str = "lat",
    files: int = 4,
    strategy: str = "cow",
    branch: str | None = None,
) -> dict:
    """MERGE by key: every current row whose ``key`` appears in ``df``
    is replaced by ``df``'s version (which may have MOVED — new
    lat/lon lands in its new cell), and keys not present are inserted —
    Iceberg's MERGE analog, as ONE snapshot commit, in both write
    strategies:

    - ``strategy='cow'`` (default): per-file hit detection + rewrite of
      only the touched files. The key set is broadcast (left_semi for
      hit detection, left_anti for the rewrite), so hit detection reads
      only the key column of each file and only touched files are
      rewritten — untouched manifest entries survive verbatim, same
      minimal-rewrite contract as ``delete_clustered``.
    - ``strategy='mor'``: NO scan of the table at all — the batch's
      keys land as an EQUALITY-DELETE file (the Iceberg eq-delete
      analog) targeting the files whose manifest key stats could hold
      them, and the batch's rows append as ordinary data files; one
      commit. Cost is O(batch) regardless of table size — the
      streaming-CDC MERGE shape — paid back at read time (every scan of
      a target file anti-joins the key set, key-restricted to target
      files so the batch's own re-inserted rows survive) and retired by
      compaction.

    The batch's rows are written as ``append_clustered`` writes them
    (``_write_batch``): by the driver with pyarrow when the batch's
    optimized plan is a ``LocalRelation`` of at most
    ``_LOCAL_READ_ROWS`` rows (e.g. built from pandas),
    which also takes the key range and, for ``'mor'``, writes the
    equality-delete file from the same rows, so a MOR upsert of such a
    batch runs no Spark job; by Spark jobs otherwise. A COW upsert
    still scans and rewrites the touched files with Spark.

    NULL keys never match (SQL join equality) and are inserted as new
    rows. Atomicity: data/delete files first, one manifest commit last;
    a crash mid-way leaves orphans, and a reader at any point sees
    either the whole merge or none of it."""
    if strategy not in ("cow", "mor"):
        raise ValueError(f"upsert strategy must be 'cow' or 'mor', got {strategy!r}")
    if strategy == "mor":
        return _upsert_mor(spark, df, path, key, lon, lat, files, branch=branch)
    with table_lock(path):
        man = load_manifest(path, snapshot_id=branch)
        level = int(man["level"])
        entries = man["files"]
        # the insert half first: a type change raises before any file
        # lands, and the rewrite below reads only listed files
        inserted, schema_json, tbl = _write_batch(df, path, man, level, lon, lat, files)
        keys = F.broadcast(df.select(key).distinct())
        # key-range file pruning (the manifest's per-column stats): only
        # files whose [min,max] of the KEY column intersects the batch's
        # key range can hold a match — on tables whose keys correlate
        # with layout (ingest order, region) the hit scan skips most
        # files; entries without key stats are always scanned (sound).
        klo, khi = _key_bounds(df, tbl, key)
        cand = (
            []  # an all-NULL key batch matches nothing (SQL equality)
            if klo is None
            else [e for e in entries if _col_range_keep(e, key, klo, khi)]
        )
        touched: dict = {}
        if cand:
            # hit detection over LIVE rows only (pending MOR deletes
            # applied): a deleted row's key must neither trigger a
            # rewrite nor resurrect through one
            cdf = _read_files(
                spark, path, man, [e["file"] for e in cand], keep_src="_src"
            ).select(F.col(key), F.col("_src"))
            rows = (
                cdf.join(keys, on=key, how="left_semi")
                .groupBy("_src")
                .count()
                .collect()
            )
            touched = {r["_src"]: int(r["count"]) for r in rows}
        rewritten = []
        if touched:
            kdf = _read_files(spark, path, man, sorted(touched)).join(
                keys, on=key, how="left_anti"
            )
            new = _write_run(kdf, path, max(1, len(touched)), bool(man.get("day_of")))
            rewritten = _file_stats(path, new)
        untouched = [e for e in entries if e["file"] not in touched]
        return _write_manifest(
            path,
            level,
            untouched + rewritten + inserted,
            operation="upsert",
            schema_json=schema_json,
            extra_summary={
                "replaced_rows": int(sum(touched.values())),
                "incoming_rows": int(sum(e["rows"] for e in inserted)),
                "rewritten_files": len(touched),
                "untouched_files": len(untouched),
                "hit_scan_files": len(cand),
            },
            branch=branch,
        )


def _key_bounds(df: DataFrame, tbl, key: str):
    """The batch's (min, max) of ``key`` over its non-null keys, (None,
    None) when every key is null: from the Arrow batch when the driver
    wrote it (``_write_batch``), else one aggregate job."""
    if tbl is not None:
        import pyarrow.compute as pc

        mm = pc.min_max(tbl[key])
        return mm["min"].as_py(), mm["max"].as_py()
    row = df.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).collect()[0]
    return row["lo"], row["hi"]


def _write_eq_delete(df: DataFrame, tbl, path: str, key: str) -> tuple[str, int]:
    """Write the batch's distinct non-null keys as an equality-delete
    file (one column ``_key`` of the key's type) under a fresh
    ``_deletes/eq-<hex>/`` directory. Returns (the directory relative
    to the table, the key count). From the Arrow batch when the driver
    wrote it (``_write_batch``), else one Spark job."""
    import uuid

    import pyarrow.parquet as pq

    rel = os.path.join(DELETE_DIR, f"eq-{uuid.uuid4().hex[:16]}")
    full = os.path.join(path, rel)
    if tbl is not None:
        import pyarrow as pa
        import pyarrow.compute as pc

        keys = pc.unique(tbl[key].drop_null())
        os.makedirs(full)
        name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
        _write_parquet(pa.table({"_key": keys}), os.path.join(full, name))
        return rel, len(keys)
    (
        df.select(F.col(key).alias("_key"))
        .where(F.col("_key").isNotNull())
        .distinct()
        .write.mode("error")
        .parquet(full)
    )
    return rel, sum(  # row count from the written footers — no job
        pq.ParquetFile(os.path.join(full, f)).metadata.num_rows
        for f in os.listdir(full)
        if f.endswith(".parquet")
    )


def _upsert_mor(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str,
    lon: str,
    lat: str,
    files: int,
    branch: str | None = None,
) -> dict:
    """The merge-on-read arm of ``upsert_clustered``: ordinary data
    append + equality-delete file (batch keys, distinct, NULLs dropped),
    one commit, zero reads of the table's data files."""
    with table_lock(path):
        man = load_manifest(path, snapshot_id=branch)
        level = int(man["level"])
        entries = man["files"]
        inserted, schema_json, tbl = _write_batch(df, path, man, level, lon, lat, files)
        # targets: every current file whose key-range stats could hold a
        # batch key (files without stats are targeted — sound); an
        # all-NULL key batch replaces nothing
        klo, khi = _key_bounds(df, tbl, key)
        targets = (
            []
            if klo is None
            else sorted(
                e["file"] for e in entries if _col_range_keep(e, key, klo, khi)
            )
        )
        deletes = man["deletes"]
        n_keys = 0
        if targets:
            rel, n_keys = _write_eq_delete(df, tbl, path, key)
            deletes = deletes + [
                {
                    "file": rel,
                    "rows": n_keys,
                    "targets": targets,
                    "kind": "eq",
                    "key": key,
                }
            ]
        return _write_manifest(
            path,
            level,
            entries + inserted,
            operation="upsert",
            schema_json=schema_json,
            deletes=deletes,
            extra_summary={
                "strategy": "mor",
                "incoming_rows": int(sum(e["rows"] for e in inserted)),
                "eq_delete_keys": n_keys,
                "eq_delete_targets": len(targets),
                "rewritten_files": 0,
            },
            branch=branch,
        )


# ---------------------------------------------------------------------------
# cover -> id ranges
# ---------------------------------------------------------------------------


def _merge_ranges(ranges) -> list[list[int]]:
    """Sort and coalesce adjacent/overlapping [lo, hi] id ranges."""
    merged: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return merged


def cover_ranges(
    shape,
    cluster_level: int,
    cover_level: int | None = None,
    max_cells: int = 4096,
    max_ranges: int = 64,
) -> list[tuple[int, int]]:
    """The shape's S2 cover as coalesced id ranges at ``cluster_level``.

    A uniform-level cover (full + boundary cells alike — both are
    candidates) maps through the prefix property to one range per cell;
    Hilbert locality makes most of them adjacent, so coalescing
    typically collapses thousands of cells into a few dozen runs. If
    more than ``max_ranges`` runs survive, the SMALLEST inter-run gaps
    are swallowed first — widening (extra candidate ids), never
    narrowing, so exact refinement downstream is unaffected.
    """
    lv = cover_level if cover_level is not None else _auto_cover_level(shape, cluster_level)
    lv = max(0, min(int(lv), cluster_level))
    be = cell_backend("s2")
    while True:
        try:
            fulls, bounds = be.cover(shape, lv, geo=True, max_cells=max_cells)
            break
        except ValueError:
            # the cover planner signals over-resolution (max_cells
            # exceeded) with ValueError: the auto level over-resolved an
            # elongated shape (e.g. a thin full-longitude band) —
            # coarsen until the cover fits; coarser only widens
            # candidates, never drops them. Any other exception is a
            # real bug and propagates untouched.
            if lv == 0:
                raise
            lv -= 1
    cells = sorted({int(c) for c in list(fulls) + list(bounds)})
    if not cells:
        return []
    shift = 2 * (cluster_level - lv)
    return _coalesce_ranges(
        ((c << shift, ((c + 1) << shift) - 1) for c in cells), max_ranges
    )


def _coalesce_ranges(ranges, max_ranges: int) -> list[tuple[int, int]]:
    """Merge overlapping/adjacent runs, then swallow the SMALLEST
    inter-run gaps until at most ``max_ranges`` remain — widening
    (extra candidate ids), never narrowing.

    Merging two runs never changes any other inter-run gap, so the
    greedy swallow-min loop is equivalent to one shot: keep the
    ``max_ranges - 1`` LARGEST gaps as the surviving breaks ((gap,
    index) lexsort reproduces the loop's first-minimal tie-break
    exactly).  That makes this O(n log n) vectorized instead of the
    former O(n^2) Python scan — the former dominated large-batch kNN
    planning, where a 10k-query round can fold >10^5 cover cells."""
    import numpy as np

    rs = ranges if isinstance(ranges, (list, tuple)) else list(ranges)
    if not len(rs):
        return []
    lo = np.fromiter((r[0] for r in rs), dtype=np.int64, count=len(rs))
    hi = np.fromiter((r[1] for r in rs), dtype=np.int64, count=len(rs))
    return _coalesce_ranges_np(lo, hi, max_ranges)


def _coalesce_ranges_np(lo, hi, max_ranges: int) -> list[tuple[int, int]]:
    """Vectorized core of ``_coalesce_ranges`` over int64 arrays."""
    import numpy as np

    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    cmax = np.maximum.accumulate(hi)
    new = np.empty(len(lo), dtype=bool)
    new[0] = True
    new[1:] = lo[1:] > cmax[:-1] + 1
    starts = np.flatnonzero(new)
    ends = np.append(starts[1:] - 1, len(lo) - 1)
    mlo, mhi = lo[starts], cmax[ends]
    n = len(mlo)
    if n > max_ranges:
        gaps = mlo[1:] - mhi[:-1]
        k = max_ranges - 1
        gorder = np.lexsort((np.arange(len(gaps)), gaps))
        keep = (
            np.sort(gorder[len(gaps) - k:]) if k > 0
            else np.empty(0, dtype=np.int64)
        )
        s = np.concatenate(([0], keep + 1))
        e = np.concatenate((keep, [n - 1]))
        mlo, mhi = mlo[s], mhi[e]
    return [(int(a), int(b)) for a, b in zip(mlo, mhi)]


def _auto_cover_level(shape, cluster_level: int) -> int:
    """Cover level sized so ~4 cells span the shape's bbox — fine enough
    to prune, coarse enough that the cover stays tiny."""
    try:
        from spatial4n_spark.kernels.polygon import shape_bbox

        b = shape_bbox(shape, geo=True)
        lon_extent = (b.max_x - b.min_x) % 360.0 if b.crosses_dateline else b.max_x - b.min_x
        lat_extent = b.max_y - b.min_y
        # near a pole the lon extent degenerates to 360 while the shape
        # stays compact — size by the lat extent there (the cover retry
        # loop coarsens if this over-resolves an elongated band)
        extent = lat_extent if lon_extent >= 180.0 else max(lon_extent, lat_extent)
    except Exception:
        extent = 360.0
    extent = max(float(extent), 1e-9)
    lv = int(math.ceil(math.log2(90.0 * 4.0 / extent))) if extent < 360.0 else 0
    return max(0, min(lv, cluster_level, 12))


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PruneStats:
    files_total: int
    files_kept: int
    rows_total: int
    rows_kept_files: int
    n_ranges: int
    days_total: int = 0  # a day table's distinct days, and those kept
    days_kept: int = 0


def _prune(man: dict, ranges, t0=None, t1=None) -> tuple[list[dict], PruneStats]:
    """The manifest entries whose cell [min,max] meets a query range
    (every entry when ``ranges`` is None) and, on a day table with a
    ``[t0, t1]`` window, whose day lies in the window's days — days by
    name, before any footer is read — and the pruning figures: the file
    planning of every range read."""
    files = keep = man["files"]
    day = man.get("day_of")
    if day and t0 is not None:
        lo, hi = str(t0)[:10], str(t1)[:10]
        keep = [e for e in keep if lo <= e["day"] <= hi]
    if ranges is not None:
        keep = [
            e for e in keep if any(_col_range_keep(e, CELL_COL, lo, hi) for lo, hi in ranges)
        ]
    return keep, PruneStats(
        files_total=len(files),
        files_kept=len(keep),
        rows_total=sum(e["rows"] for e in files),
        rows_kept_files=sum(e["rows"] for e in keep),
        n_ranges=len(ranges or ()),
        days_total=len({e["day"] for e in files}) if day else 0,
        days_kept=len({e["day"] for e in keep}) if day else 0,
    )


def _window(man: dict, t0, t1):
    """The exact ``[t0, t1]`` predicate on a day table's ``day_of``
    column — the Catalyst comparison with each bound cast to the
    column's type — or None without a window. A window on a flat table,
    or with one bound only, raises."""
    if t0 is None and t1 is None:
        return None
    ts = man.get("day_of")
    if not ts:
        raise ValueError(
            "a [t0, t1] window needs a day-partitioned table "
            "(write_clustered(..., day_of=<ts column>)); this one is flat"
        )
    if t0 is None or t1 is None:
        raise ValueError("a time window needs both t0 and t1")
    ts_type = _manifest_schema(man)[ts].dataType
    return (F.col(ts) >= F.lit(t0).cast(ts_type)) & (F.col(ts) <= F.lit(t1).cast(ts_type))


def read_pruned(
    spark: SparkSession,
    path: str,
    ranges: list[tuple[int, int]],
    snapshot_id: int | None = None,
) -> tuple[DataFrame, PruneStats]:
    """Manifest-pruned scan: only files whose [min,max] intersects a
    query range are listed; the range disjunction is then applied as a
    pushed-down filter so kept files skip row groups too.
    ``snapshot_id`` plans against that snapshot's manifest instead of
    the current one (time travel)."""
    man = load_manifest(path, snapshot_id)
    keep, stats = _prune(man, ranges)
    return _scan_kept(spark, path, man, keep, ranges), stats


def _scan_kept(spark: SparkSession, path: str, man: dict, keep, ranges) -> DataFrame:
    """Spark scan of the kept entries restricted to the cell ranges."""
    if not keep or not ranges:
        return spark.createDataFrame([], _read_schema(man))
    df = _read_files(spark, path, man, [e["file"] for e in keep])
    cond = None
    for lo, hi in ranges:
        c = F.col(CELL_COL).between(F.lit(lo), F.lit(hi))
        cond = c if cond is None else (cond | c)
    return df.where(cond)


def clustered_scan(
    spark: SparkSession,
    path: str,
    col_ranges: dict | None = None,
    snapshot_id: int | None = None,
    with_stats: bool = False,
):
    """Metadata-pruned scan on ANY stats-carrying column: only files
    whose per-column [min,max] (manifest column stats) intersect every
    requested ``{col: (lo, hi)}`` range are listed, and the residual
    BETWEEN conjunction is pushed to the parquet reader so kept files
    skip row groups too. The cell column prunes through the same stats
    (its bounds are a manifest column like any other here). Files
    without stats for a column (a type the manifest cannot carry) are
    always kept; the pushed predicate still makes the RESULT exact."""
    man = load_manifest(path, snapshot_id)
    col_ranges = dict(col_ranges or {})
    entries = man["files"]
    keep = [
        e
        for e in entries
        if all(_col_range_keep(e, col, lo, hi) for col, (lo, hi) in col_ranges.items())
    ]
    stats = PruneStats(
        files_total=len(entries),
        files_kept=len(keep),
        rows_total=sum(e["rows"] for e in entries),
        rows_kept_files=sum(e["rows"] for e in keep),
        n_ranges=len(col_ranges),
    )
    if not keep:
        out = spark.createDataFrame([], _read_schema(man))
        return (out, stats) if with_stats else out
    df = _read_files(spark, path, man, [e["file"] for e in keep])
    for col, (lo, hi) in col_ranges.items():
        df = df.where(F.col(col).between(F.lit(lo), F.lit(hi)))
    return (df, stats) if with_stats else df


def clustered_radius_query(
    spark: SparkSession,
    path: str,
    qlon: float,
    qlat: float,
    radius_km: float,
    lon: str = "lon",
    lat: str = "lat",
    with_stats: bool = False,
    snapshot_id: int | None = None,
    t0=None,
    t1=None,
):
    """Radius query over a clustered table: manifest file pruning (the
    ``read_pruned`` planning), then the SAME exact Catalyst haversine
    predicate as the unclustered radius join — the layout changes what
    is read, never what is returned.  ``snapshot_id`` runs the query as
    of that snapshot, tag or branch (time travel).

    On a day table, ``[t0, t1]`` asks for 'this circle, this time
    window': days outside the window are pruned by name before the
    cell ranges prune files, and the exact timestamp predicate
    (``_window``) keeps the rows of the boundary days. The answer
    drops the ``_day`` column as it drops the cell column. A window on
    a flat table raises.

    When the kept files and their pending delete files hold at most
    ``_LOCAL_READ_ROWS`` rows, the driver reads them
    (``_read_files_local``: the same read spec) and keeps the rows in
    the cover's cell ranges whose numpy haversine distance ``d`` is at
    most the radius plus the kNN slack (``operators.knn._SLACK_REL``,
    ``_SLACK_KM``, which bound numpy's distance against the JVM's).
    Then one of two branches runs:

    - settled: no kept row lies in the slack band ``r(1 - _SLACK_REL) -
      _SLACK_KM < d``. Every kept row is then within the radius by the
      predicate too, and every dropped row beyond it, so the kept rows
      without the cell column are the answer: a local relation with no
      predicate.
    - band: some row may fall either side of the radius. The kept rows
      go to Spark with the centre and radius appended as columns and
      the Catalyst predicate, one Column reading those columns
      (``_probe_col``), decides them on the driver with no job; the
      cell and parameter columns are dropped after it. Every band
      probe sends the same plan: its generated predicate is compiled
      once, not once per centre.

    Both give the Spark scan's rows and schema (every field nullable).
    Above the budget the kept files are one Spark scan with the range
    disjunction pushed to the row groups and the centre as literals."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    from spatial4n_spark.kernels.distance import deg_to_km, distance_deg
    from spatial4n_spark.operators.knn import _SLACK_KM, _SLACK_REL

    man = load_manifest(path, snapshot_id)
    window = _window(man, t0, t1)
    drop = [CELL_COL, DAY_COL] if man.get("day_of") else [CELL_COL]
    circle = Circle(float(qlon), float(qlat), float(km_to_deg(radius_km)), geo=True)
    ranges = cover_ranges(circle, man["level"])
    keep, stats = _prune(man, ranges, t0, t1)
    if keep and _reads_locally(man, keep):
        tbl = _read_files_local(path, man, [e["file"] for e in keep], ranges)
        d = deg_to_km(distance_deg(
            tbl[lon].to_numpy(zero_copy_only=False), tbl[lat].to_numpy(zero_copy_only=False),
            qlon, qlat,
        ))
        r = float(radius_km)
        near = d <= r * (1 + _SLACK_REL) + _SLACK_KM
        tbl = tbl.filter(near)
        schema = _read_schema(man)
        if not (d[near] > r * (1 - _SLACK_REL) - _SLACK_KM).any():
            # no kept row in the slack band around the radius: numpy's
            # answer is the predicate's, so the rows go to Spark as is
            fields = [f for f in schema if f.name not in drop]
            out = spark.createDataFrame(
                tbl.select([f.name for f in fields]), StructType(fields)
            )
            if window is not None:
                out = out.where(window)
            return (out, stats) if with_stats else out
        params = ((_QLON, qlon), (_QLAT, qlat), (_QR, radius_km))
        for name, v in params:
            tbl = tbl.append_column(name, pa.array(np.full(tbl.num_rows, float(v))))
        out = spark.createDataFrame(
            tbl, StructType([*schema, *(StructField(n, DoubleType()) for n, _ in params)])
        ).where(_probe_col(spark, lon, lat, _QLON, _QLAT, _QR))
        if window is not None:
            out = out.where(window)
        out = out.drop(*drop, *(n for n, _ in params))
        return (out, stats) if with_stats else out
    out = _scan_kept(spark, path, man, keep, ranges)
    if window is not None:
        out = out.where(window)
    out = out.where(
        haversine_km(F.col(lon), F.col(lat), F.lit(float(qlon)), F.lit(float(qlat)))
        <= F.lit(float(radius_km))
    ).drop(*drop)
    return (out, stats) if with_stats else out


# the driver-local probes' query columns: the radius probe appends the
# centre and radius to its rows, the kNN kernel its candidates' centres
_QLON, _QLAT, _QR = "__s4n_qlon", "__s4n_qlat", "__s4n_r"
_PROBE_COLS: dict = {}


def _probe_col(spark: SparkSession, lon: str, lat: str, qlon: str, qlat: str, r=None):
    """The probes' Catalyst distance ``haversine_km(lon, lat, qlon,
    qlat)`` as ``dist_km``, or with ``r`` the predicate ``dist_km <=
    r``, every argument a column name. Built once per live
    SparkContext and arguments: the centre travels as data, so every
    probe sends the JVM one plan shape, whose generated predicate is
    compiled once and then found in Spark's code cache (a literal
    centre is inlined into the generated source, a new class per
    centre), and no probe rebuilds the expression over py4j (about 250
    gateway calls). A stopped and restarted session gets new Columns."""
    key = (lon, lat, qlon, qlat, r)
    jsc = spark.sparkContext._jsc
    hit = _PROBE_COLS.get(key)
    if hit is None or hit[0] is not jsc:
        d = haversine_km(F.col(lon), F.col(lat), F.col(qlon), F.col(qlat))
        hit = _PROBE_COLS[key] = (jsc, d.alias("dist_km") if r is None else d <= F.col(r))
    return hit[1]


def _manifest_schema(man: dict):
    """The committed schema of the table's data files."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(man["schema"]))


def _with_day(schema, man: dict):
    """``schema`` as the table's reads return it: on a day table, with
    the ``_day`` string column that the files' directories hold."""
    if not man.get("day_of"):
        return schema
    from pyspark.sql.types import StringType, StructField, StructType

    return StructType([*schema.fields, StructField(DAY_COL, StringType(), True)])


def _schema_reader(spark: SparkSession, path: str, man: dict):
    """A parquet reader pinned to the MANIFEST's schema (the Iceberg
    semantic: the table schema lives in metadata, not in whichever file
    happens to be read first). After an add-column append, files
    written before the column existed are read with NULLs in it — and a
    time-traveled read uses THAT snapshot's schema, so history keeps
    its original shape. On a day table ``_day`` is Spark's partition
    column of the ``_day=`` directories under the table."""
    reader = spark.read.schema(_with_day(_manifest_schema(man), man))
    return reader.option("basePath", path) if man.get("day_of") else reader


def _read_schema(man: dict):
    """The manifest schema as the parquet reader returns it: every
    field nullable (Spark relaxes a file source's schema on read). The
    schema of every read, those that keep no file included (the
    manifest carries it — the Iceberg metadata analog — so a zero-file
    table, or a query whose cover prunes every file, answers with the
    right columns without touching a parquet footer)."""
    from pyspark.sql.types import StructType

    def relax(j):
        if isinstance(j, dict):
            return {
                k: True if k in ("nullable", "containsNull", "valueContainsNull") else relax(v)
                for k, v in j.items()
            }
        return [relax(v) for v in j] if isinstance(j, list) else j

    return _with_day(StructType.fromJson(relax(json.loads(man["schema"]))), man)


def _applicable_deletes(man: dict, names) -> list[dict]:
    """The snapshot's pending MOR delete files whose target set
    intersects the files being read — a scan that prunes to untouched
    files never pays the anti-join."""
    nm = set(names)
    return [d for d in man["deletes"] if nm & set(d["targets"])]


def _read_files(
    spark: SparkSession,
    path: str,
    man: dict,
    names: list[str],
    keep_src: str | None = None,
    keep_pos: str | None = None,
) -> DataFrame:
    """THE data-file read: the listed files under the manifest's pinned
    schema, with the snapshot's pending merge-on-read delete files
    applied — an anti-join on (file, position), broadcast when the
    pending set is small (the Iceberg MOR read path: eager apply at
    scan, so every reader above this sees only live rows).  Positions
    come from the parquet reader's ``_metadata.row_index`` (stable under
    predicate pushdown), so a delete file written against a data file
    matches it at any later read regardless of filters.

    ``keep_src``/``keep_pos`` retain the source file's label / in-file
    row position as named output columns — the inputs a MOR delete
    writer or a per-file hit counter needs (``input_file_name()`` is
    unreliable above a join, so callers take the columns from here
    instead). A file's label is its manifest-relative name, the name
    manifest entries, delete files and rewrites use: the file name on a
    flat table, ``_day=<day>/<file name>`` on a day table.

    ``_read_files_local`` is the driver-side executor of the same read
    spec: ``clustered_radius_query`` and ``clustered_knn_df`` use it
    whenever the files to read fit the one row budget
    ``_LOCAL_READ_ROWS``, with identical results, and this Spark read
    above it (the only path for a table larger than the driver)."""
    if not names:
        df = spark.createDataFrame([], _read_schema(man))
        if keep_src is not None:
            df = df.withColumn(keep_src, F.lit(None).cast("string"))
        if keep_pos is not None:
            df = df.withColumn(keep_pos, F.lit(None).cast("long"))
        return df
    df = _schema_reader(spark, path, man).parquet(
        *[os.path.join(path, n) for n in names]
    )
    dels = _applicable_deletes(man, names)
    pos_dels = [d for d in dels if d["kind"] == "pos"]
    eq_dels = [d for d in dels if d["kind"] == "eq"]
    want_meta = dels or keep_src is not None or keep_pos is not None
    if want_meta:
        label = F.col("_metadata.file_name")
        if man.get("day_of"):
            label = F.concat(F.lit(DAY_COL + "="), F.col(DAY_COL), F.lit(os.sep), label)
        df = df.select(
            "*",
            label.alias(_DFILE),
            F.col("_metadata.row_index").alias(_DPOS),
        )
    if pos_dels:
        ddf = spark.read.parquet(
            *[os.path.join(path, d["file"]) for d in pos_dels]
        ).select(F.col("_file").alias(_DFILE), F.col("_pos").alias(_DPOS))
        if sum(int(d["rows"]) for d in pos_dels) <= BROADCAST_DELETE_ROWS:
            ddf = F.broadcast(ddf)
        df = df.join(ddf, on=[_DFILE, _DPOS], how="left_anti")
    for d in eq_dels:
        # equality deletes kill BY KEY but only in their TARGET files
        # (files written before the delete's commit): a later re-insert
        # of the same key lands in a non-target file and must survive.
        # The target restriction rides as a residual condition on the
        # broadcast anti-join (the equi key keeps it a hash join); one
        # join per pending eq file — bounded, retired by compaction.
        kdf = spark.read.parquet(os.path.join(path, d["file"])).select(
            F.col("_key").alias("__s4n_key")
        )
        if int(d["rows"]) <= BROADCAST_DELETE_ROWS:
            kdf = F.broadcast(kdf)
        tgt = sorted(set(d["targets"]) & set(names))
        cond = (F.col(d["key"]) == F.col("__s4n_key")) & F.col(_DFILE).isin(tgt)
        df = df.join(kdf, cond, "left_anti")
    if want_meta:
        out_cols = [c for c in df.columns if c not in (_DFILE, _DPOS)]
        if keep_src is not None:
            df = df.withColumn(keep_src, F.col(_DFILE))
            out_cols.append(keep_src)
        if keep_pos is not None:
            df = df.withColumn(keep_pos, F.col(_DPOS))
            out_cols.append(keep_pos)
        df = df.select(*out_cols)
    return df


def _reads_locally(man: dict, entries: list[dict]) -> bool:
    """May the driver read these manifest entries itself? Yes when the
    data files plus their applicable delete files hold at most
    ``_LOCAL_READ_ROWS`` rows (the manifest's counts; no file is
    opened)."""
    dels = _applicable_deletes(man, [e["file"] for e in entries])
    rows = sum(e["rows"] for e in entries) + sum(int(d["rows"]) for d in dels)
    return rows <= _LOCAL_READ_ROWS


def _read_files_local(
    path: str, man: dict, names: list[str], ranges=None, columns=None
):
    """The driver-local twin of ``_read_files``: the same read spec as
    one Arrow table, with no Spark job. The listed files are read under
    the manifest's pinned schema (columns a file lacks read as null; a
    day table's ``_day`` reads as the day of the file's directory);
    each file's label is its manifest-relative name, as in
    ``_read_files``; pending position deletes drop (file, row position)
    pairs — the
    position counts across row groups, as ``_metadata.row_index`` does;
    equality deletes drop rows by key only in their target files, and a
    null key never matches. ``ranges`` keeps only the rows whose cell id
    lies in one of them (``read_pruned``'s range disjunction);
    ``columns`` returns only those schema columns (the files are read
    for them plus the delete keys and cell id the filters need)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(_read_schema(man))
    if columns is not None:
        schema = pa.schema([schema.field(c) for c in columns])
    nm = set(names)
    pos: dict[str, list] = {}
    eqs = []
    for d in _applicable_deletes(man, names):
        if d["kind"] == "pos":
            t = pq.read_table(os.path.join(path, d["file"]), columns=["_file", "_pos"])
            files = t["_file"].to_numpy(zero_copy_only=False)
            p = t["_pos"].to_numpy()
            for lab in np.unique(files):
                pos.setdefault(lab, []).append(p[files == lab])
        else:
            t = pq.read_table(os.path.join(path, d["file"]), columns=["_key"])
            eqs.append((d["key"], t["_key"].combine_chunks(), set(d["targets"]) & nm))
    if ranges:
        bounds = np.array(_merge_ranges(ranges), dtype=np.int64)
    need = None
    if columns is not None:
        need = {*columns, *(key for key, _, _ in eqs), *([CELL_COL] if ranges else [])}
    day = man.get("day_of") and DAY_COL in schema.names
    parts = []
    for name in names:
        with pq.ParquetFile(os.path.join(path, name)) as f:
            t = f.read(None if need is None else [c for c in f.schema_arrow.names if c in need])
        live = np.ones(t.num_rows, dtype=bool)
        if name in pos:
            p = np.concatenate(pos[name])
            live[p[p < t.num_rows]] = False
        for key, keys, targets in eqs:
            if name in targets and key in t.column_names:
                col = t[key]
                hit = pc.is_in(col, value_set=keys.cast(col.type), skip_nulls=True)
                live &= ~hit.to_numpy(zero_copy_only=False)
        if ranges:
            cell = t[CELL_COL]
            c = pc.fill_null(cell, 0).to_numpy()
            i = np.searchsorted(bounds[:, 0], c, side="right") - 1
            live &= (
                (i >= 0)
                & (c <= bounds[np.maximum(i, 0), 1])
                & cell.is_valid().to_numpy(zero_copy_only=False)
            )
        t = t.filter(live)
        if day:  # the day table's _day column: the file's directory
            t = t.append_column(DAY_COL, pa.repeat(pa.scalar(_day_of(name)), t.num_rows))
        parts.append(
            pa.Table.from_arrays(
                [
                    t[f.name].cast(f.type) if f.name in t.column_names
                    else pa.nulls(t.num_rows, f.type)
                    for f in schema
                ],
                schema=schema,
            )
        )
    return pa.concat_tables(parts) if parts else schema.empty_table()


def _merge_schemas(old, new):
    """Add-column schema evolution (Iceberg analog): fields are matched
    BY NAME; new fields append to the end as nullable, fields the batch
    omits stay (nullable — its rows read as NULL), same-name fields
    must keep their exact type (no silent promotion — a type change is
    an error, not a coercion). Returns (merged, changed)."""
    from pyspark.sql.types import StructField, StructType

    new_by_name = {f.name: f for f in new.fields}
    fields, changed = [], False
    for f in old.fields:
        g = new_by_name.pop(f.name, None)
        if g is None:
            # batch omits this column: its rows read as NULL
            fields.append(StructField(f.name, f.dataType, True, f.metadata))
            changed = changed or not f.nullable
        elif g.dataType != f.dataType:
            raise ValueError(
                f"schema evolution supports adding columns, not changing "
                f"types: column {f.name!r} is {f.dataType.simpleString()} "
                f"in the table but {g.dataType.simpleString()} in the batch"
            )
        else:
            fields.append(
                StructField(
                    f.name, f.dataType, f.nullable or g.nullable, f.metadata
                )
            )
    for g in new.fields:  # preserve batch order for the added columns
        if g.name in new_by_name:
            # pre-evolution rows read as NULL in an added column
            fields.append(StructField(g.name, g.dataType, True, g.metadata))
            changed = True
    return StructType(fields), changed


def _read_listed(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """All manifest-listed files (crash-orphans excluded) — the full-scan
    fallback surface."""
    man = load_manifest(path, snapshot_id)
    return _read_files(spark, path, man, [e["file"] for e in man["files"]])


def clustered_knn_df(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    id_col: str,
    lon: str = "lon",
    lat: str = "lat",
    query_id: str = "query_id",
    qlon: str = "qlon",
    qlat: str = "qlat",
    broadcast_cells: int = _BROADCAST_CELLS,
) -> DataFrame:
    """Exact kNN over a clustered table with the QUERY SET AS A
    DATAFRAME. Returns (query_id, <id_col>, dist_km, rank), ties on
    <id_col> — the contract and the final rank of operators.knn.

    Under the comparison budget (queries x manifest rows <=
    ``operators.knn._BRUTE_FORCE_PAIRS``) the exact kernel of
    operators.knn runs over every listed file under the one read spec,
    so pending MOR deletes and the manifest schema apply. When those
    files and their delete files hold at most ``_LOCAL_READ_ROWS`` rows the
    kernel runs on the driver over ``_read_files_local`` (``_local_knn``:
    same candidates, same Catalyst distance, same rank, no Spark job);
    otherwise it streams ``_read_files`` through ``mapInArrow``.

    Above it, the one cover plan of operators.knn (``_cover_knn``) runs
    on the table's own cell column: its counts pyramid aggregates the
    listed files, and each round's cover ranges prune manifest files and
    row groups through ``read_pruned``. ``broadcast_cells`` bounds the
    kernel's query set and the cover cells the plan broadcasts."""
    from spatial4n_spark.operators import knn as _knn

    man = load_manifest(path)
    n_total = sum(e["rows"] for e in man["files"])
    names = [e["file"] for e in man["files"]]
    q0 = _knn._query_frame(queries, query_id, qlon, qlat)
    q_max = _knn._query_budget(n_total, broadcast_cells)
    local = _reads_locally(man, man["files"])
    if local:
        rows = _knn._collect_queries(q0, q_max)
        if rows is not None:
            return _local_knn(
                spark, path, man, names, rows, q0.schema["query_id"], k, id_col, lon, lat
            )
    listed = _read_files(spark, path, man, names)
    if not local:
        out = _knn._exact_knn(listed, q0, k, lon, lat, id_col, q_max)
        if out is not None:
            return out
    return _knn._cover_knn(
        listed, CELL_COL, int(man["level"]), lambda ranges: read_pruned(spark, path, ranges)[0],
        q0, k, id_col, lon, lat, n_total, broadcast_cells,
    )


def _local_knn(
    spark: SparkSession, path: str, man: dict, names: list[str], rows: list,
    qid_field, k: int, id_col: str, lon: str, lat: str,
) -> DataFrame:
    """The exact kNN kernel on the driver: ``operators.knn._top_k_batches``
    over the record batches of ``_read_files_local`` for ``rows``, the
    (query_id, qlon, qlat) tuples of the queries, whose query_id field
    is ``qid_field``. The candidates' ``dist_km`` comes from the
    Catalyst ``haversine_km`` over a local relation (folded on the
    driver, no job), one Column built once (``_probe_col``) that reads
    each candidate's centre from its ``_qlon``/``_qlat`` columns; the
    rank by (dist_km, <id_col>) per query_id is taken here in Spark's
    ascending order (nulls first, NaN last). Ids, ranks and ``dist_km``
    therefore equal ``_rank_top_k``'s. Returns a local relation."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    from spatial4n_spark.operators.knn import _top_k_batches

    tbl = _read_files_local(path, man, names, columns=[id_col, lon, lat])
    pts = pa.table(
        {id_col: tbl[id_col], lon: tbl[lon].cast(pa.float64()), lat: tbl[lat].cast(pa.float64())}
    )
    qlon = np.array([r[1] for r in rows], dtype=np.float64)
    qlat = np.array([r[2] for r in rows], dtype=np.float64)
    run = _top_k_batches(qlon, qlat, k, id_col, lon, lat)
    cand = pa.Table.from_batches(
        list(run(pts.to_batches())), pts.schema.append(pa.field("_qi", pa.int32()))
    )
    qi = cand["_qi"].to_numpy()
    dbl = DoubleType()
    schema = StructType([
        qid_field, _read_schema(man)[id_col], StructField(lon, dbl),
        StructField(lat, dbl), StructField("_qlon", dbl), StructField("_qlat", dbl),
    ])
    arrow = pa.Table.from_arrays(
        [
            pa.array([rows[i][0] for i in qi], to_arrow_schema(schema).field(0).type),
            cand[id_col], cand[lon], cand[lat], pa.array(qlon[qi]), pa.array(qlat[qi]),
        ],
        schema=to_arrow_schema(schema),
    )
    scored = spark.createDataFrame(arrow, schema).select(
        "query_id", id_col, _probe_col(spark, lon, lat, "_qlon", "_qlat")
    )

    def asc(v):  # Spark's ascending order: null first, NaN after every number
        return (v is not None, v != v, v if v == v else 0.0)

    by_query: dict = {}
    for r in scored.collect():
        by_query.setdefault(r[0], []).append(r)
    ranked = []
    for group in by_query.values():
        group.sort(key=lambda r: (*asc(r[2]), *asc(r[1])))
        ranked.extend((*r, i + 1) for i, r in enumerate(group[:k]))
    out_schema = StructType([*scored.schema.fields, StructField("rank", IntegerType(), False)])
    out_arrow = to_arrow_schema(out_schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array([r[j] for r in ranked], f.type) for j, f in enumerate(out_arrow)],
            schema=out_arrow,
        ),
        out_schema,
    )


def clustered_knn(
    spark: SparkSession,
    path: str,
    queries: list[tuple],
    k: int,
    id_col: str,
    lon: str = "lon",
    lat: str = "lat",
):
    """``clustered_knn_df`` for a driver-side [(query_id, lon, lat)]
    list. Where ``clustered_knn_df`` would run the driver kernel (the
    same ``_reads_locally`` and query-budget tests), the list goes to
    ``_local_knn`` as it is, with no query frame built and collected
    again; the answer, schema included, equals ``clustered_knn_df``'s."""
    from spatial4n_spark.operators import knn as _knn

    man = load_manifest(path)
    rows = _knn._list_rows(queries)
    n_total = sum(e["rows"] for e in man["files"])
    if _reads_locally(man, man["files"]) and len(rows) <= _knn._query_budget(
        n_total, _BROADCAST_CELLS
    ):
        return _local_knn(
            spark, path, man, [e["file"] for e in man["files"]], rows,
            _knn._LIST_SCHEMA["query_id"], k, id_col, lon, lat,
        )
    return clustered_knn_df(
        spark, path, _knn._list_queries(spark, queries), k, id_col=id_col, lon=lon, lat=lat,
    )


def clustered_candidates(
    spark: SparkSession,
    path: str,
    shapes: list,
    with_stats: bool = False,
    snapshot_id: int | None = None,
):
    """Manifest-pruned candidate scan for a set of shapes (e.g. a polygon
    layer): one union-of-covers range set, one pruned scan. Callers run
    their exact join/refine on the result; pruning is conservative by
    construction."""
    man = load_manifest(path, snapshot_id)
    all_ranges: list[tuple[int, int]] = []
    for s in shapes:
        all_ranges.extend(cover_ranges(s, man["level"]))
    ranges = [(lo, hi) for lo, hi in _merge_ranges(all_ranges)]
    df, stats = read_pruned(spark, path, ranges, snapshot_id=snapshot_id)
    out = df.drop(CELL_COL)
    return (out, stats) if with_stats else out


# ---------------------------------------------------------------------------
# incremental (CDC-style) scans, resumable consumer, metadata tables
# ---------------------------------------------------------------------------


def _incremental_added(
    path: str, from_snapshot: int, to_snapshot: int
) -> list[tuple[dict, list[str]]]:
    """Per-snapshot ADDED data files over ``(from, to]`` — the shared
    core of ``incremental_scan`` and the streaming source.  Walks the snapshot chain
    and diffs consecutive file lists; raises if the range crosses a
    commit whose row-level effect is not pure insertion, or if any
    snapshot in the range was expired (same failure mode as Iceberg:
    an incremental consumer that falls behind the retention window
    must re-bootstrap from a full scan)."""
    frm, to = int(from_snapshot), int(to_snapshot)
    if to < frm:
        raise ValueError(
            f"incremental scan of {path}: to_snapshot {to} precedes "
            f"from_snapshot {frm}"
        )
    # walk the lineage CHAIN ending at `to` (not an id range: with
    # branches, ids from different lineages interleave, and expired
    # history breaks the chain — both must fail loudly, not mis-diff)
    chain = _history_chain(path, to)
    ids = [m["snapshot_id"] for m in chain]
    if frm > 0:
        if frm not in ids:
            raise ValueError(
                f"incremental scan of {path}: from_snapshot {frm} was "
                f"expired or is not an ancestor of {to}; reachable "
                f"snapshots: {ids} (re-bootstrap the consumer from a "
                "full scan)"
            )
        start = ids.index(frm)
        prev_files = {e["file"] for e in chain[start]["files"]}
        walk = chain[start + 1:]
    else:
        if chain[0]["parent_id"] is not None:
            raise ValueError(
                f"incremental scan of {path}: history before snapshot "
                f"{ids[0]} was expired; reachable snapshots: {ids} "
                "(re-bootstrap the consumer from a full scan)"
            )
        prev_files = set()
        walk = chain
    out: list[tuple[dict, list[str]]] = []
    for man in walk:
        sid, op = man["snapshot_id"], man["operation"]
        files = {e["file"] for e in man["files"]}
        if op == "append" or (op == "overwrite" and not prev_files):
            # an overwrite of an EMPTY table (the initial write) is
            # pure insertion; any other overwrite replaces rows
            added = sorted(files - prev_files)
            if added:
                out.append((man, added))
        elif op == "replace":
            pass  # compaction / re-cluster reorganizes existing rows
        else:
            raise ValueError(
                f"incremental scan of {path}: snapshot {sid} is a "
                f"{op!r} commit, whose row-level effect is not "
                "expressible as appended rows — scan ranges must not "
                "cross overwrite/delete/upsert/rollback commits "
                "(re-bootstrap the consumer from a full scan instead)"
            )
        prev_files = files
    return out


def incremental_scan(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
    snapshot_col: str | None = None,
) -> DataFrame:
    """Rows ADDED to the table over ``(from_snapshot, to_snapshot]`` —
    the Iceberg incremental-append-scan analog, and the read half of
    the resumable-pipeline contract (``next_increment``): a downstream
    consumer that remembers the last snapshot it processed reads
    exactly the new rows, never rescanning the table.  Cost scales
    with the increment (only the added files are listed in the scan),
    not with table size — the property that makes a 10^12-row table's
    derived pipelines incremental.

    Semantics (per commit operation, matching Iceberg's
    IncrementalAppendScan):

    - ``append`` commits contribute exactly their added files;
    - ``replace`` (compaction / re-cluster) contributes nothing — it
      reorganizes rows that already streamed past the consumer;
    - ``overwrite``/``delete``/``upsert``/``rollback`` RAISE: their
      row-level effect is not a set of inserted rows.  The one allowed
      overwrite is the initial write of an empty table
      (``from_snapshot=0`` on a fresh table), which is pure insertion.

    Each contributing batch is read with ITS OWN commit's schema and
    batches are aligned by name (add-column evolution mid-range yields
    NULLs for rows that predate the column); ``snapshot_col`` adds the
    committing snapshot id to every row (per-batch lineage). A day
    table's rows keep their ``_day`` column."""
    cur = load_manifest(path)
    to = int(cur["snapshot_id"]) if to_snapshot is None else int(to_snapshot)
    parts = []
    for man, added in _incremental_added(path, int(from_snapshot), to):
        df = _read_files(spark, path, man, added)
        if snapshot_col is not None:
            df = df.withColumn(
                snapshot_col, F.lit(int(man["snapshot_id"])).cast("long")
            )
        parts.append(df)
    if not parts:
        to_man = cur if to == int(cur["snapshot_id"]) else load_manifest(path, to)
        schema = _read_schema(to_man)
        if snapshot_col is not None:
            from pyspark.sql.types import LongType, StructField, StructType

            # non-nullable, as the non-empty arm's literal column is
            schema = StructType([*schema.fields, StructField(snapshot_col, LongType(), False)])
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


@dataclass
class Increment:
    """One unprocessed increment of a clustered table, handed out by
    ``next_increment``.  ``commit()`` advances the consumer state to
    ``to_snapshot`` — call it AFTER the downstream sink has durably
    accepted ``df``.  A crash before commit re-delivers this same
    increment on the next call (at-least-once); pair with an
    idempotent / fingerprinted sink (``checkpoint.SnapshotStore``) for
    end-to-end exactly-once."""

    df: DataFrame
    from_snapshot: int
    to_snapshot: int
    state_path: str

    def commit(self) -> None:
        _atomic_json_write(
            self.state_path,
            {
                "snapshot_id": int(self.to_snapshot),
                "committed_at": time.time(),
            },
        )


def _consumer_position(state_path: str) -> int:
    try:
        with open(state_path) as f:
            return int(json.load(f)["snapshot_id"])
    except FileNotFoundError:
        return 0


def next_increment(
    spark: SparkSession,
    path: str,
    state_path: str,
    snapshot_col: str | None = None,
) -> Increment | None:
    """The resumable-consumer loop step (north_rule: "resumable from
    Iceberg snapshot checkpoints"): read the last-processed snapshot id
    from ``state_path`` (0 if absent — a fresh consumer), and return the
    unprocessed increment up to the table's CURRENT snapshot, or None
    when the consumer is caught up.  The caller processes
    ``increment.df``, lands the result durably, THEN calls
    ``increment.commit()`` — the state write is atomic, so the consumer
    resumes correctly from any crash point:

        while (inc := next_increment(spark, table, state)) is not None:
            sink(inc.df)      # idempotent sink => exactly-once
            inc.commit()
    """
    last = _consumer_position(state_path)
    cur = int(load_manifest(path)["snapshot_id"])
    if cur <= last:
        return None
    df = incremental_scan(spark, path, last, cur, snapshot_col=snapshot_col)
    return Increment(
        df=df, from_snapshot=last, to_snapshot=cur, state_path=state_path
    )


def files_df(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """The table's file-level metadata as a DataFrame — the Iceberg
    ``.files`` metadata-table analog: one row per manifest entry with
    its row count, primary cell bounds, per-column [min,max] stats
    (JSON), and its day partition (NULL on a flat table).  Answered
    entirely from the manifest — no data file is opened — and
    time-travels with ``snapshot_id`` like every other reader.
    Together with ``snapshot_log_df`` (the ``.snapshots`` /
    ``.history`` analog) this completes the metadata-table surface the
    north rule's "per-partition lineage and metrics tables" names.

    ``added_snapshot_id`` is the per-file lineage column — the snapshot
    that first listed the file (see ``_added_map``).  On a flat table
    the range-clustered FILE is the partition unit, so this table
    doubles as the ``.partitions`` analog; ``partitions_df`` rolls it up
    per day."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    man = load_manifest(path, snapshot_id)
    added = _added_map(path, man["snapshot_id"])
    schema = StructType(
        [
            StructField("file", StringType(), False),
            StructField("day", StringType(), True),
            StructField("rows", LongType(), False),
            StructField("cell_min", LongType(), False),
            StructField("cell_max", LongType(), False),
            StructField("added_snapshot_id", IntegerType(), True),
            StructField("column_stats", StringType(), True),
        ]
    )
    rows = [
        (
            e["file"],
            e.get("day"),
            int(e["rows"]),
            int(e["min"]),
            int(e["max"]),
            added.get(e["file"]),
            json.dumps(e["cols"], sort_keys=True, default=str)
            if e["cols"]
            else None,
        )
        for e in man["files"]
    ]
    return spark.createDataFrame(rows, schema)


def partitions_df(
    spark: SparkSession, path: str, snapshot_id: int | str | None = None
) -> DataFrame:
    """Per-DAY lineage + metrics — the Iceberg ``.partitions``
    metadata-table analog, rolled up over a day table's partition axis:
    file count, row count, the cell span the day's files cover, the
    snapshot that last changed the day (``last_updated_snapshot`` = max
    of its files' lineage ids), and the count of pending MOR delete
    files targeting the day.  Answered from the manifest alone;
    time-travels (id or tag name) like every other reader. A flat
    table rolls up into one row whose ``day`` is NULL."""
    man = load_manifest(path, snapshot_id)
    added = _added_map(path, man["snapshot_id"])
    del_targets: dict[str, int] = {}
    for d in man["deletes"]:
        for t in d["targets"]:
            del_targets[t] = del_targets.get(t, 0) + 1
    days: dict = {}
    for e in man["files"]:
        p = days.setdefault(
            e.get("day"),
            {"n_files": 0, "n_rows": 0, "cell_min": None, "cell_max": None,
             "last_updated_snapshot": None, "n_pending_delete_files": 0},
        )
        p["n_files"] += 1
        p["n_rows"] += int(e["rows"])
        lo, hi = int(e["min"]), int(e["max"])
        p["cell_min"] = lo if p["cell_min"] is None else min(p["cell_min"], lo)
        p["cell_max"] = hi if p["cell_max"] is None else max(p["cell_max"], hi)
        sid = added.get(e["file"])
        if sid is not None:
            last = p["last_updated_snapshot"]
            p["last_updated_snapshot"] = sid if last is None else max(last, sid)
        p["n_pending_delete_files"] += del_targets.get(e["file"], 0)
    rows = [
        (day, p["n_files"], p["n_rows"], p["cell_min"], p["cell_max"],
         p["last_updated_snapshot"], p["n_pending_delete_files"])
        for day, p in sorted(days.items(), key=lambda kv: kv[0] or "")
    ]
    return spark.createDataFrame(
        rows,
        "day string, n_files int, n_rows bigint, cell_min bigint, "
        "cell_max bigint, last_updated_snapshot int, "
        "n_pending_delete_files int",
    )


def delete_files_df(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """The snapshot's PENDING merge-on-read delete files as a DataFrame
    — the Iceberg ``.delete_files`` metadata-table analog: one row per
    delete file with its kind ('pos' = position pairs, 'eq' = key
    values), the equality key column (NULL for position files), row
    count, and target-file count. Answered from the manifest alone;
    empty after compaction materializes the chain."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    man = load_manifest(path, snapshot_id)
    schema = StructType(
        [
            StructField("file", StringType(), False),
            StructField("kind", StringType(), False),
            StructField("key", StringType(), True),
            StructField("rows", LongType(), False),
            StructField("n_targets", IntegerType(), False),
        ]
    )
    rows = [
        (
            d["file"],
            d["kind"],
            d.get("key"),
            int(d["rows"]),
            len(d["targets"]),
        )
        for d in man["deletes"]
    ]
    return spark.createDataFrame(rows, schema)
