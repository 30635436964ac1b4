"""Streaming ingest into the Hilbert-range-clustered layout.

``foreachBatch`` + ``io.clustered.append_clustered``: every micro-batch
lands as fresh sorted files with TRUE per-file stats (queries over the
table stay exactly correct mid-ingest), and a periodic
``compact_clustered`` restores the one-sorted-run locality — the
log-structured ingest loop of an Iceberg-style table reproduced on
plain parquet.

Delivery semantics: foreachBatch replays a batch after a failure, so a
bare append sink is at-least-once. A batch ledger (`_BATCHES`) makes
the replay path idempotent for the common restart case: an entry
already in the ledger is skipped. Entries are keyed by
(checkpoint, batch_id), NOT bare batch_id — Spark numbers every
stream's batches from 0, so a bare-id ledger would silently swallow a
SECOND stream ingesting different data into the same table. The ledger
append is not atomic with the data write — a crash in the window
between them would duplicate one batch on replay; a production table
format closes that window with an atomic metadata commit (the thing
Iceberg snapshots actually buy). Compaction leaves the ledger in place
(it sweeps only data files), so idempotency survives compactions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

BATCH_LEDGER = "_BATCHES"


def _seen_batches(path: str) -> set[str]:
    try:
        with open(os.path.join(path, BATCH_LEDGER)) as f:
            return {x for x in f.read().split() if x}
    except OSError:
        return set()


def stream_to_clustered(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    lon: str = "lon",
    lat: str = "lat",
    files_per_batch: int = 2,
    branch: str | None = None,
):
    """Start an availableNow ingest of ``stream`` into the clustered
    table at ``path`` (which must already exist — create it with
    ``write_clustered``, possibly on an empty frame, so the manifest
    carries the cluster level and, on a day table, the day spec: each
    micro-batch's rows then land in their day directories). Returns
    the StreamingQuery.

    With ``branch=`` (create it first), every micro-batch STAGES onto
    that branch — audited streaming ingest: the main table is untouched
    while the stream runs, the staged state reads by name at any point,
    and ONE ``fast_forward_clustered`` publishes the whole ingest
    atomically (or ``drop_branch`` discards it)."""
    from spatial4n_spark.io.clustered import append_clustered

    import hashlib

    ck = hashlib.md5(os.path.abspath(checkpoint).encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        key = f"{ck}:{batch_id}"
        if key in _seen_batches(path):
            return
        append_clustered(batch_df, path, lon=lon, lat=lat,
                         files=files_per_batch, branch=branch)
        with open(os.path.join(path, BATCH_LEDGER), "a") as f:
            f.write(f"{key}\n")

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_to_clustered(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key: str,
    lon: str = "lon",
    lat: str = "lat",
    files_per_batch: int = 2,
    strategy: str = "mor",
):
    """Streaming CDC MERGE into the clustered table: every micro-batch
    UPSERTS by ``key`` (``io.clustered.upsert_clustered``) instead of
    appending — the latest version of each key wins across batches, the
    Iceberg upsert-sink analog.

    ``strategy='mor'`` (default) is the shape built for streams: each
    batch commits an equality-delete file + its data files in O(batch)
    without ever reading the table, so sink latency is independent of
    table size; a periodic ``compact_clustered`` retires the pending
    chain. ``strategy='cow'`` trades that for zero read-side overhead.

    Replay is doubly protected: the (checkpoint, batch_id) ledger skips
    a batch already applied, and an MOR upsert replay is itself
    idempotent on the ROW SET (re-deleting the keys and re-appending
    reproduces the same live rows) — the ledger's job is to avoid the
    duplicate snapshot, not to rescue correctness. Rows within one
    micro-batch are upserted as given: a batch carrying several
    versions of one key lands them all (deduplicate upstream, e.g.
    ``dropDuplicatesWithinWatermark`` on the key, if the source can
    emit intra-batch duplicates)."""
    import hashlib

    from spatial4n_spark.io.clustered import upsert_clustered

    ck = hashlib.md5(os.path.abspath(checkpoint).encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        bkey = f"{ck}:{batch_id}"
        if bkey in _seen_batches(path):
            return
        upsert_clustered(
            batch_df.sparkSession,
            batch_df,
            path,
            key=key,
            lon=lon,
            lat=lat,
            files=files_per_batch,
            strategy=strategy,
        )
        with open(os.path.join(path, BATCH_LEDGER), "a") as f:
            f.write(f"{bkey}\n")

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
