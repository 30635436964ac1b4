"""Structured Streaming SOURCE over a snapshot-versioned clustered
table — the Iceberg streaming-read analog, as a native PySpark data
source (`pyspark.sql.datasource`, Spark 4's Python Data Source API):

    spark.dataSource.register(ClusteredAppendsSource)
    df = (spark.readStream.format("clustered-appends")
            .option("path", table_path).load())

Semantics (shared with ``io.clustered.incremental_scan`` — both ride
``_incremental_added``):

- **offsets are snapshot ids.**  ``latestOffset`` is the table's
  current snapshot; each micro-batch covers the snapshot range
  ``(start, end]`` and its partitions are exactly the data files those
  commits APPENDED — so a batch never re-reads table history, and the
  degree of parallelism is the number of new files.
- **exactly-once comes from Spark's own offset log.**  The source
  stores nothing: Spark checkpoints the snapshot-id offsets, replays
  the same range on recovery, and the range's file list is a pure
  function of the immutable snapshot manifests.
- **append commits contribute; replace (compaction / re-cluster)
  commits are skipped** (they reorganize existing rows); a commit whose
  row-level effect is not pure insertion (overwrite of a non-empty
  table, delete, upsert, rollback) FAILS the stream — an incremental
  consumer cannot express row replacement and must re-bootstrap from a
  full scan, exactly Iceberg's incremental-append contract.  Pending
  MOR deletes never apply to the streamed files: delete/upsert commits
  (the only producers of delete files) are rejected above, so every
  streamed file is read as committed.
- **every file is read through the table's one read spec**
  (``io.clustered._read_files_local`` on the executor): the schema is
  the manifest's (add-column evolution: files written before an
  evolution stream with the CURRENT schema, missing columns as nulls),
  and a day-partitioned table's rows carry ``_day``, read from the
  file's directory — the same contract the batch readers pin.

At design scale this is the change-data feed of a 100 TB table: the
driver touches only manifest metadata per trigger, executors read only
the appended files, and a consumer that falls behind the snapshot
retention window fails loudly (expired range) instead of silently
skipping data.

No rate limiting (``maxFilesPerTrigger``): the Python stream-reader API
has no bounded-``latestOffset`` hook in Spark 4.1; a trigger consumes
everything since the last one, like the batch consumer loop.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from spatial4n_spark.io import clustered as C


@dataclass
class _AppendedFile(InputPartition):
    """One appended data file of one commit — the unit of read
    parallelism.  Carries everything ``read`` needs (it runs stateless
    on an executor): the table path, the file's manifest-relative name,
    and the stream's read spec as a manifest stub (the file schema and
    the day spec; appended files have no pending deletes)."""

    table_path: str
    file: str
    spec: dict


class _ClusteredStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._path = options["path"]
        self._from = int(options.get("fromsnapshot", 0))
        # the stream's schema is the read schema of its start: the
        # files' columns, then _day on a day table
        day_of = C.load_manifest(self._path).get("day_of")
        files = StructType([f for f in schema.fields if not (day_of and f.name == C.DAY_COL)])
        self._spec = {"schema": files.json(), "day_of": day_of, "deletes": []}

    def _current(self) -> int:
        return C.load_manifest(self._path)["snapshot_id"]

    def initialOffset(self) -> dict:
        return {"snapshot_id": self._from}

    def latestOffset(self) -> dict:
        return {"snapshot_id": self._current()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        frm, to = int(start["snapshot_id"]), int(end["snapshot_id"])
        if to <= frm:
            return []
        return [
            _AppendedFile(self._path, rel, self._spec)
            for _man, files in C._incremental_added(self._path, frm, to)
            for rel in files
        ]

    def read(self, partition: _AppendedFile):
        yield from C._read_files_local(
            partition.table_path, partition.spec, [partition.file]
        ).to_batches()

    def commit(self, end: dict) -> None:
        pass  # Spark's offset log is the source of truth


class ClusteredAppendsSource(DataSource):
    """``spark.readStream.format("clustered-appends")`` — see module
    docstring.  Options: ``path`` (table dir, required),
    ``fromSnapshot`` (exclusive start offset for a FRESH checkpoint;
    default 0 = the whole table, its initial write counting as the seed
    batch)."""

    @classmethod
    def name(cls) -> str:
        return "clustered-appends"

    def schema(self) -> StructType:
        return C._read_schema(C.load_manifest(self.options["path"]))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _ClusteredStreamReader(schema, dict(self.options))


def read_clustered_stream(
    spark: SparkSession,
    path: str,
    from_snapshot: int | None = None,
) -> DataFrame:
    """Convenience wrapper: register the source (idempotent) and open
    the stream."""
    spark.dataSource.register(ClusteredAppendsSource)
    r = spark.readStream.format("clustered-appends").option("path", path)
    if from_snapshot is not None:
        r = r.option("fromSnapshot", int(from_snapshot))
    return r.load()
