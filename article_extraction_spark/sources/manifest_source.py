"""The snapshot catalog as a Spark-native format (round 4):
``df.write.format("manifest_table")`` / ``spark.read.format("manifest_table")``
via the Spark-4 python data source API.

The write path maps EXACTLY onto the table layer's transaction model:
executors stream their Arrow batches into parquet files inside a
per-write commit directory (`DataSourceArrowWriter.write`, one file per
non-empty partition), and the DRIVER performs the single atomic
manifest commit over the collected file list (`commit`), with
`ManifestTable.commit_files`'s rebase-and-retry CAS handling concurrent
writers. `commit_files` never deletes the files it is handed: the sink
owns them, and `abort` sweeps the commit directory, so a failed job
leaves neither a manifest nor orphan data files. Files the sink drops (a
failed attempt's partial file, a replayed micro-batch) go through the
table layer's one discard helper, `catalog.discard_files`. This is the
same executors-write/driver-commits split every transactional Spark
sink (Iceberg/Delta) uses, expressed through the public python API.

    spark.dataSource.register(ManifestTableDataSource)
    df.write.format("manifest_table").option("root", path).mode("append").save()
    spark.read.format("manifest_table").option("root", path).load()
    # time travel: .option("snapshot_id", 3)

The reader plans one partition per data file of the resolved snapshot
and yields Arrow batches straight from the parquet footers, aligning
older files to the current schema (columns added by later merges read
as NULL — same contract as ManifestTable.read).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ..catalog import ManifestTable, discard_files


class _FilesMessage(WriterCommitMessage):
    def __init__(self, files: list[str]):
        self.files = files


class _ManifestWriter(DataSourceArrowWriter):
    def __init__(self, root: str, schema: StructType, overwrite: bool):
        self.root = root
        self.schema_json = schema.json()
        self.overwrite = overwrite
        # one commit dir per write job: abort() can sweep it wholesale
        self.commit_dir = f"data/commit-{uuid.uuid4().hex[:12]}"

    def write(self, iterator):
        import pyarrow.parquet as pq

        writer = None
        out_rel = f"{self.commit_dir}/part-{uuid.uuid4().hex[:12]}.parquet"
        out_abs = os.path.join(self.root, out_rel)
        n = 0
        try:
            for batch in iterator:
                if writer is None:
                    os.makedirs(os.path.dirname(out_abs), exist_ok=True)
                    writer = pq.ParquetWriter(out_abs, batch.schema)
                writer.write_batch(batch)
                n += batch.num_rows
        except BaseException:
            # a failed ATTEMPT must not leave a partial file behind: on
            # task retry the job can still SUCCEED, commit only the
            # retry's file, and never call abort — the partial would be
            # a permanent orphan inside the table root (review r4)
            if writer is not None:
                writer.close()
                writer = None
            discard_files(self.root, [out_rel])
            raise
        if writer is not None:
            writer.close()
        if n == 0:
            if writer is not None:  # batches arrived but carried 0 rows
                discard_files(self.root, [out_rel])
            return _FilesMessage([])
        return _FilesMessage([out_rel])

    def commit(self, messages):
        files = [f for m in messages if m is not None for f in m.files]
        ManifestTable(self.root).commit_files(
            files, self.schema_json, "overwrite" if self.overwrite else "append"
        )

    def abort(self, messages):
        shutil.rmtree(os.path.join(self.root, self.commit_dir), ignore_errors=True)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _ManifestReader(DataSourceReader):
    def __init__(self, root: str, manifest: dict):
        self.root = root
        self.files = manifest["files"]
        self.schema_json = manifest["schema"]

    def partitions(self):
        return [_FilePartition(os.path.join(self.root, f)) for f in self.files]

    def read(self, partition):
        # an empty snapshot plans an empty partition list, which pyspark's
        # worker replaces with [None] — yield nothing, matching
        # ManifestTable.read's empty-DataFrame contract (review r4)
        if partition is None:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(StructType.fromJson(__import__("json").loads(self.schema_json)))
        pf = pq.ParquetFile(partition.path)
        for batch in pf.iter_batches():
            # full schema equality, not just names: a pre-widening file
            # can match by name with narrower TYPES (k:int32 vs the
            # merged k:int64) and must go through the cast path too
            if batch.schema.equals(target):
                yield batch
                continue
            # older file: align to the current schema (later-merge columns
            # read as NULL, same as ManifestTable.read's spark.read.schema)
            cols = []
            for field in target:
                if field.name in batch.schema.names:
                    cols.append(batch.column(field.name).cast(field.type))
                else:
                    cols.append(pa.nulls(batch.num_rows, field.type))
            yield pa.RecordBatch.from_arrays(cols, schema=target)


class ManifestTableDataSource(DataSource):
    """``format("manifest_table")``; options: ``root`` (required),
    ``snapshot_id`` (reads only; defaults to the current head)."""

    @classmethod
    def name(cls) -> str:
        return "manifest_table"

    def _table(self):
        root = self.options.get("root")
        if not root:
            raise ValueError("manifest_table requires .option('root', <table root>)")
        return ManifestTable(root)

    def _manifest(self) -> dict:
        # resolve the snapshot ONCE per DataSource instance: schema()
        # runs at analysis and reader() at planning, and a commit landing
        # between them would make the reader align batches to a schema
        # the scan never declared (review r4). One relation = one pinned
        # snapshot.
        if getattr(self, "_cached_manifest", None) is None:
            t = self._table()
            snap = self.options.get("snapshot_id")
            version = int(snap) if snap is not None else t.current_snapshot_id()
            if version is None:
                raise FileNotFoundError(f"no snapshots in {t.root}")
            self._cached_manifest = t._load(version)
        return self._cached_manifest

    def schema(self):
        import json

        return StructType.fromJson(json.loads(self._manifest()["schema"]))

    def reader(self, schema: StructType) -> _ManifestReader:
        import json

        manifest = self._manifest()
        if schema.json() != manifest["schema"]:
            manifest_schema = StructType.fromJson(json.loads(manifest["schema"]))
            if schema != manifest_schema:
                raise ValueError(
                    "manifest_table derives its schema from the snapshot "
                    "manifest — drop the user-supplied .schema(...) "
                    f"(got {schema.simpleString()}, table is "
                    f"{manifest_schema.simpleString()})"
                )
        return _ManifestReader(self._table().root, manifest)

    def writer(self, schema: StructType, overwrite: bool) -> _ManifestWriter:
        return _ManifestWriter(self._table().root, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "manifest_table streaming sink is append-only "
                "(use outputMode('append'))"
            )
        writer_id = self.options.get("writer_id")
        if not writer_id:
            raise ValueError(
                "manifest_table streaming sink requires .option('writer_id', "
                "<stable pipeline id, e.g. the checkpoint path>): the replay "
                "guard is keyed on (writer_id, batchId) — without an identity "
                "a second pipeline's batches would be dropped as replays"
            )
        return _ManifestStreamWriter(self._table().root, schema, writer_id)


class _ManifestStreamWriter(_ManifestWriter, DataSourceStreamArrowWriter):
    """Streaming sink for the catalog, exactly-once the way Iceberg/Delta
    do it: every committed micro-batch's manifest records the writing
    PIPELINE's identity plus the micro-batch id, and commit() checks the
    writer's latest committed batch first — a replayed batch (engine
    crashed after the sink committed but before the checkpoint recorded
    it) sees batchId ≤ last committed, deletes the duplicate files it
    just wrote, and returns without a second commit.

    ``writer_id`` is REQUIRED and must be stable across restarts of the
    same pipeline but unique between pipelines (use the checkpoint
    location). Keying the guard on batchId alone silently destroyed a
    SECOND query's batch 0 as a "replay" of the first query's (review
    r4, reproduced) — Delta/Iceberg key on (appId/queryId, batchId) for
    exactly this reason, and the python datasource API does not expose
    the engine's queryId. Append-only (streaming overwrite is refused).

    Inherits the batch writer's executor-side file-per-partition
    ``write`` (and its failed-attempt cleanup)."""

    def __init__(self, root: str, schema: StructType, writer_id: str):
        super().__init__(root, schema, overwrite=False)
        self.writer_id = writer_id

    def commit(self, messages, batchId: int) -> None:
        t = ManifestTable(self.root)
        files = [f for m in messages if m is not None for f in m.files]
        last = t.last_stream_batch(self.writer_id)
        if last is not None and batchId <= last:
            discard_files(self.root, files)  # replay: already committed
            return
        # operation MUST be the literal "append": the rebase keeps the
        # head's files only for that operation and treats any other
        # string as a wholesale overwrite (the identity lives in the
        # manifest metadata, not the operation name)
        t.commit_files(
            files,
            self.schema_json,
            "append",
            extra_meta={"stream_writer": self.writer_id, "stream_batch": batchId},
        )

    def abort(self, messages, batchId: int) -> None:
        discard_files(
            self.root, [f for m in messages if m is not None for f in m.files]
        )
