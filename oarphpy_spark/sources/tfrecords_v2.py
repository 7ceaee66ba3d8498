"""TFRecords as a first-class Spark data source (Python DataSource API).

``spark.read.format("tfrecords")`` / ``df.write.format("tfrecords")``
via PySpark 4's public ``pyspark.sql.datasource`` V2 API — the
engine's one read path for TFRecord-framed files
(:func:`oarphpy_spark.sources.tfrecords.tfrecords_df` and
:func:`oarphpy_spark.sources.tfevents.tf_summary_df` wrap it). The
byte-level implementation — record framing, masked crc32c, truncation
checks — lives in ``oarphpy_spark.sources.tfrecords``.

Capability parity target: the reference's TFRecord interop
(``oarphpy/util/tfutil.py``) required the TF runtime; here the format
is plain bytes and the planner sees a real source:

* one :class:`InputPartition` per file — TFRecord streams are not
  splittable without an external index, so per-file parallelism is the
  correct (and standard) granularity; lots of files -> lots of tasks.
* ``read`` yields Arrow ``RecordBatch``es (columnar transfer to the
  JVM, no per-row pickling).
* the writer emits one ``part-<taskid>.tfrecord`` per partition and
  commits are append-only files — idempotent overwrite at the
  directory level, exactly like Spark's file sinks.

``path`` is an absolute file or glob: planning runs in a Python
worker, whose cwd is not the driver's. Registration is explicit and
per-session::

    from oarphpy_spark.sources.tfrecords_v2 import register
    register(spark)
    df = spark.read.format("tfrecords").load("/data/*.tfrecord")
"""

from __future__ import annotations

import glob as _glob
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BATCH_ROWS = 4096

TFRECORDS_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("record_idx", LongType()),
        StructField("record", BinaryType()),
    ]
)


@dataclass
class _FilePartition(InputPartition):
    path: str


class TFRecordsReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("tfrecords source requires a path")

    def partitions(self):
        # Driver-side listing. Local/posix glob here; object-store
        # deployments list via their own SDK — the partition model
        # (one file, one task) is unchanged.
        paths = sorted(_glob.glob(self._path)) or [self._path]
        return [_FilePartition(p) for p in paths]

    def read(self, partition: _FilePartition):
        import pyarrow as pa

        from oarphpy_spark.sources.tfrecords import iter_tfrecords

        def batches():
            # Bound each batch by rows AND bytes: pa.binary() offsets
            # are int32, so one batch must stay well under 2 GB.
            max_bytes = 64 << 20
            idxs: list[int] = []
            recs: list[bytes] = []
            nbytes = 0
            with open(partition.path, "rb") as f:
                for i, rec in enumerate(iter_tfrecords(f)):
                    idxs.append(i)
                    recs.append(rec)
                    nbytes += len(rec)
                    if len(recs) >= BATCH_ROWS or nbytes >= max_bytes:
                        yield idxs, recs
                        idxs, recs, nbytes = [], [], 0
            if recs:
                yield idxs, recs

        for idxs, recs in batches():
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([partition.path] * len(recs), pa.string()),
                    pa.array(idxs, pa.int64()),
                    pa.array(recs, pa.binary()),
                ],
                names=["path", "record_idx", "record"],
            )


@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str
    final: str
    n_records: int


class TFRecordsWriter(DataSourceWriter):
    """Two-phase commit like Spark's own file sinks: tasks write into a
    hidden ``_staging`` dir (task retries / speculative attempts each
    stage a distinct uuid file, invisible to readers), and only the
    driver-side ``commit`` — called once with exactly one message per
    successful task — publishes the chosen attempt's file. Requires a
    filesystem shared between driver and executors (true for local
    mode and any distributed fs; an object-store deployment would swap
    the rename for its own commit protocol)."""

    def __init__(self, options, overwrite: bool):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("tfrecords sink requires a path")
        # Constructed driver-side (DataSource.writer), so overwrite can
        # clear prior output before any task runs.
        if overwrite and os.path.isdir(self._dir):
            for f in os.listdir(self._dir):
                if f.endswith(".tfrecord"):
                    os.remove(os.path.join(self._dir, f))

    @property
    def _staging(self) -> str:
        return os.path.join(self._dir, "_staging")

    def write(self, iterator: Iterator) -> _StagedFile:
        """Runs on executors: one staged file per task attempt. The
        ``record`` field (or the single binary column) is the payload."""
        from oarphpy_spark.sources.tfrecords import write_tfrecords

        os.makedirs(self._staging, exist_ok=True)
        name = f"part-{uuid.uuid4().hex[:12]}.tfrecord"
        staged = os.path.join(self._staging, name)
        n = 0
        with open(staged, "wb") as f:
            chunk: list[bytes] = []
            for row in iterator:
                data = row["record"] if "record" in row.__fields__ else row[0]
                chunk.append(bytes(data))
                n += 1
                if len(chunk) >= 1024:
                    write_tfrecords(f, chunk)
                    chunk = []
            if chunk:
                write_tfrecords(f, chunk)
        return _StagedFile(
            staged=staged, final=os.path.join(self._dir, name), n_records=n
        )

    def commit(self, messages):
        for m in messages:
            if m is not None:
                os.replace(m.staged, m.final)
        self._cleanup_staging()

    def abort(self, messages):
        self._cleanup_staging()

    def _cleanup_staging(self):
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)


class TFRecordsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tfrecords"

    def schema(self) -> StructType:
        return TFRECORDS_SCHEMA

    def reader(self, schema) -> TFRecordsReader:
        return TFRecordsReader(self.options)

    def writer(self, schema, overwrite: bool) -> TFRecordsWriter:
        return TFRecordsWriter(self.options, overwrite)


def register(spark) -> None:
    """Register the ``tfrecords`` format with a session (idempotent)."""
    spark.dataSource.register(TFRecordsDataSource)
