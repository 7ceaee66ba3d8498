"""Archives (zip/tar) as a first-class Spark data source.

``spark.read.format("archive").load("/data/*.zip")`` via PySpark 4's
public Python DataSource API — the engine's one read path for archive
members (:func:`oarphpy_spark.sources.archive.archive_df` wraps it; the
member listing and reads live in :mod:`oarphpy_spark.sources.archive`).
Same lazy-flyweight contract as the reference's ``archive_rdd``
(reference ``oarphpy/spark.py:457-459`` /
``util/archive_flyweight.py:44-137``):

* planning reads only archive *metadata* (zip central directory / tar
  index) — member names, never bytes;
* each :class:`InputPartition` is one archive + a slice of its member
  names, so many-small-files-in-one-archive parallelizes without
  namenode-scale listings;
* executors open their archive locally and emit Arrow batches — bytes
  never pass through the driver.

Option: ``path``, an absolute archive file or glob (planning runs in
a Python worker, whose cwd is not the driver's).
"""

from __future__ import annotations

import glob as _glob
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
)

from oarphpy_spark.sources.archive import _list_members, _read_members

MEMBERS_PER_PARTITION = 256

ARCHIVE_V2_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("name", StringType()),
        StructField("data", BinaryType()),
    ]
)


@dataclass
class _MembersPartition(InputPartition):
    archive: str
    names: list[str]


class ArchiveReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("archive source requires a path")

    def partitions(self):
        archives = sorted(_glob.glob(self._path)) or [self._path]
        per_part = MEMBERS_PER_PARTITION
        parts: list[_MembersPartition] = []
        for ar in archives:
            names = _list_members(ar)
            for i in range(0, len(names), per_part):
                parts.append(_MembersPartition(ar, names[i : i + per_part]))
        return parts or [_MembersPartition(self._path, [])]

    def read(self, partition: _MembersPartition):
        import pyarrow as pa

        if not partition.names:
            return

        def emit(names: list[str], datas: list[bytes]):
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([partition.archive] * len(datas), pa.string()),
                    pa.array(names, pa.string()),
                    pa.array(datas, pa.binary()),
                ],
                names=["archive", "name", "data"],
            )

        # Bound each Arrow batch by bytes: pa.binary() offsets are
        # int32, so a batch of large members must split well under 2 GB.
        max_bytes = 64 << 20
        names: list[str] = []
        datas: list[bytes] = []
        nbytes = 0
        for name, data in zip(
            partition.names, _read_members(partition.archive, partition.names)
        ):
            names.append(name)
            datas.append(data)
            nbytes += len(data)
            if nbytes >= max_bytes:
                yield emit(names, datas)
                names, datas, nbytes = [], [], 0
        if datas:
            yield emit(names, datas)


class ArchiveDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "archive"

    def schema(self) -> StructType:
        return ARCHIVE_V2_SCHEMA

    def reader(self, schema) -> ArchiveReader:
        return ArchiveReader(self.options)


def register(spark) -> None:
    """Register the ``archive`` format with a session (idempotent)."""
    spark.dataSource.register(ArchiveDataSource)
