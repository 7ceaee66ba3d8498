"""Archive (zip/tar) members as a DataFrame source.

Capability parity with the reference's ``archive_rdd`` flyweights
(reference ``oarphpy/spark.py:457-459``,
``oarphpy/util/archive_flyweight.py:44-137``), DataFrame-native.
:func:`archive_df` is a thin wrapper over the ``archive`` data source
(:mod:`oarphpy_spark.sources.archive_v2`), which plans from member
*names* only and reads bytes on executors; this module holds the
byte-level member listing and reads both share.

For directories of loose files use Spark's stock binary-file source
instead — this source exists for the many-small-files-in-one-archive
layout where per-file listing would swamp the namenode.
"""

from __future__ import annotations

import os
import tarfile
import zipfile

from pyspark.sql import DataFrame, SparkSession


def _list_members(path: str) -> list[str]:
    if zipfile.is_zipfile(path):
        with zipfile.ZipFile(path) as z:
            return [i.filename for i in z.infolist() if not i.is_dir()]
    if tarfile.is_tarfile(path):
        with tarfile.open(path) as t:
            return [m.name for m in t.getmembers() if m.isfile()]
    raise ValueError(f"not a zip or tar archive: {path}")


def _read_members(path: str, names: list[str]) -> list[bytes]:
    if zipfile.is_zipfile(path):
        with zipfile.ZipFile(path) as z:
            return [z.read(n) for n in names]
    with tarfile.open(path) as t:
        return [t.extractfile(n).read() for n in names]


class ArchiveFileFlyweight:
    """Reference-named lazy flyweight for one archive member
    (reference ``oarphpy/util/archive_flyweight.py:86-137``): holds
    only (member name, archive path); ``.data`` opens the archive
    where accessed — metadata ships, bytes don't. The DataFrame-native
    equivalent is :func:`archive_df` (metadata-only driver listing +
    executor-local reads); this class closes symbol-level
    discoverability parity and pickles as a 2-tuple of strings, so
    instances broadcast/ship to executors cheaply."""

    __slots__ = ("name", "archive_path")

    def __init__(self, name: str = "", archive_path: str = ""):
        self.name = name
        self.archive_path = archive_path

    @property
    def data(self) -> bytes:
        return _read_members(self.archive_path, [self.name])[0]

    def __getstate__(self):
        return (self.name, self.archive_path)

    def __setstate__(self, state):
        self.name, self.archive_path = state

    def __repr__(self) -> str:
        return (
            f"ArchiveFileFlyweight({self.name!r}, {self.archive_path!r})"
        )

    @staticmethod
    def fws_from(archive_path: str) -> "list[ArchiveFileFlyweight]":
        """All file members of ``archive_path`` as flyweights —
        reference ``fws_from`` (archive_flyweight.py:118-137)."""
        path = os.path.abspath(archive_path)
        return [
            ArchiveFileFlyweight(n, path) for n in _list_members(path)
        ]


def archive_df(spark: SparkSession, path: str) -> DataFrame:
    """All members of a zip/tar archive (or a glob of them) as
    (name STRING, data BINARY), read through the ``archive`` data
    source.

    ``path`` is a local path, resolved against the driver's working
    directory, and must be reachable from executors (shared fs; on
    local mode any local path works).
    """
    from oarphpy_spark.sources import archive_v2

    archive_v2.register(spark)
    return (
        spark.read.format("archive")
        .load(os.path.abspath(path))
        .select("name", "data")
    )
