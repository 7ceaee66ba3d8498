"""TFRecord reading/writing without TensorFlow.

Capability parity with the reference's TFRecord reader
(reference ``oarphpy/util/tfutil.py:305-398``), written fresh against
the public TFRecord wire format: each record is

    uint64  length        (little-endian)
    uint32  masked_crc32c(length bytes)
    bytes   payload[length]
    uint32  masked_crc32c(payload)

with crc32c = Castagnoli CRC-32 and mask(c) = rotr15(c) + 0xa282ead8.

:func:`tfrecords_df` is a thin wrapper over the ``tfrecords`` data
source (:mod:`oarphpy_spark.sources.tfrecords_v2`), which frames
records with :func:`iter_tfrecords` on executors — no driver I/O.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator
from typing import BinaryIO

from pyspark.sql import DataFrame, SparkSession

# --- crc32c (Castagnoli, reflected poly 0x82F63B78), table-driven -------
_CRC_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# --- record stream -------------------------------------------------------


def write_tfrecords(fileobj: BinaryIO, records: list[bytes]) -> None:
    for payload in records:
        length = struct.pack("<Q", len(payload))
        fileobj.write(length)
        fileobj.write(struct.pack("<I", masked_crc32c(length)))
        fileobj.write(payload)
        fileobj.write(struct.pack("<I", masked_crc32c(payload)))


def iter_tfrecords(fileobj: BinaryIO, verify: bool = True) -> Iterator[bytes]:
    while True:
        header = fileobj.read(12)
        if len(header) == 0:
            return
        if len(header) < 12:
            raise IOError("truncated TFRecord header")
        (length,) = struct.unpack("<Q", header[:8])
        (len_crc,) = struct.unpack("<I", header[8:12])
        if verify and masked_crc32c(header[:8]) != len_crc:
            raise IOError("TFRecord length crc mismatch")
        payload = fileobj.read(length)
        if len(payload) != length:
            raise IOError("truncated TFRecord payload")
        crc_bytes = fileobj.read(4)
        if len(crc_bytes) != 4:
            raise IOError("truncated TFRecord payload crc")
        (data_crc,) = struct.unpack("<I", crc_bytes)
        if verify and masked_crc32c(payload) != data_crc:
            raise IOError("TFRecord payload crc mismatch")
        yield payload


def tfrecords_df(spark: SparkSession, path_glob: str) -> DataFrame:
    """All records of all TFRecord files matching ``path_glob`` as
    (path STRING, record_idx BIGINT, record BINARY), read through the
    ``tfrecords`` data source. ``path_glob`` is a local path, resolved
    against the driver's working directory; ``path`` holds each file's
    absolute path."""
    from oarphpy_spark.sources import tfrecords_v2

    tfrecords_v2.register(spark)
    return spark.read.format("tfrecords").load(os.path.abspath(path_glob))
