"""Helpers for loading the star-schema test tables.

Tables (see TESTDATA.md / FIXTURES.md §B): region nation customer
supplier part orders lineitem events documents embeddings — one parquet
file per table under a scale-factor directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Footer-probe cache: (path, mtime_ns, size) -> one of
# 'ns' | 'ntz' | 'utc' | 'none'.  Keyed on stat so a regenerated
# fixture re-probes, while steady-state table() calls stay probe-free.
_TS_KIND_CACHE: dict[tuple[str, int, int], str] = {}


def _probe_ts_kind_one(probe: str) -> str:
    """Footer-only ts classification of ONE parquet file (cached on
    (path, mtime, size) so steady-state calls never re-read)."""
    st = os.stat(probe)
    key = (probe, st.st_mtime_ns, st.st_size)
    kind = _TS_KIND_CACHE.get(key)
    if kind is None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        field = None
        schema = pq.ParquetFile(probe).schema_arrow
        if "ts" in schema.names:
            field = schema.field("ts")
        if field is None or not pa.types.is_timestamp(field.type):
            kind = "none"
        elif field.type.unit == "ns":
            kind = "ns"
        elif field.type.tz is None:
            kind = "ntz"
        else:
            kind = "utc"
        _TS_KIND_CACHE[key] = kind
    return kind


def _events_ts_kind(path: str) -> str:
    """Classify the physical form of ``events.ts`` from parquet footers
    only (no row groups read): 'ns' (INT64 nanos — unscannable by Spark
    as a timestamp), 'ntz' (µs/ms with isAdjustedToUTC=false → Spark
    infers TIMESTAMP_NTZ), 'utc' (µs/ms UTC-adjusted → TIMESTAMP), or
    'none' (no ts column / not a timestamp).

    EVERY part file of a directory is probed (footers are a few KB
    each, and the per-file cache makes repeat calls free): a directory
    holding mixed physical forms — e.g. one ns part beside a µs part
    after a partial fixture regeneration — cannot be classified by any
    single kind and would either mis-schema the reader or die with
    PARQUET_TYPE_ILLEGAL mid-scan, so it raises loudly here instead."""
    probes = [path]
    if os.path.isdir(path):
        probes = sorted(
            os.path.join(path, n) for n in os.listdir(path)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
        if not probes:
            return "none"
    kinds = {_probe_ts_kind_one(p) for p in probes}
    if len(kinds) > 1:
        raise ValueError(
            f"mixed physical timestamp forms {sorted(kinds)} across part "
            f"files of {path}; regenerate the fixture so all parts agree"
        )
    return kinds.pop()


# Session confs that change the schema Spark infers from a parquet
# footer; their values are part of the schema-memo key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# Schema memo: (path, part-file stamps, inference conf values) -> the
# StructType Spark inferred on the first read. Keyed like
# _TS_KIND_CACHE, on stat, so a regenerated fixture re-infers.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _part_stamps(path: str) -> tuple:
    """(file, inode, size, mtime_ns) of every file Spark would scan
    under ``path``: the file itself, or a directory tree's non-hidden
    files."""
    files = [path]
    if os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            files += [
                os.path.join(root, n)
                for n in names
                if not n.startswith((".", "_"))
            ]
    stamps = []
    for f in sorted(files):
        st = os.stat(f)
        stamps.append((f, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(stamps)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    first read of each file version: later reads pass Spark's own
    inferred ``StructType`` back, which fires no inference job."""
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    key = (path, _part_stamps(path), confs)
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Plain ``spark.read.parquet`` so Catalyst gets a
    pushdown-capable FileScan (predicates + column pruning reach the
    parquet reader).

    Only the first read of a table file infers its schema (one Spark
    job). The inferred ``StructType`` is memoized on the path, each
    part file's inode, size and mtime, and the confs that change
    inference (``_INFERENCE_CONFS``); every later call passes it to
    ``spark.read.schema``, so composing a query over already-seen
    tables fires no job.

    ``events.ts`` arrives in whatever physical form the fixture
    generator used, and that has varied across driver regenerations;
    all three forms normalize to the same UTC TIMESTAMP column:

    * nanosecond parquet — unscannable as a timestamp
      (PARQUET_TYPE_ILLEGAL); read as raw int64 nanos
      (``spark.sql.legacy.parquet.nanosAsLong``) and convert JVM-side
      with ``timestamp_micros(ts div 1000)`` — the same ns→µs
      truncation DuckDB applies;
    * µs/ms parquet with ``isAdjustedToUTC=false`` — Spark 4 infers
      ``TIMESTAMP_NTZ`` (``spark.sql.parquet.inferTimestampNTZ``
      defaults on); cast to TIMESTAMP, which interprets the naive
      wall-clock in the session timezone — pinned UTC below, exactly
      DuckDB's reading of a naive TIMESTAMP;
    * UTC-adjusted parquet — already TIMESTAMP, no-op.

    The session timezone is pinned to UTC here (runtime-settable conf):
    ``year``/``date_trunc``/date casts are tz-dependent, and queries
    must produce identical results under ANY caller-built session.

    The physical form is decided by a cached pyarrow FOOTER probe (no
    row groups read), so the ``nanosAsLong`` legacy conf is touched
    only when the file really is int64-nanos — and then restored to
    its prior value immediately after ``spark.read.parquet`` returns.
    Spark captures the inferred bigint schema into the relation at
    read() time, so later actions on the returned DataFrame stay
    correct (verified by tests/test_ts_schema_drift.py); other parquet
    reads on the same session never observe the conf.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return _read_parquet(spark, path)

    from pyspark.sql import functions as F

    kind = _events_ts_kind(path)
    if kind == "ns":
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prior = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            df = _read_parquet(spark, path)
        finally:
            if prior is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prior)
        # Same ns→µs truncation DuckDB applies.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = _read_parquet(spark, path)
        if kind == "ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries work."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
