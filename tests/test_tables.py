"""``tables.table``'s schema memo: the first read of a table file
infers its schema (one Spark job); every later read passes that schema
back and fires no job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from oarphpy_spark import tables
from oarphpy_spark.tables import TABLE_NAMES, table

from .conftest import SF_ORACLE, SF_SMALL, jobs_fired

SF_DIRS = (SF_SMALL, SF_ORACLE, os.path.join(os.path.dirname(SF_SMALL), "sf0.1"))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_second_read_reuses_inferred_schema(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMA_CACHE", {})
    for name in TABLE_NAMES:
        first, n_first = jobs_fired(spark, lambda: table(spark, sf_dir, name))
        second, n_second = jobs_fired(spark, lambda: table(spark, sf_dir, name))
        assert n_first >= 1, name  # the memo was empty: Spark inferred
        assert n_second == 0, name
        assert second.schema == first.schema, name
        if name != "events":  # events.ts is normalized after the read
            path = os.path.join(sf_dir, f"{name}.parquet")
            assert second.schema == spark.read.parquet(path).schema, name


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """A fixture rewritten in place (new inode, size and mtime) must not
    be served the stale schema."""
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([1], pa.int64())}), path)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": [1], "r_name": ["ASIA"]}), str(path) + ".new"
    )
    os.replace(str(path) + ".new", path)
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert df.collect()[0]["r_name"] == "ASIA"
