"""The benchmark's workloads: what one pass runs, and how its outputs
are checked.

Every workload is one closed-loop client: operations run strictly one
after another, each starting when the previous one has finished.

* ``QueryMix`` -- a fixed list of registry queries, each written to
  the ``noop`` sink. Used by ``registry_mix`` (small queries on a small
  star schema: compose-time jobs, planning and per-job overhead
  dominate) and ``headline_exec`` (execute-heavy headline queries on a
  replicated star schema: scan, exchange, join/aggregate and Arrow eval
  dominate).
* ``CodecRoundTrip`` -- objects encoded with ``RowAdapter``, written as
  parquet and TFRecords, scanned back with the archive and TFRecord
  sources, decoded in ``mapInPandas`` and drained through
  ``bridges.iter_arrow_batches``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np

from perfbench import inputs
from perfbench.measure import tree_cpu_s
from perfbench.trace import SparkCounters, Tracer

EXEC_COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                 "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


class Failures:
    """Counts operations attempted and failed. Every failure is printed
    with its cause; none is swallowed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        print(f"FAILED {what}: {why}", file=sys.stderr, flush=True)

    def run(self, what: str, fn, *args):
        """Call ``fn``; on an exception count a failure and return None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 -- counted and printed, never hidden
            self.fail(what, traceback.format_exc(limit=3))
            return None


def timed(ops: list, name: str, fn, *args):
    """Run ``fn(*args)`` and append (name, wall seconds, process-tree CPU
    seconds) to ``ops``, also when it raises."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        return fn(*args)
    finally:
        ops.append((name, time.perf_counter() - t0, tree_cpu_s() - c0))


def release_engine_caches(spark) -> None:
    """Drop every session-shared cache the engine holds, so a pass pays
    the cache builds a user running the mix pays."""
    from oarphpy_spark.queries.graph_queries import release_shared_edges
    from oarphpy_spark.queries.llm_queries import release_shared_buckets

    release_shared_buckets(spark)
    release_shared_edges(spark)


class QueryMix:
    def __init__(self, slugs: list[str], sf_dir: str) -> None:
        self.slugs = slugs
        self.sf_dir = sf_dir
        self.results: dict = {}

    def bind(self, spark, fails: Failures) -> None:
        from oarphpy_spark import registry

        self.spark, self.fails = spark, fails
        self.fns = registry.queries()
        self.oracles = registry.oracle_sql()

    def warm(self) -> None:
        """First pass: collects every result (kept for the output check)."""
        release_engine_caches(self.spark)
        for slug in self.slugs:
            self.results[slug] = self.fails.run(slug, self._collect, slug)

    def _collect(self, slug: str):
        from oarphpy_spark.llm.dedup import release_cached

        df = self.fns[slug](self.spark, self.sf_dir)
        try:
            return df.toPandas()
        finally:
            release_cached(df)

    def _noop(self, slug: str) -> None:
        from oarphpy_spark.llm.dedup import release_cached

        df = self.fns[slug](self.spark, self.sf_dir)
        df.write.mode("overwrite").format("noop").save()
        release_cached(df)

    def run_pass(self) -> list[tuple[str, float, float]]:
        """Release the engine's caches, then run every query once;
        returns (op, wall, cpu) per operation."""
        ops: list = []
        timed(ops, "release", release_engine_caches, self.spark)
        for slug in self.slugs:
            timed(ops, slug, self.fails.run, slug, self._noop, slug)
        return ops

    def run_traced_pass(self, tracer: Tracer, counters: SparkCounters, tag: str) -> list[dict]:
        """One pass with a span per query and per phase (compose, plan,
        execute), and Spark counters per phase via job groups."""
        from oarphpy_spark.llm.dedup import release_cached

        release_engine_caches(self.spark)
        records = []
        with tracer.span("pass") as pass_id:
            for i, slug in enumerate(self.slugs):
                qid = f"{tag}-{i}-{slug}"
                self.fails.attempted += 1
                try:
                    t0 = time.perf_counter()
                    counters.set_group(f"{qid}:compose")
                    t1 = time.perf_counter()
                    df = self.fns[slug](self.spark, self.sf_dir)
                    t2 = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    t3 = time.perf_counter()
                    counters.set_group(f"{qid}:execute")
                    df.write.mode("overwrite").format("noop").save()
                    t4 = time.perf_counter()
                    counters.set_group(None)
                    release_cached(df)
                except Exception:  # noqa: BLE001 -- counted and printed
                    counters.set_group(None)
                    self.fails.fail(slug, traceback.format_exc(limit=3))
                    continue
                q = tracer.add("query", t0, t4, pass_id, qid)
                tracer.add("compose", t1, t2, q, qid)
                tracer.add("plan", t2, t3, q, qid)
                tracer.add("execute", t3, t4, q, qid)
                counters.drain()
                records.append(dict(
                    slug=slug, module=self.fns[slug].__module__.rsplit(".", 1)[-1],
                    wall=t4 - t0, compose=t2 - t1, plan=t3 - t2, execute=t4 - t3,
                    c=counters.group(f"{qid}:compose"),
                    e=counters.group(f"{qid}:execute"),
                ))
        return records

    def trace_tables(self, tracer: Tracer, counters: SparkCounters) -> dict:
        """Read each of the ten tables once through ``tables.table``."""
        from oarphpy_spark.tables import TABLE_NAMES, table

        out = {"read_s": 0.0, "read_jobs": 0}
        for name in TABLE_NAMES:
            group = f"tables-{name}"
            counters.set_group(group)
            try:
                with tracer.span("tables.read", qid=name) as sid:
                    self.fails.run(f"tables.table {name}", table, self.spark, self.sf_dir, name)
            finally:
                counters.set_group(None)
            s = tracer.spans[sid]
            out["read_s"] += s[3] - s[2]
            counters.drain()
            out["read_jobs"] += counters.group(group)["jobs"]
        return out

    def check(self) -> None:
        """Compare each collected result with its DuckDB oracle; queries
        without an oracle only had to run without raising."""
        from oarphpy_spark.testing.parity import compare, duckdb_connection

        with duckdb_connection(self.sf_dir) as conn:
            for slug in self.slugs:
                pdf = self.results.get(slug)
                if pdf is None or slug not in self.oracles:
                    continue  # a raise is already counted
                try:
                    problems = compare(pdf, conn.execute(self.oracles[slug]).df())
                except Exception:  # noqa: BLE001 -- counted and printed
                    problems = [traceback.format_exc(limit=3)]
                if problems:
                    self.fails.fail(slug, "; ".join(problems[:3]))


# --- codec round trip -------------------------------------------------------


class CodecRoundTrip:
    STEPS = ("codec.encode", "sink.parquet.write", "sink.tfrecords.write",
             "sources.tfrecords.scan", "sources.archive.scan", "codec.decode",
             "bridges.feed")

    def __init__(self, root: str, seed: int, n_objects: int, n_tfrecord_files: int) -> None:
        self.objs = inputs.codec_objects(seed, n_objects)
        self.payloads = [inputs.member_payload(o) for o in self.objs]
        self.files, self.build_s = inputs.codec_files(root, seed, n_objects, n_tfrecord_files)
        self.out = os.path.join(root, inputs.CACHE_DIR, f"codec_out_{os.getpid()}")
        self.last: dict = {}

    def bind(self, spark, fails: Failures) -> None:
        from oarphpy_spark.sources import archive_v2, tfrecords_v2

        self.spark, self.fails = spark, fails
        archive_v2.register(spark)
        tfrecords_v2.register(spark)
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(os.path.join(self.files, "tfr"), os.path.join(self.out, "tfr_in"))

    def close(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    # Each step is one call into a layer's public entry point.
    def _encode(self):
        from oarphpy_spark.codec import RowAdapter

        self.df = RowAdapter.to_df(self.spark, self.objs)

    def _write_parquet(self):
        self.df.write.mode("overwrite").parquet(os.path.join(self.out, "parquet"))

    def _write_tfrecords(self):
        from pyspark.sql import functions as F

        rec = F.concat(F.encode("name", "utf-8"), F.lit(bytearray(b"\0")),
                       F.col("image.values_packed"))
        self.df.select(rec.alias("record")).write.mode("overwrite").format(
            "tfrecords").save(os.path.join(self.out, "tfr"))

    def _scan_tfrecords(self):
        # One load covers the written files and the generated ones
        # (staged beside them by ``bind``).
        rows = self.spark.read.format("tfrecords").load(
            os.path.join(self.out, "tfr*", "*.tfrecord")).select("path", "record").collect()
        out = {"written": [], "generated": []}
        for r in rows:
            out["generated" if "/tfr_in/" in r.path else "written"].append(bytes(r.record))
        self.last["tfrecords"] = out

    def _scan_archives(self):
        rows = self.spark.read.format("archive").load(
            os.path.join(self.files, "members.*")).select("name", "data").collect()
        self.last["archive"] = {r.name: bytes(r.data) for r in rows}

    def _decode(self):
        from oarphpy_spark.codec import RowAdapter

        df = self.spark.read.parquet(os.path.join(self.out, "parquet"))
        self.last["objects"] = RowAdapter.collect_objects(df)

    def _feed(self, tracer: Tracer, parent: int) -> None:
        from oarphpy_spark.bridges import iter_arrow_batches
        from oarphpy_spark.codec.arrow_helpers import tensor_values_as_arrays

        df = self.spark.read.parquet(os.path.join(self.out, "parquet")).select(
            "sample_id", "embedding")
        df = tensor_values_as_arrays(df, "embedding", "emb")
        t0 = time.perf_counter()
        batches, got = 0, {}
        for b in iter_arrow_batches(df):
            if batches == 0:
                tracer.add("bridges.first_batch", t0, time.perf_counter(), parent)
            batches += 1
            for sid, emb in zip(b.column("sample_id").to_pylist(), b.column("emb").to_pylist()):
                got[sid] = emb
        self.last["bridge"] = got
        self.last["batches"] = batches

    def _write_mb(self) -> float:
        total = 0
        for sink in ("parquet", "tfr"):
            for d, _, files in os.walk(os.path.join(self.out, sink)):
                total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total / (1 << 20)

    def _step(self, step: str, tracer: Tracer, sid: int) -> None:
        {
            "codec.encode": self._encode,
            "sink.parquet.write": self._write_parquet,
            "sink.tfrecords.write": self._write_tfrecords,
            "sources.tfrecords.scan": self._scan_tfrecords,
            "sources.archive.scan": self._scan_archives,
            "codec.decode": self._decode,
            "bridges.feed": lambda: self._feed(tracer, sid),
        }[step]()

    def _run(self, tracer: Tracer, counters: SparkCounters | None, tag: str,
             ops: list, records: list) -> None:
        with tracer.span("pass") as pass_id:
            for step in self.STEPS:
                group = f"{tag}-{step}"
                self.fails.attempted += 1
                if counters is not None:
                    counters.set_group(group)
                try:
                    with tracer.span(step, pass_id) as sid:
                        timed(ops, step, self._step, step, tracer, sid)
                except Exception:  # noqa: BLE001 -- counted and printed
                    self.fails.fail(step, traceback.format_exc(limit=3))
                    return  # later steps read this step's output
                finally:
                    if counters is not None:
                        counters.set_group(None)
                if counters is not None:
                    counters.drain()
                    records.append(dict(step=step, e=counters.group(group)))
        records.append(dict(
            step="counts", rows=len(self.objs), batches=self.last["batches"],
            write_mb=self._write_mb(),
            records=sum(len(v) for v in self.last["tfrecords"].values()) + len(self.last["archive"]),
        ))

    def run_pass(self) -> list[tuple[str, float, float]]:
        """One round trip; returns (step, wall, cpu) per step."""
        ops: list = []
        self._run(Tracer(), None, "", ops, [])
        return ops

    def run_traced_pass(self, tracer: Tracer, counters: SparkCounters, tag: str) -> list[dict]:
        """One round trip with a span and a job group per step."""
        records: list = []
        self._run(tracer, counters, tag, [], records)
        return records

    def trace_tables(self, tracer: Tracer, counters: SparkCounters) -> dict:
        return {"read_s": 0.0, "read_jobs": 0}

    def warm(self) -> None:
        self.run_pass()

    def check(self) -> None:
        """Decoded objects, bridged arrays and scanned record bytes must
        equal what was generated."""
        want = {o.sample_id: o for o in self.objs}
        got = {o.sample_id: o for o in self.last.get("objects", [])}
        bad = [sid for sid, o in want.items() if not _same_object(got.get(sid), o)]
        self._expect("codec.decode", len(got) == len(want) and not bad,
                     f"{len(got)} objects decoded, {len(bad)} differ, e.g. {bad[:5]}")
        payloads = sorted(self.payloads)
        for name, recs in self.last.get("tfrecords", {}).items():
            self._expect(f"sources.tfrecords {name}", sorted(recs) == payloads,
                         f"{len(recs)} records differ from {len(payloads)} generated")
        members = {f"m{i:06d}.bin": p for i, p in enumerate(self.payloads)}
        self._expect("sources.archive", self.last.get("archive") == members,
                     "member names or bytes differ")
        bridged = self.last.get("bridge", {})
        ok = len(bridged) == len(want) and all(
            np.array_equal(np.asarray(bridged.get(sid), dtype=np.float64),
                           o.embedding.astype(np.float64).ravel())
            for sid, o in want.items())
        self._expect("bridges.feed", ok, "bridged embeddings differ from generated")

    def _expect(self, what: str, ok: bool, why: str) -> None:
        self.fails.attempted += 1
        if not ok:
            self.fails.fail(what, why)


def _same_array(a, b) -> bool:
    return (isinstance(a, np.ndarray) and a.dtype == b.dtype and a.shape == b.shape
            and np.array_equal(a, b))


def _same_object(got, want) -> bool:
    return (got is not None and got.name == want.name and got.weight == want.weight
            and got.tags == want.tags
            and all(_same_array(getattr(got, f), getattr(want, f))
                    for f in ("image", "embedding", "mask")))
