"""Lineage truncation with a production-safe switch.

Every iterative operator in this engine (connected components,
PageRank, k-core, k-truss, label propagation) must cut its DataFrame
lineage each round, or round k's plan replays rounds 1..k-1 and the
loop goes quadratic. Two mechanisms exist:

- ``DataFrame.localCheckpoint()`` — blocks stored on executor local
  disk/memory. Fast (no DFS write), but an executor LOSS orphans the
  blocks and the job cannot recompute them (lineage is gone). Fine on
  a single machine or for short loops; wrong for a 1000-executor
  cluster where some executor failing mid-loop is the expected case.
- ``DataFrame.checkpoint()`` — blocks written to the RELIABLE
  checkpoint directory (``sc.setCheckpointDir``, typically on
  HDFS/object storage). Survives executor loss; costs one DFS
  round-trip per truncation.

:func:`truncate_lineage` picks between them:

- ``reliable=None`` (default) — AUTO: use the reliable form iff a
  checkpoint dir is configured on the SparkContext, else local. A
  production job that calls ``sc.setCheckpointDir(...)`` at startup
  gets executor-loss-safe loops with zero per-operator plumbing;
  local runs keep the fast path.
- ``reliable=True`` — require the reliable form; raise with a
  actionable message if no checkpoint dir is set (silently degrading
  to local would defeat the caller's explicit durability request).
- ``reliable=False`` — force ``localCheckpoint`` (benchmarks,
  single-node batch jobs).

The reference has no iterative operator and so no equivalent; its
closest durability primitive is the egg-shipping SessionFactory
(reference ``oarphpy/spark.py:472-791``), which solves code
distribution, not lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_dir_configured(df: DataFrame) -> bool:
    """True iff ``sc.setCheckpointDir`` has been called on this
    session's SparkContext."""
    sc = df.sparkSession.sparkContext
    # _jsc.sc().getCheckpointDir() is an Option[String] on the JVM side
    return sc._jsc.sc().getCheckpointDir().isDefined()


def clear_checkpoint_dir(spark) -> None:
    """Unset the SparkContext's checkpoint directory (test hygiene —
    Spark has no public unset, but the field is plain bytecode-public
    on the JVM side). After this, AUTO mode resolves to
    ``localCheckpoint`` again."""
    jsc = spark.sparkContext._jsc.sc()
    none_opt = spark.sparkContext._gateway.jvm.scala.Option.apply(None)
    getattr(jsc, "checkpointDir_$eq")(none_opt)


def release_checkpoint(df: DataFrame) -> None:
    """Free the executor-side blocks behind an eager or materialized
    ``localCheckpoint`` now, instead of waiting on driver GC and the
    ContextCleaner. The checkpointed Dataset wraps a ``LogicalRDD``
    over the persisted internal-row RDD; unpersisting that RDD drops
    its blocks. Best-effort: a no-op for reliable checkpoints and
    already-released frames. The DataFrame is unusable afterwards
    (its lineage was truncated), so callers release only frames that
    nothing references any more."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — best-effort teardown
        pass


def truncate_lineage(
    df: DataFrame,
    *,
    eager: bool = True,
    reliable: bool | None = None,
) -> DataFrame:
    """Cut ``df``'s lineage; see module docstring for mode selection.

    ``eager=False`` defers materialization to the first action — used
    for per-round truncations whose very next statement is the
    convergence-check action anyway."""
    if reliable is None:
        reliable = checkpoint_dir_configured(df)
    if reliable:
        if not checkpoint_dir_configured(df):
            raise RuntimeError(
                "reliable=True requires a checkpoint directory: call "
                "spark.sparkContext.setCheckpointDir('<dfs path>') "
                "before running this operator (use a path on shared "
                "storage — HDFS/object store — not executor-local disk)"
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
