"""Shared operator-layer plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and CUT ITS LINEAGE — the primitive
    every iterative/offset-dependent operator needs (fuzzy label
    propagation and star CC rounds, flatten_hierarchy pointer-doubling
    rounds, sequence packing's partition-offset table): without
    truncation the logical plan grows multiplicatively per round and
    Catalyst re-analysis dominates (persist alone does NOT cut the
    plan), and offset tables computed from one evaluation are only
    valid if that exact evaluation is frozen.

    Reliable ``checkpoint`` when a checkpoint dir is configured — the
    cluster-failure-safe choice (survives executor loss / dynamic
    allocation / spot nodes, the 100 TB regime); ``localCheckpoint``
    otherwise, whose executor-local blocks have no lineage fallback —
    fine in local/dev mode only."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Free the blocks behind a frame returned by :func:`materialize`.
    ``DataFrame.unpersist`` only drops CacheManager entries, and a
    checkpointed frame is not one: its blocks belong to the RDD inside
    its ``LogicalRDD`` plan, which stays persisted until the JVM's
    ContextCleaner happens to collect it.  ``df`` must not be read
    afterwards (local checkpoints have no lineage to recompute from)."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
