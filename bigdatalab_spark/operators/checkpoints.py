"""Explicit release of ``localCheckpoint`` storage for iterative loops,
and a checkpoint that reports its row count.

Iterative algorithms (label propagation in scale/dedup.py, BPE training
in scale/bpe.py) checkpoint each round to keep plan trees constant-size.
``DataFrame.unpersist`` does not touch checkpoint blocks — they belong
to the internal RDD wrapped by the checkpointed plan's ``LogicalRDD``
node, and are otherwise only freed when the ContextCleaner notices the
JVM RDD is garbage. Over many rounds that lag accumulates dead
MEMORY_AND_DISK blocks. This helper reaches through the analyzed plan
to that RDD and unpersists it eagerly, so a loop holds at most the
current round's blocks plus the round being built. The same RDD also
gives an operator the exact size of what it just materialized, so it
can pick a strategy from it (``local_checkpoint_count``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD behind a locally-checkpointed ``df``, seen through
    pure column projections and aliases, or None if the plan is not a
    ``LogicalRDD``."""
    plan = df._jdf.queryExecution().analyzed()
    while (
        plan.getClass().getSimpleName() in ("Project", "SubqueryAlias")
        and plan.children().size() == 1
    ):
        plan = plan.children().apply(0)
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    return plan.rdd()


def local_checkpoint_count(df: DataFrame) -> tuple[DataFrame, int]:
    """``localCheckpoint`` ``df`` and materialize it in ONE job that
    also returns its row count.

    An eager ``localCheckpoint`` materializes by counting the wrapped
    RDD and throws the count away, so a caller that needs the size pays
    a second ``count()`` (under AQE a partial aggregate, a shuffle and a
    final stage over the blocks just written). This checkpoints lazily
    and runs that one count itself: the blocks land exactly as with
    ``eager=True`` and the count is kept.
    """
    ck = df.localCheckpoint(eager=False)
    return ck, int(_checkpoint_rdd(ck).count())


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the storage blocks behind a locally-checkpointed ``df``.

    After this call ``df`` must not be used again — its data is gone
    (localCheckpoint truncates lineage, so there is nothing to
    recompute from). No-op if the plan is not a ``LogicalRDD`` (e.g. a
    frame that was never checkpointed), so callers can release
    unconditionally in loop epilogues. Pure column projections and
    aliases OVER a checkpoint are seen through: releasing a
    ``df.select(...)`` of a checkpointed frame releases the underlying
    blocks — the caller holds no other handle to them.
    """
    try:
        rdd = _checkpoint_rdd(df)
        if rdd is not None:
            rdd.unpersist(False)
    except Exception:  # pragma: no cover - best-effort release
        pass
