"""One way to pin an intermediate: ``materialize`` / ``release``.

Two shapes in this engine need a frame computed once and read from storage:

* iterative kernels (IBM-1 / fast_align EM, BPE merges, connected
  components) whose round k is built from round k-1 — without truncation
  the logical plan nests every earlier round (EM consumes its input twice
  per round, so the tree doubles: measured 9 s -> 33 s -> 428 s per added
  round before truncation, flat after);
* a reused intermediate read by several consumers of one plan (flagship
  sessionized frame, minhash signatures, the w3 n-gram dictionary) —
  without it every consumer re-runs the subtree.

``materialize`` is ``localCheckpoint``: the rows go to executor block
storage and the lineage is cut. ``eager=True`` runs one job now (the round
carry of an iterative kernel); ``eager=False`` runs nothing at plan build
and stores the rows inside the first action (a pin inside a lazy plan).

Trade-off: local checkpoint blocks cannot be recomputed — after an executor
loss a job that reads them fails instead of replaying lineage. A reliable
``checkpoint()`` under a durable directory is the recovery path; it is not
wired in yet.

``DataFrame.unpersist()`` does nothing on a checkpointed frame: its blocks
stay until the driver garbage-collects the superseded object and the
ContextCleaner fires. ``release`` frees them at once. Call it only after
the frame's last use, including every frame derived from it that has not
been materialized itself: reading a released frame raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Pin ``df`` in executor storage and truncate its lineage."""
    return df.localCheckpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Free the blocks of a frame ``materialize`` returned, without a GC.
    Raises ``ValueError`` for any other frame."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise ValueError("release() takes a frame returned by materialize()")
    plan.rdd().unpersist(True)
