"""One checkpoint lifecycle for iterative and multi-consumer DataFrame plans.

``checkpoint(df)`` takes an eager checkpoint and records the block id
behind it in a process-wide registry; ``release(*frames)`` frees the blocks
behind frames that ``checkpoint`` returned; ``release_session_checkpoints``
sweeps whatever is still registered.

Why a registry: ``DataFrame.localCheckpoint(eager=True)`` truncates lineage
by persisting the materialized rows as executor block-manager RDD blocks,
and Spark keeps those blocks until the session dies. An iterative algorithm
that checkpoints every round (connected components, PageRank) would leak
one working-set copy per round, which in a long session degrades every
later query. So operators ``release`` a round the moment the next one has
materialized, and a block the returned DataFrame still reads (or one left
behind when an operator raises) stays registered until the caller, or a
bench/gate harness between queries, calls ``release_session_checkpoints``.

Only public-ish JVM surface is touched (``JavaSparkContext.
getPersistentRDDs`` via the standard py4j gateway — the same map the Spark
UI's Storage tab renders), plus one private read — the checkpoint's
``LogicalRDD`` id — which :func:`checkpoint` verifies against that map.
"""

from __future__ import annotations

import os
import sys
import threading

from pyspark.sql import DataFrame, SparkSession

# Persistent-RDD ids of every local checkpoint not yet released.
_REGISTRY: set[int] = set()
_REGISTRY_LOCK = threading.Lock()
# The block id rides on the Python DataFrame object checkpoint() returns.
_BLOCK_ATTR = "_pns_checkpoint_block"

# Plan-audit capture (r14): an eager checkpoint TRUNCATES lineage, so any
# node upstream of it — including the scale-killer shapes the catalog-wide
# plan gate exists to catch — disappears from the returned DataFrame's
# plan tree. When capture is enabled (tools/plan_gate.py and its tests;
# never in production runs — one py4j call per checkpoint otherwise), the
# pre-checkpoint QueryExecution handle is recorded here so the gate can
# audit the truncated subtree alongside the face's final plan.
_PLAN_CAPTURE = False
_CAPTURED_QES: list = []


def set_plan_capture(on: bool) -> None:
    """Enable/disable recording of pre-checkpoint QueryExecution handles
    (plan-gate use only). Disabling also clears the buffer."""
    global _PLAN_CAPTURE
    _PLAN_CAPTURE = on
    if not on:
        _CAPTURED_QES.clear()


def drain_captured_plans() -> list:
    """Return and clear the QueryExecution handles captured since the last
    drain — one per eager checkpoint taken while capture was enabled."""
    out = list(_CAPTURED_QES)
    _CAPTURED_QES.clear()
    return out


def _persistent_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def _checkpoint_rdd_id(out: DataFrame) -> int:
    """The persistent-RDD id backing an eager localCheckpoint, read
    directly off the returned frame's LogicalRDD (its rdd id IS the
    persisted id). Unlike a before/after diff of ``getPersistentRDDs`` it
    attributes ids correctly when two threads checkpoint concurrently
    (the RRF face materializes its BM25 and PageRank subtrees in parallel
    submitter threads). Private Catalyst surface: :func:`checkpoint`
    verifies the result."""
    return int(out._jdf.queryExecution().analyzed().rdd().id())


def _checkpoint_mode() -> str:
    """``local`` (default) or ``reliable`` — VERDICT r14 #8. Eager
    ``localCheckpoint`` stores blocks on executors WITHOUT replication and
    truncates lineage, so on a real cluster one executor loss makes every
    consumer of the checkpoint unrecoverable (no lineage to replay). Local
    mode has a single "executor" whose loss kills the app anyway, so the
    default stays ``local``; cluster deployments set
    ``PNS_CHECKPOINT_MODE=reliable`` (plus ``PNS_CHECKPOINT_DIR`` or a
    pre-set ``sparkContext.setCheckpointDir``) to route every checkpoint
    through Spark's reliable checkpoint (HDFS/object-store backed,
    survives executor loss). See SCALE.md."""
    return os.environ.get("PNS_CHECKPOINT_MODE", "local")


def _reliable_checkpoint(df: DataFrame) -> DataFrame:
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        ckdir = os.environ.get("PNS_CHECKPOINT_DIR")
        if not ckdir:
            raise RuntimeError(
                "PNS_CHECKPOINT_MODE=reliable requires a checkpoint dir: "
                "set PNS_CHECKPOINT_DIR or call sparkContext.setCheckpointDir"
            )
        sc.setCheckpointDir(ckdir)
    return df.checkpoint(eager=True)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint ``df`` and register the block behind it.

    Default is ``localCheckpoint`` (executor blocks, fast, non-replicated);
    ``PNS_CHECKPOINT_MODE=reliable`` swaps in a reliable checkpoint (see
    :func:`_checkpoint_mode`), which creates no block to register. Free
    the block with :func:`release` once nothing reads the frame any more;
    otherwise :func:`release_session_checkpoints` sweeps it.

    A checkpoint scan reports UnknownPartitioning and inherits the
    upstream AQE-coalesced block count, so byte-small frames materialize
    as 1-2 blocks and downstream stages up to their next exchange run
    1-2 tasks. An auto-respread remedy ("widen to core count after
    materializing") was built and A/B'd in r15 and REJECTED on
    measurement everywhere it was tried: PageRank's iteration join
    broadcasts the edge table, so widening the probe side multiplied the
    per-task broadcast cost (CPU floor 11.4 → 57.5 on
    doc_pagerank_centrality); the tokenized-corpus checkpoints feed
    stages whose first exchange re-widens anyway (neutral-to-worse).
    Where narrow checkpoint reads genuinely serialize heavy compute, fix
    the CONSUMER with an explicit keyed repartition instead (see
    simhash_dedup_pairs' block-join widening, measured 6.3s → 3.0s)."""
    if _PLAN_CAPTURE:
        _CAPTURED_QES.append(df._jdf.queryExecution())
    if _checkpoint_mode() == "reliable":
        return _reliable_checkpoint(df)
    out = df.localCheckpoint(eager=True)
    rid = _checkpoint_rdd_id(out)
    if not df.sparkSession.sparkContext._jsc.getPersistentRDDs().containsKey(rid):
        caller = sys._getframe(1)
        raise RuntimeError(
            f"checkpoint at {caller.f_code.co_filename}:{caller.f_lineno} "
            f"({caller.f_code.co_name}): LogicalRDD id {rid} is not a "
            "persistent RDD — this Spark version no longer exposes the "
            "local checkpoint's block id, so its blocks cannot be released"
        )
    with _REGISTRY_LOCK:
        _REGISTRY.add(rid)
    setattr(out, _BLOCK_ATTR, rid)
    return out


def _unpersist(spark: SparkSession, ids) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist()


def release(*frames: DataFrame) -> None:
    """Free the blocks behind frames :func:`checkpoint` returned. A frame
    with no registered block (reliable mode, never checkpointed, already
    released or swept) is a no-op."""
    # vars(): DataFrame.__getattr__ would resolve a missing name as a column
    ids = {vars(f).get(_BLOCK_ATTR) for f in frames}
    with _REGISTRY_LOCK:
        owned = ids & _REGISTRY
        _REGISTRY.difference_update(owned)
    if owned:
        _unpersist(frames[0].sparkSession, owned)


def release_session_checkpoints(spark: SparkSession) -> None:
    """Free every checkpoint still registered. Safe only BETWEEN queries
    (after every frame reading a checkpoint has been fully evaluated);
    bench.py, the perfbench harness and the local gates call this per
    query."""
    with _REGISTRY_LOCK:
        ids = list(_REGISTRY)
        _REGISTRY.clear()
    _unpersist(spark, ids)
