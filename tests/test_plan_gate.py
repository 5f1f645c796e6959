"""The catalog-wide plan gate's prover, pinned on synthetic plans + faces.

tools/plan_gate.py sweeps every batch face for scale-killer nodes
(CartesianProduct, unbounded BroadcastNestedLoopJoin, BatchEvalPython).
These tests pin the bounded-build-side prover's verdicts on plans whose
row bounds are known by construction, then spot-check real catalog faces
from each verdict class so the gate's semantics can't drift silently.
The full sweep (224 batch faces planned + 15 streaming faces executed and
audited on their micro-batch plans) runs as a tool (committed record in
PLANGATE.json / SURVEY.md); re-running it per-test-session would double
the suite's wall clock.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_gate import ALLOW, _audit_batch_face, _audit_plan  # noqa: E402
from polars_numba_spark.plans import checkpoint as _ckpt  # noqa: E402
from polars_numba_spark.queries import catalog  # noqa: E402

SF = "/root/testdata/sf0.001"


def q(spark, name):
    return catalog.spark_queries()[name](spark, SF)


def audit_face(spark, name):
    """The sweep's batch-leg audit: final plan UNION lineage-truncated
    checkpoint subtrees (capture-enabled, as sweep() runs it)."""
    _ckpt.set_plan_capture(True)
    try:
        return _audit_batch_face(catalog.spark_queries()[name], spark, SF)
    finally:
        _ckpt.set_plan_capture(False)


# --- prover verdicts on plans with known row bounds ---------------------


def test_scalar_aggregate_cross_is_bounded(spark):
    """crossJoin against a grouping-free aggregate: the scalar-threshold
    pattern. The build side provably yields 1 row -> no hit."""
    df = spark.range(1000).toDF("x")
    thr = df.agg(F.avg("x").alias("t"))
    joined = df.crossJoin(F.broadcast(thr)).where(F.col("x") > F.col("t"))
    assert _audit_plan(joined) == []


def test_values_literal_cross_is_bounded(spark):
    """crossJoin against a VALUES literal (LocalTableScan) is bounded by
    the literal's size."""
    ladder = spark.sql("SELECT * FROM VALUES (2), (5), (10) AS t(k)")
    joined = spark.range(1000).crossJoin(F.broadcast(ladder))
    assert _audit_plan(joined) == []


def test_limit_bounded_cross_is_bounded(spark):
    """crossJoin against an ordered top-k (TakeOrderedAndProject) is
    bounded by k."""
    top = spark.range(1000).toDF("x").orderBy(F.desc("x")).limit(5)
    joined = spark.range(1000).crossJoin(F.broadcast(top))
    assert _audit_plan(joined) == []


def test_unbounded_cross_is_flagged(spark):
    """crossJoin of two real (unbounded-to-the-prover) relations is the
    all-pairs scale-killer the gate exists to catch."""
    a = spark.read.parquet(f"{SF}/region.parquet")
    b = spark.read.parquet(f"{SF}/nation.parquet")
    hits = _audit_plan(a.crossJoin(F.broadcast(b)))
    assert "BroadcastNestedLoopJoin" in hits


def test_keyed_aggregate_build_is_not_bounded(spark):
    """A grouped aggregate has no static row bound: the prover must NOT
    accept it even though the group count happens to be small here."""
    a = spark.read.parquet(f"{SF}/nation.parquet")
    grouped = a.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("c"))
    hits = _audit_plan(a.crossJoin(F.broadcast(grouped)))
    assert "BroadcastNestedLoopJoin" in hits


def test_row_python_udf_is_flagged(spark):
    """A row-at-a-time Python UDF plans as BatchEvalPython -> flagged."""
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType())
    df = spark.range(10).select(slow(F.col("id")).alias("y"))
    assert "BatchEvalPython" in _audit_plan(df)


def test_arrow_paths_are_not_flagged(spark):
    """The engine's sanctioned Python surface (the kernels' mapInArrow
    stream) must pass the gate: the kernel scan face plans Python work as
    an Arrow node, not BatchEvalPython."""
    assert _audit_plan(q(spark, "kernel_scan_user_balance_cents")) == []


# --- real catalog faces, one from each verdict class --------------------


def test_scalar_threshold_faces_are_clean(spark):
    """q11's value-fraction threshold and RFM's max-date anchor both ride
    scalar-aggregate crossJoins: provably bounded, no waiver needed."""
    assert _audit_plan(q(spark, "q11_important_stock")) == []
    assert _audit_plan(q(spark, "user_rfm_segments")) == []


def test_kanonymity_ladder_is_provable(spark):
    """The k-ladder is a VALUES literal precisely so the plan carries its
    own 4-row bound (not an opaque Python-RDD scan)."""
    assert _audit_plan(q(spark, "events_kanonymity_audit")) == []


def test_allowlisted_faces_hit_exactly_their_waiver(spark):
    """Allowlisted faces must still exhibit the tolerated node (a stale
    waiver is a gate failure too) and nothing beyond it."""
    # (semantic_dedup_pairs left this list in the r14 second session: the
    # assignment kernel removed its BNLJ and the waiver with it.)
    for name in ("kmeans_silhouette", "sql_surface_capped_fold"):
        hits = audit_face(spark, name)
        assert hits == sorted(ALLOW[name]), (name, hits)


def test_checkpoint_truncated_subtree_is_still_audited(spark):
    """r14 regression pin: an eager localCheckpoint cuts upstream nodes
    out of the RETURNED frame's plan tree, so the final-plan audit alone
    reads clean; the batch-leg union audit must still see a forbidden
    node via the captured pre-checkpoint QueryExecution.

    Originally pinned on semantic_dedup_pairs' k-row-centroid BNLJ; the
    r14 second-session assignment kernel REMOVED that node (its waiver
    went stale and was deleted — the stale-waiver check firing as
    designed), so the pin now uses a synthetic face whose checkpoint
    hides a non-equi self-join."""
    from polars_numba_spark.plans.checkpoint import checkpoint

    def synthetic(s, sf):
        # UNBOUNDED scans (the prover tolerates a provably-small side like
        # range(50), correctly) in a non-equi self-join, hidden by the
        # checkpoint
        d = s.read.parquet(f"{sf}/documents.parquet")
        a = d.select(F.col("doc_id").alias("a"))
        b = d.select(F.col("doc_id").alias("b"))
        hidden = checkpoint(a.join(b, F.col("a") < F.col("b")))
        return hidden.groupBy().count()

    assert _audit_plan(synthetic(spark, SF)) == []  # the blind spot
    _ckpt.set_plan_capture(True)
    try:
        hits = _audit_batch_face(synthetic, spark, SF)
    finally:
        _ckpt.set_plan_capture(False)
    assert set(hits) & {"BroadcastNestedLoopJoin", "CartesianProduct"}


def test_assignment_faces_no_longer_carry_the_centroid_bnlj(spark):
    """The r14 assignment kernel's plan contract: the kmeans/SemDeDup
    faces' audited plans (final + truncated subtrees) contain NO
    nested-loop/cartesian node anymore — the reason their waivers were
    removed from ALLOW."""
    for name in ("kmeans_assignments", "semantic_dedup_pairs"):
        assert audit_face(spark, name) == []
        assert name not in ALLOW


def test_streaming_face_audit_reads_the_executed_stream_plan(spark):
    """The gate's streaming leg captures the queries a face launches and
    audits the EXECUTED micro-batch plan (not the returned sink frame):
    the rollup face must yield at least one real stream plan and no
    forbidden node."""
    from tools.plan_gate import _audit_streaming_face

    fn = catalog.spark_queries()["streaming_daily_rollup"]
    assert _audit_streaming_face(fn, spark, SF) == []


def test_streaming_audit_fails_loud_when_no_stream_runs(spark):
    """A 'streaming' face that never starts a query must error, not pass
    silently — the leg's value is that it saw a real plan."""
    from tools.plan_gate import _audit_streaming_face

    def batch_only(s, sf):
        return s.range(3)

    with pytest.raises(RuntimeError, match="no streaming plan captured"):
        _audit_streaming_face(batch_only, spark, SF)


def test_allowlist_names_exist_in_catalog():
    """Every waiver names a live face — a renamed face may not keep a
    zombie entry alive."""
    names = set(catalog.spark_queries())
    missing = [n for n in ALLOW if n not in names]
    assert missing == []


# --- round-14 additions: streaming tree audit, foreachBatch, toTable ----


def test_partial_mode_grouping_free_agg_is_not_bounded(spark):
    """ADVICE r13: a Partial-mode grouping-free aggregate emits one row
    PER PARTITION, not one row total — the prover must bound only
    Final/Complete aggregates to 1. Pinned directly on _row_bound over a
    real plan's nodes so the verdict can't depend on walk order."""
    from tools.plan_gate import _row_bound, _walk, _cls

    plan = spark.range(1000).groupBy().count()._jdf.queryExecution().sparkPlan()
    verdicts = {}
    for node in _walk(plan):
        if "Aggregate" in _cls(node):
            exprs = node.aggregateExpressions()
            modes = {str(exprs.apply(i).mode()) for i in range(exprs.size())}
            verdicts[frozenset(modes)] = _row_bound(node)
    assert verdicts[frozenset({"Final"})] == 1.0
    assert verdicts[frozenset({"Partial"})] == float("inf")


def test_streaming_nested_loop_join_is_flagged(spark):
    """VERDICT r13 #4 red test: a streaming face whose micro-batch plan
    contains an unbounded stream-static nested-loop join must FAIL the
    gate — previously the streaming leg was a text audit with no prover,
    and this shape would have been flagged only by luck of the text
    match; now the executed tree is walked like any batch plan."""
    from tools.plan_gate import _audit_streaming_face

    def bnlj_face(s, sf):
        static = s.read.parquet(f"{sf}/nation.parquet")
        src = s.readStream.format("rate").option("rowsPerSecond", "50").load()
        joined = src.join(static, src.value > static.n_nationkey, "inner")
        q = (
            joined.writeStream.format("memory").queryName("pns_gate_bnlj")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        q.stop()
        return s.table("pns_gate_bnlj")

    hits = _audit_streaming_face(bnlj_face, spark, SF)
    assert "BroadcastNestedLoopJoin" in hits
    spark.catalog.dropTempView("pns_gate_bnlj")


def test_foreachbatch_inner_plan_is_audited(spark):
    """VERDICT r13 #3: work done INSIDE foreachBatch used to be invisible
    to the gate (the blind spot documented in r13). The status-store leg
    must now catch a row-at-a-time Python UDF executed by the batch
    handler."""
    from pyspark.sql.types import LongType
    from tools.plan_gate import _audit_streaming_face

    slow = F.udf(lambda x: x + 1, LongType())

    def feb_face(s, sf):
        src = s.readStream.format("rate").option("rowsPerSecond", "50").load()

        def handler(batch_df, batch_id):
            batch_df.select(slow(F.col("value")).alias("y")).write.format(
                "noop"
            ).mode("overwrite").save()

        q = (
            src.writeStream.foreachBatch(handler)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        q.stop()
        return s.range(1)

    hits = _audit_streaming_face(feb_face, spark, SF)
    assert "BatchEvalPython" in hits


def test_clean_foreachbatch_face_passes(spark):
    """The same foreachBatch shape doing JVM-side work must stay clean —
    the new leg must not flag foreachBatch per se."""
    from tools.plan_gate import _audit_streaming_face

    def feb_face(s, sf):
        src = s.readStream.format("rate").option("rowsPerSecond", "50").load()

        def handler(batch_df, batch_id):
            batch_df.groupBy("value").count().write.format("noop").mode(
                "overwrite"
            ).save()

        q = (
            src.writeStream.foreachBatch(handler)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        q.stop()
        return s.range(1)

    assert _audit_streaming_face(feb_face, spark, SF) == []


def test_totable_launched_query_is_captured(spark, tmp_path):
    """ADVICE r13: DataStreamWriter.toTable launches a query without
    going through Python start(); the gate wraps it too, so a
    toTable-only face is audited rather than erroring with 'no streaming
    plan captured'."""
    from tools.plan_gate import _audit_streaming_face

    def totable_face(s, sf):
        src = s.readStream.format("rate").option("rowsPerSecond", "50").load()
        q = (
            src.writeStream.option(
                "checkpointLocation", str(tmp_path / "ckpt")
            ).trigger(availableNow=True).toTable("pns_gate_totable")
        )
        q.awaitTermination(60)
        q.stop()
        return s.table("pns_gate_totable")

    try:
        assert _audit_streaming_face(totable_face, spark, SF) == []
    finally:
        spark.sql("DROP TABLE IF EXISTS pns_gate_totable")
