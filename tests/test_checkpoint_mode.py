"""The checkpoint lifecycle: ``checkpoint(df)`` registers the block behind
an eager checkpoint, ``release(*frames)`` frees it, and
``PNS_CHECKPOINT_MODE=reliable`` (VERDICT r14 #8) routes every checkpoint
through Spark's reliable checkpoint (checkpoint-dir backed, survives
executor loss) with results unchanged and no block to release."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import polars_numba_spark
from polars_numba_spark.plans import checkpoint as CK


@pytest.fixture
def reliable_env(tmp_path, monkeypatch):
    monkeypatch.setenv("PNS_CHECKPOINT_MODE", "reliable")
    monkeypatch.setenv("PNS_CHECKPOINT_DIR", str(tmp_path / "ck"))
    yield


def test_reliable_mode_checkpoints_and_releases(spark, reliable_env):
    before = CK._persistent_ids(spark)
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = CK.checkpoint(df)
    # reliable checkpoints create no persistent-RDD blocks
    assert CK._persistent_ids(spark) - before == set()
    assert out.count() == 100
    assert sorted(r["x"] for r in out.collect())[:3] == [0, 2, 4]
    # the checkpoint dir was actually used
    ckdir = str(spark.sparkContext._jsc.sc().getCheckpointDir().get())
    assert "ck" in ckdir
    # releasing a frame with no registered block is a no-op, not an error
    CK.release(out)
    assert out.count() == 100


def test_default_mode_unchanged(spark, monkeypatch):
    monkeypatch.delenv("PNS_CHECKPOINT_MODE", raising=False)
    before = CK._persistent_ids(spark)
    out = CK.checkpoint(spark.range(10))
    assert out.count() == 10
    # local mode registers the new persistent-RDD block ...
    new = CK._persistent_ids(spark) - before
    assert len(new) == 1 and new <= CK._REGISTRY
    # ... and release frees it; a second release is a no-op
    CK.release(out)
    assert CK._persistent_ids(spark) - before == set()
    assert not new & CK._REGISTRY
    CK.release(out)


def test_reliable_mode_without_dir_raises(spark, monkeypatch):
    monkeypatch.setenv("PNS_CHECKPOINT_MODE", "reliable")
    monkeypatch.delenv("PNS_CHECKPOINT_DIR", raising=False)
    if not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        pytest.skip("checkpoint dir already set in this session")
    with pytest.raises(RuntimeError, match="PNS_CHECKPOINT_DIR"):
        CK.checkpoint(spark.range(3))


def test_tracked_ids_are_exact_and_thread_safe(spark):
    """Checkpoint ids are read DIRECTLY off the returned LogicalRDD (not a
    before/after diff of the JVM's persistent-RDD map), so two threads
    checkpointing concurrently — the RRF face's overlapped BM25 / PageRank
    builds — each register exactly their own block."""
    import concurrent.futures as cf

    before = CK._persistent_ids(spark)

    def build(tag):
        return CK.checkpoint(spark.range(2000).selectExpr("id", f"id * {tag} as x"))

    with cf.ThreadPoolExecutor(max_workers=2) as ex:
        out_a, out_b = ex.map(build, (3, 7))
    id_a = vars(out_a)[CK._BLOCK_ATTR]
    id_b = vars(out_b)[CK._BLOCK_ATTR]
    assert id_a != id_b
    assert CK._persistent_ids(spark) - before == {id_a, id_b}
    # the registered ids really are the persisted blocks: releasing one
    # leaves the other frame fully readable with its data intact
    CK.release(out_a)
    assert CK._persistent_ids(spark) - before == {id_b}
    assert out_b.agg(F.sum("x")).collect()[0][0] == sum(i * 7 for i in range(2000))
    CK.release(out_b)
    assert CK._persistent_ids(spark) - before == set()


def test_unpersisted_block_id_raises_at_the_call_site(spark, monkeypatch):
    """ADVICE r15 #4: the block id comes from a private Catalyst read. If a
    Spark upgrade makes it stop naming the persisted RDD, checkpoint()
    must fail loudly, naming the caller, instead of leaking a block it
    cannot release."""
    before = CK._persistent_ids(spark)
    monkeypatch.setattr(CK, "_checkpoint_rdd_id", lambda out: 2**31 - 1)
    with pytest.raises(RuntimeError, match=r"test_checkpoint_mode\.py:\d+"):
        CK.checkpoint(spark.range(5))
    assert 2**31 - 1 not in CK._REGISTRY
    CK._unpersist(spark, CK._persistent_ids(spark) - before)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_reliable_mode_through_operators(spark, tmp_path, monkeypatch):
    """VERDICT r15 #8: connected_components and pagerank in reliable mode
    return the local-mode rows and create no persistent RDDs."""
    from polars_numba_spark.operators.dedup import connected_components
    from polars_numba_spark.operators.graphrank import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (6, 6)], "src long, dst long"
    )

    def run():
        return (
            _rows(connected_components(edges, a_col="src", b_col="dst")),
            _rows(pagerank(edges, iterations=3)),
        )

    monkeypatch.delenv("PNS_CHECKPOINT_MODE", raising=False)
    local = run()
    CK.release_session_checkpoints(spark)
    before = CK._persistent_ids(spark)
    monkeypatch.setenv("PNS_CHECKPOINT_MODE", "reliable")
    monkeypatch.setenv("PNS_CHECKPOINT_DIR", str(tmp_path / "ck"))
    assert run() == local
    assert CK._persistent_ids(spark) - before == set()


_CHECKPOINT_CALL = re.compile(r"localCheckpoint\(|\.checkpoint\(eager")


def test_only_the_lifecycle_module_takes_checkpoints():
    """Every eager checkpoint goes through plans.checkpoint.checkpoint(),
    so it is registered, honours PNS_CHECKPOINT_MODE and is visible to
    the plan gate's capture hook."""
    root = pathlib.Path(polars_numba_spark.__file__).parent
    own = root / "plans" / "checkpoint.py"
    hits = [
        f"{path.relative_to(root)}:{n}"
        for path in root.rglob("*.py")
        if path != own
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if _CHECKPOINT_CALL.search(line)
    ]
    assert hits == []
