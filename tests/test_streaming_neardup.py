"""Incremental streaming minhash keep-list: the accumulated star-edge store
must yield IDENTICAL components to the batch keep-list over the full
corpus, whatever the batch boundaries or arrival order (the module
docstring's proof sketch, pinned)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from polars_numba_spark.operators.dedup import minhash_dedup_keep_list
from polars_numba_spark.sources import load_table
from polars_numba_spark.streaming.neardup import (
    ingest_neardup_batch,
    neardup_verdict,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def store_dir():
    d = tempfile.mkdtemp(prefix="pns_neardup_store_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _with_clones(spark):
    docs = load_table(spark, "documents", SF).where(F.col("doc_id") < 90)
    clones = docs.where(F.col("doc_id") < 6).withColumn(
        "doc_id", F.col("doc_id") + 80000
    )
    return docs.union(clones)


def _verdict_map(df):
    return {r["id"]: (r["component"], r["keep"]) for r in df.collect()}


def test_incremental_equals_batch_keeplist(spark, store_dir):
    corpus = _with_clones(spark)
    batches = [
        corpus.where(F.col("doc_id") % 3 == i) for i in range(3)
    ]
    for b in batches:
        ingest_neardup_batch(spark, b, store_dir, num_hashes=16, bands=4,
                             portable=True)
    streamed = _verdict_map(neardup_verdict(spark, store_dir))
    batch = _verdict_map(
        minhash_dedup_keep_list(corpus, num_hashes=16, bands=4, portable=True)
    )
    assert streamed == batch
    # every injected exact clone shares its original's component and is
    # dropped (its id can never be a component minimum); the ORIGINALS may
    # legitimately merge with each other — the synthetic corpus is
    # near-dup-saturated at 16 hashes / 4 bands
    for orig in range(6):
        assert streamed[orig + 80000][0] == streamed[orig][0]
        assert streamed[orig + 80000][1] is False
    assert any(streamed[orig][1] for orig in range(6))


def test_arrival_order_does_not_change_verdict(spark, store_dir):
    corpus = _with_clones(spark)
    reversed_batches = [
        corpus.where(F.col("doc_id") % 3 == i) for i in (2, 1, 0)
    ]
    for b in reversed_batches:
        ingest_neardup_batch(spark, b, store_dir, num_hashes=16, bands=4,
                             portable=True)
    streamed = _verdict_map(neardup_verdict(spark, store_dir))
    batch = _verdict_map(
        minhash_dedup_keep_list(corpus, num_hashes=16, bands=4, portable=True)
    )
    assert streamed == batch


def test_ingest_frees_its_batch_checkpoint(spark, store_dir):
    """Each micro-batch materializes its band table once; that block must
    be freed after the batch's appends, not kept until the session stops
    (one leaked block per micro-batch otherwise)."""
    from polars_numba_spark.plans.checkpoint import (
        _persistent_ids,
        release_session_checkpoints,
    )

    release_session_checkpoints(spark)
    before = _persistent_ids(spark)
    corpus = _with_clones(spark)
    for i in range(3):
        ingest_neardup_batch(spark, corpus.where(F.col("doc_id") % 3 == i),
                             store_dir, num_hashes=16, bands=4, portable=True)
        assert _persistent_ids(spark) - before == set()


def test_empty_doc_in_stream_matches_batch(spark, store_dir):
    """VERDICT r8 #8: the empty-doc (zero-token) exclusion proven for the
    batch keep-list must hold on the streaming ingest path too — it
    reuses _banded_signatures, so a divergence here would make the
    incremental verdict disagree with the batch one."""
    corpus = _with_clones(spark)
    empty = (
        corpus.limit(1)
        .withColumn("doc_id", F.lit(990001).cast("long"))
        .withColumn("text", F.lit(""))
    )
    corpus = corpus.unionByName(empty)
    for i in range(3):
        ingest_neardup_batch(
            spark,
            corpus.where(F.col("doc_id") % 3 == i),
            store_dir,
            num_hashes=16,
            bands=4,
            portable=True,
        )
    streamed = _verdict_map(neardup_verdict(spark, store_dir))
    batch = _verdict_map(
        minhash_dedup_keep_list(corpus, num_hashes=16, bands=4, portable=True)
    )
    assert streamed == batch
    # the zero-token doc must not have merged into any real component
    if 990001 in streamed:
        comp, keep = streamed[990001]
        assert comp == 990001 and keep is True


def test_per_batch_store_reads_are_bucket_filtered(spark, store_dir):
    """The delta contract: the persisted band store joins the batch's
    touched buckets via a BROADCAST of the batch side — the store is
    filtered, never self-joined. Pin the plan of the members stage."""
    from polars_numba_spark import plans
    from polars_numba_spark.operators.dedup import _banded_signatures

    corpus = _with_clones(spark)
    first = corpus.where(F.col("doc_id") % 3 == 0)
    ingest_neardup_batch(spark, first, store_dir, num_hashes=16, bands=4,
                         portable=True)
    # reconstruct the second batch's members stage exactly as ingest does
    import os

    store = spark.read.parquet(os.path.join(store_dir, "bands"))
    bn = _banded_signatures(
        corpus.where(F.col("doc_id") % 3 == 1),
        "text", "doc_id", 16, 4, True, None, [],
    )
    touched = bn.select("band_idx", "band_hash").distinct()
    members = store.join(F.broadcast(touched), ["band_idx", "band_hash"])
    s = plans.explain_string(members)
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_nonportable_string_ids_with_tokenless_docs(spark, store_dir):
    """ADVICE r11: the operator is generic over id type — with STRING doc
    ids in xxhash64 (non-portable) mode, tokenless-doc sentinels must hash
    the id into band_hash's bigint dtype instead of reusing the id verbatim
    (which would fail or silently coerce the union to string)."""
    import os

    docs = spark.createDataFrame(
        [
            ("doc-a", "alpha beta gamma delta epsilon zeta"),
            ("doc-b", "alpha beta gamma delta epsilon zeta"),
            ("doc-c", None),  # failed fetch: tokenless sentinel
            ("doc-d", ""),  # empty text: banded as the empty token set
        ],
        "doc_id string, text string",
    )
    ingest_neardup_batch(spark, docs, store_dir, num_hashes=16, bands=4,
                         portable=False)
    bands = spark.read.parquet(os.path.join(store_dir, "bands"))
    assert dict(bands.dtypes)["band_hash"] == "bigint"
    verdict = _verdict_map(neardup_verdict(spark, store_dir))
    assert set(verdict) == {"doc-a", "doc-b", "doc-c", "doc-d"}
    # exact clones share a component; each tokenless doc is its own
    assert verdict["doc-a"][0] == verdict["doc-b"][0]
    assert verdict["doc-c"] == ("doc-c", True)
    assert verdict["doc-d"] == ("doc-d", True)


def test_replayed_batch_appends_no_duplicate_sentinels(spark, store_dir):
    """ADVICE r11: a micro-batch that repeats doc_ids (a replay concatenated
    into one batch) must not append duplicate sentinel band rows per ingest
    — verdict-safe but unbounded store bloat."""
    import os

    one = spark.createDataFrame(
        [(101, None), (102, None)], "doc_id long, text string"
    )
    replayed = one.union(one).union(one)  # each tokenless doc 3x in a batch
    ingest_neardup_batch(spark, replayed, store_dir, num_hashes=16, bands=4,
                         portable=True)
    bands = spark.read.parquet(os.path.join(store_dir, "bands"))
    sentinels = bands.where(F.col("band_idx") == -1)
    assert sentinels.count() == 2  # one row per distinct tokenless doc
    verdict = _verdict_map(neardup_verdict(spark, store_dir))
    assert verdict == {101: (101, True), 102: (102, True)}
