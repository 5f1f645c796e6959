"""r15 shared-tokenization checkpoints: the minhash/jaccard pipeline and
the containment SSJoin derive the token/shingle sets several times per
plan (signature explode + both verify sides; 5× in the SSJoin). The r15
optimization materializes the tokenized corpus ONCE via a checkpoint and
shares it. These tests pin that the shared token sets move work, never
results: the MinHash feed with and without them returns the same pairs,
and the (always checkpointed) containment SSJoin returns the fixture's
known pairs and keep-list."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_numba_spark.operators import dedup as D
from polars_numba_spark.plans.checkpoint import checkpoint, release


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "a"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "a"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "a"),
        (4, "completely different text with no shared runs at all here", "a"),
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "b"),
        (6, "", "b"),          # tokenless: vanishes at the explode both ways
        (7, None, "b"),        # null text: same
        (8, "short", "b"),     # too short for 8-shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy(*df.columns).collect()]


@pytest.mark.parametrize("shingle_n", [None, 8])
def test_minhash_pairs_ckpt_matches_lineage(spark, docs, shingle_n):
    shared = checkpoint(
        docs.select(
            F.col("doc_id").alias("id"),
            D._token_sets("text", shingle_n).alias("toks"),
        ).withColumn("n_toks", F.size("toks"))
    )
    outs = []
    for toks in (None, shared):
        cands = D.minhash_lsh_candidates(
            docs, num_hashes=16, bands=4, portable=True,
            shingle_n=shingle_n, toks=toks,
        )
        outs.append(
            _sorted_rows(
                D.jaccard_pairs(
                    docs, cands, prune_threshold=0.5,
                    shingle_n=shingle_n, toks=toks,
                ).where(F.col("jaccard") >= 0.5)
            )
        )
    release(shared)
    assert outs[0] == outs[1]
    assert outs[0]  # non-degenerate: the dup cluster must pair up


def test_banded_signatures_toks_feed_matches(spark, docs):
    """The explode-from-pretokenized feed is row-identical to the
    explode-from-text feed (incl. blocks and empty/null docs)."""
    toks = docs.select(
        F.col("doc_id").alias("id"),
        "source",
        D._token_sets("text", None).alias("toks"),
    )
    a = D._banded_signatures(
        docs, "text", "doc_id", 16, 4, True, None, ["source"]
    )
    b = D._banded_signatures(
        docs, "text", "doc_id", 16, 4, True, None, ["source"], toks=toks
    )
    assert _sorted_rows(a) == _sorted_rows(b)


def test_containment_join_expected_pairs_and_keeplist(spark, docs):
    """Docs 1, 2 and 5 are identical and doc 3 differs in one of ten
    tokens, so those four are mutually ≥0.9-contained; empty, null and
    unrelated docs pair with nothing and keep themselves."""
    assert _sorted_rows(D.containment_join(docs, threshold=0.9)) == [
        (1, 2, 1.0, 1.0), (1, 3, 0.9, 0.9), (1, 5, 1.0, 1.0),
        (2, 1, 1.0, 1.0), (2, 3, 0.9, 0.9), (2, 5, 1.0, 1.0),
        (3, 1, 0.9, 0.9), (3, 2, 0.9, 0.9), (3, 5, 0.9, 0.9),
        (5, 1, 1.0, 1.0), (5, 2, 1.0, 1.0), (5, 3, 0.9, 0.9),
    ]
    assert _sorted_rows(D.containment_keep_list(docs, threshold=0.9)) == [
        (1, 1, True), (2, 1, False), (3, 1, False), (4, 4, True),
        (5, 1, False), (6, 6, True), (7, 7, True), (8, 8, True),
    ]
