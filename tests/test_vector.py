"""Vector/centroid/k-means operator tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from polars_numba_spark.operators.vector import (
    assign_nearest_centroid,
    group_centroids,
    kmeans_iterations,
    l2_normalize,
)


def test_l2_normalize(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0])], "id long, v array<double>")
    out = df.select(l2_normalize("v").alias("n")).collect()[0]["n"]
    assert out == pytest.approx([0.6, 0.8])
    assert math.isclose(sum(x * x for x in out), 1.0)


def test_group_centroids_golden(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("a", [3.0, 2.0]), ("b", [10.0, 10.0])],
        "label string, embedding array<double>",
    )
    out = {r["label"]: (r["centroid"], r["n_members"]) for r in group_centroids(df).collect()}
    assert out["a"] == ([2.0, 1.0], 2)
    assert out["b"] == ([10.0, 10.0], 1)


def test_assign_nearest_centroid(spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.1, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "label int, centroid array<double>"
    )
    out = {r["vec_id"]: r["assigned"] for r in assign_nearest_centroid(vecs, cents).collect()}
    assert out == {1: 0, 2: 1}


def test_assign_kernel_matches_expression_semantics(spark):
    """The r14 mapInArrow assignment kernel must replay the broadcast-
    crossJoin + max(struct(cos, -cid)) semantics bit-for-bit, including
    the dirty-row rules: null vector / null element / ragged length null
    every cosine and fall to the LOWEST centroid id with a null
    cosine_sim; an all-NaN row also falls to the lowest id but KEEPS its
    NaN score (Spark orders NaN greatest, so it wins the argmax)."""
    import math

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.1]),
            (2, [0.1, 1.0]),
            (3, None),
            (4, [1.0]),               # ragged: length != centroid length
            (5, [None, 1.0]),         # null element
            (6, [float("nan"), 1.0]),  # NaN: wins argmax, lowest cid tie
            (7, []),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(3, [1.0, 0.0]), (5, [0.0, 1.0])], "label int, centroid array<double>"
    )
    rows = {r["vec_id"]: r for r in assign_nearest_centroid(vecs, cents).collect()}
    assert rows[1]["assigned"] == 3 and rows[2]["assigned"] == 5
    for dirty in (3, 4, 5, 7):
        assert rows[dirty]["assigned"] == 3  # lowest centroid id
        assert rows[dirty]["cosine_sim"] is None
    assert rows[6]["assigned"] == 3 and math.isnan(rows[6]["cosine_sim"])
    # empty centroid table -> empty result (crossJoin-with-empty behavior)
    assert assign_nearest_centroid(vecs, cents.where(F.lit(False))).count() == 0
    # zero-norm vector -> ANSI division-by-zero, matching the expression path
    zv = spark.createDataFrame([(9, [0.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        assign_nearest_centroid(zv, cents).collect()


def test_kmeans_separates_clear_clusters(spark):
    # two tight clusters around (1,0) and (0,1)
    rows = [(i, [1.0 + 0.01 * i, 0.02 * (i % 3)]) for i in range(10)] + [
        (100 + i, [0.02 * (i % 3), 1.0 + 0.01 * i]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assignments, centroids = kmeans_iterations(df, k=2, iterations=3)
    got = {r["vec_id"]: r["assigned"] for r in assignments.collect()}
    cluster_a = {got[i] for i in range(10)}
    cluster_b = {got[100 + i] for i in range(10)}
    assert len(cluster_a) == 1 and len(cluster_b) == 1 and cluster_a != cluster_b
    assert centroids.count() == 2


def test_ivf_topk_recall_beats_probe_fraction(spark):
    from polars_numba_spark.operators.vector import ivf_topk
    from polars_numba_spark.sources import load_table

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    q = e.where(F.col("vec_id") < 5)
    _, cents = kmeans_iterations(e, k=8, iterations=2)
    from polars_numba_spark.operators.similarity import brute_force_topk

    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(e, q, k=5).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(e, q, cents, k=5, nprobe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6  # scoring ~3/8 of the corpus; structure should beat that


def test_int8_quantization_roundtrip_error_bounded(spark):
    from polars_numba_spark.operators.vector import (
        dequantize_int8,
        int8_scales,
        quantize_int8,
    )
    from polars_numba_spark.sources import load_table

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    scales = int8_scales(e)
    [srow] = scales.collect()
    assert all(s >= 0 for s in srow["scales"])
    qdf = quantize_int8(e, scales)
    assert dict(qdf.dtypes)["q"] == "array<tinyint>"
    joined = (
        dequantize_int8(qdf, scales)
        .select("vec_id", "embedding", "embedding_dq")
        .collect()
    )
    max_scale = max(srow["scales"])
    for r in joined:
        for x, xd in zip(r["embedding"], r["embedding_dq"]):
            # |error| <= scale/2 per dimension (round-to-nearest)
            assert abs(float(x) - xd) <= max_scale / 2 + 1e-12


def test_contrastive_triplets_contract(spark):
    """Triplet invariants on a small labeled corpus: the positive shares
    the anchor's label and is its cosine-argmax (checked brute-force),
    every negative has a DIFFERENT label, two slots per anchor, and the
    whole output is a pure function of ids (second run identical)."""
    import math

    from pyspark.sql import functions as F

    from polars_numba_spark.operators.vector import contrastive_triplets

    rows = []
    for i in range(24):
        lab = i % 4
        vec = [math.sin(0.1 * i * (d + 1)) + lab + 0.5 for d in range(8)]
        rows.append((i, lab, vec))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = contrastive_triplets(df, negatives=2, cells=None).collect()
    assert len(out) == 48  # 24 anchors x 2 slots
    labels = {i: i % 4 for i in range(24)}

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (
            math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v))
        )

    vecs = {r[0]: r[2] for r in rows}
    for r in out:
        a, p, n = r["anchor_id"], r["positive_id"], r["negative_id"]
        assert labels[p] == labels[a]
        assert labels[n] != labels[a]
        best = max(
            (cos(vecs[a], vecs[b]), -b)
            for b in vecs
            if b != a and labels[b] == labels[a]
        )
        assert abs(r["pos_sim"] - best[0]) < 1e-9 and -best[1] == p
    out2 = contrastive_triplets(df, negatives=2, cells=None).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_contrastive_triplets_cell_bounded_default(spark):
    """The default path mines positives within (label x k-means cell) —
    the scale posture. Invariants: positive shares the anchor's label
    AND cell, pos_sim matches the brute-force argmax restricted to that
    (label, cell), negatives cross labels, output is deterministic, and
    every emitted anchor has >= 1 same-(label, cell) peer. Also checks
    the operator accepts caller-supplied assignments and agrees with the
    auto-derived ones (same k, same recipe)."""
    import math

    from polars_numba_spark.operators.vector import (
        contrastive_triplets,
        k_for_corpus,
        kmeans_iterations,
    )
    from pyspark.sql import functions as F

    rows = []
    for i in range(24):
        lab = i % 4
        vec = [math.sin(0.1 * i * (d + 1)) + lab + 0.5 for d in range(8)]
        rows.append((i, lab, vec))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = contrastive_triplets(df, negatives=2).collect()
    assert 0 < len(out) <= 48 and len(out) % 2 == 0

    k = k_for_corpus(24)
    assert k == 8  # floor dominates below 64 rows
    assignments, _ = kmeans_iterations(df, k, iterations=2)
    cell = {r["vec_id"]: r["assigned"] for r in assignments.collect()}
    labels = {i: i % 4 for i in range(24)}

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (
            math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v))
        )

    vecs = {r[0]: r[2] for r in rows}
    for r in out:
        a, p, n = r["anchor_id"], r["positive_id"], r["negative_id"]
        assert labels[p] == labels[a] and cell[p] == cell[a]
        assert labels[n] != labels[a]
        best = max(
            (cos(vecs[a], vecs[b]), -b)
            for b in vecs
            if b != a and labels[b] == labels[a] and cell[b] == cell[a]
        )
        assert abs(r["pos_sim"] - best[0]) < 1e-9 and -best[1] == p

    # caller-supplied assignments reproduce the auto path exactly
    supplied = assignments.select("vec_id", F.col("assigned").alias("cell"))
    out2 = contrastive_triplets(df, negatives=2, cells=supplied).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_contrastive_triplets_single_label_raises_even_with_ansi_off(spark):
    """A single-label corpus has no valid negative and must raise on
    EVERY path, regardless of spark.sql.ansi.enabled — with ANSI off,
    the old `% (L-1)` arithmetic yielded NULL and the function silently
    returned an empty frame instead of raising. On the bounded "auto"
    path the raise is driver-side (AQE's empty-side join pruning can
    skip in-plan guards when `pos` is empty); on the exact path it is
    the in-plan raise_error."""
    import pytest

    from polars_numba_spark.operators.vector import contrastive_triplets

    df = spark.createDataFrame(
        [(i, 0, [float(i), 1.0]) for i in range(4)],
        "vec_id long, label int, embedding array<double>",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="single\\s+label"):
            contrastive_triplets(df, negatives=1).collect()  # auto path
        with pytest.raises(Exception, match="single\\s+label"):
            contrastive_triplets(df, negatives=1, cells=None).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_pq_indivisible_dim_last_subspace_absorbs_remainder(spark):
    """dim % m != 0: the last subspace takes the remainder components, so
    every component participates in training/encoding/ADC (the old DIV
    split silently dropped the tail dims from the whole PQ path)."""
    from pyspark.sql import functions as F

    from polars_numba_spark.operators.vector import (
        _pq_subvectors,
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )

    rows = [(i, [float(i * 10 + d) for d in range(7)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    subs = {(r["id"], r["s"]): r["subvec"]
            for r in _pq_subvectors(df, 2, "embedding", "vec_id").collect()}
    for i in range(6):
        assert len(subs[(i, 0)]) == 3 and len(subs[(i, 1)]) == 4
        assert subs[(i, 0)] + subs[(i, 1)] == [float(i * 10 + d) for d in range(7)]
    # end-to-end on the odd dimension: widths stay consistent per s
    books = pq_train_codebooks(df, m=2, k=2, iterations=1)
    blens = {(r["s"], len(r["centroid"])) for r in books.collect()}
    assert blens == {(0, 3), (1, 4)}
    codes = pq_encode(df, books, m=2)
    top = pq_adc_topk(codes, df.where(F.col("vec_id") == 0), books, k=1, m=2)
    assert len(top.collect()) == 1


def test_pq_codebooks_encode_and_adc_shapes(spark):
    from polars_numba_spark.operators.vector import (
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )
    from pyspark.sql import functions as F
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train_codebooks(df, m=2, k=4, iterations=2)
    b = books.collect()
    assert len(b) == 2 * 4  # m*k codebook rows
    assert all(0 <= r["code"] < 4 and r["s"] in (0, 1) for r in b)
    assert all(len(r["centroid"]) == 4 for r in b)  # 8 dims / 2 subspaces
    codes = pq_encode(df, books, m=2)
    c = codes.collect()
    assert len(c) == 40 * 2  # one code per (vector, subspace)
    assert all(0 <= r["code"] < 4 for r in c)
    # ADC self-query: every query's top-1 exists and scores <= 1
    q = df.where(F.col("vec_id") < 3)
    top = pq_adc_topk(codes, q, books, k=1, m=2).collect()
    assert len(top) == 3 and all(r["cosine_sim"] <= 1.0 + 1e-9 for r in top)


def test_pq_assign_ties_and_null_win_semantics(spark):
    """Hand-built cases where Spark's struct-MIN semantics decide the PQ
    argmin: ties go to the lowest code, a NULL distance sorts lowest and
    wins, and a subspace with no centroids drops the row (inner join)."""
    from polars_numba_spark.operators import vector as V
    from polars_numba_spark.operators.similarity import sumsq

    subs = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),     # exact tie between codes 5 and 7
            (2, 0, [1.0] * 3),      # ragged vs BOTH centroids -> null d2 wins at code 5
            (3, 1, [1.0, 1.0]),     # subspace 1 has no centroids -> row dropped
        ],
        "id long, s int, subvec array<double>",
    )
    cents = spark.createDataFrame(
        [(0, 7, [2.0, 0.0]), (0, 5, [2.0, 0.0])],
        "s int, __code int, __cv array<double>",
    ).withColumn("__cn2", sumsq(F.col("__cv")))
    got = {
        (r["id"], r["s"]): r["code"]
        for r in V._pq_assign(subs, cents, carry_vec=False, round_to=9).collect()
    }
    assert got[(1, 0)] == 5          # tie -> lowest code
    assert got[(2, 0)] == 5          # null d2 wins the MIN, lowest code
    assert (3, 1) not in got         # inner-join drop
