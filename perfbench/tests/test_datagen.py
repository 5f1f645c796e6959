"""Seeded input generation: same seed, same inputs; another seed, other inputs."""

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen


def test_fold_events_are_a_function_of_the_seed():
    a, b, c = (datagen.fold_events(s, 5000) for s in (7, 7, 8))
    for k in a:
        assert np.array_equal(a[k], b[k])
    assert not np.array_equal(a["amount"], c["amount"])


def test_fold_events_shape():
    cols = datagen.fold_events(1, 50_000)
    assert np.all(np.diff(cols["ts"].astype("int64")) > 0)  # a total order
    _, counts = np.unique(cols["user_id"], return_counts=True)
    assert counts.max() > 0.3 * len(cols["user_id"])  # one hot user
    assert np.median(counts) <= 3  # most users are small
    assert 0.005 < 1 - cols["amount_valid"].mean() < 0.02


def test_catalog_tables_are_a_function_of_the_seed(tmp_path):
    rows_a = datagen.write_catalog_tables(str(tmp_path / "a"), 3, scale=0.05)
    rows_b = datagen.write_catalog_tables(str(tmp_path / "b"), 3, scale=0.05)
    datagen.write_catalog_tables(str(tmp_path / "c"), 4, scale=0.05)
    assert rows_a == rows_b
    for name in rows_a:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert ta.num_rows == rows_a[name]
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet")
    )
