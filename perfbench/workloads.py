"""The benchmark's workloads: the ops each one times and how each op's
output is checked.

An op is one public call into the program plus the action that brings its
result back to Python (``toPandas``); ``collect_fold`` returns its value from
the call itself. Checks run after the timed loop and return ``None`` when the
output is right, else a description of the mismatch.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from perfbench import datagen, reference

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Rows of the fold/scan table. The hot user holds about half of them, i.e.
# two 50k-row Arrow batches; most users have one or two rows.
FOLD_ROWS = 200_000

# Catalog tables at 1/10 of sf0.1 (60k lineitem rows). The catalog faces
# are bound by per-job and per-face fixed cost, which this size keeps while
# the face set fits one run.
CATALOG_SCALE = 1.0

# The catalog_mix faces, run in this order. The set and order are fixed, so
# runs with different seeds time the same work; the seed changes the data.
#
# Single-action faces from queries.catalog, relational, tpch_extra,
# tpch_partsupp and timeseries_text: building the plan reads parquet schemas
# only and one action runs the face, so per-face fixed cost dominates.
CATALOG_SHORT_FACES = [
    "q6_revenue_forecast",
    "q12_late_shipment_priority",
    "q16_part_supplier_counts",
    "asof_last_signup_before_purchase",
    "order_price_changes",
]
# Faces that run many Spark jobs and local checkpoints while the plan is
# built: MinHash dedup iterations, and a streaming dedup query with a state
# store, run to completion over the generated files.
EAGER_FACES = [
    "dedup_minhash_keeplist",
    "streaming_dedup_docs",
]


@dataclass
class Op:
    name: str
    layer: str  # "operators" (fold/scan calls) or "queries" (catalog faces)
    build: Callable[[Any], Any]  # spark -> DataFrame, or the result itself
    check: Callable[[Any], str | None]


@dataclass
class Workload:
    name: str
    tables: list[str]  # tables the warm-up reads
    ops: list[Op]
    generate: Callable[[str], dict[str, int]]  # data dir -> rows per table
    # spark -> None: pays, once per run, a first-use cost the ops would
    # otherwise pay inside the timed pass
    warmup: Callable[[Any], None] | None = None
    data_dir: str = ""


def start_python_workers(spark) -> None:
    """A tiny grouped fold: starts the Python workers the fold/scan ops use."""
    import polars_numba_spark as pns

    tiny = spark.createDataFrame([(1, 0, 50.0), (1, 1, 900.0), (2, 2, 17.0)], "k long, t long, v double")
    pns.grouped_fold(tiny, "k", reference.cap_step, 0.0, "double", columns=["v"],
                     order_by="t", extra_args=(reference.CAP_LIMIT,)).collect()


def _as_float(values: list) -> np.ndarray:
    return np.array([np.nan if v is None else v for v in values], dtype="float64")


def _by_ts(pdf) -> Any:
    return pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)


def _ts_us(series) -> np.ndarray:
    return series.to_numpy().astype("datetime64[us]").astype("int64")


class FoldScanReference:
    """Reference results over the generated fold/scan columns, computed
    lazily so that only the checks (outside the timed loop) pay for them."""

    def __init__(self, cols: dict[str, np.ndarray]):
        self.cols = cols
        self._cache: dict[str, Any] = {}

    def _get(self, key: str, fn: Callable[[], Any]) -> Any:
        if key not in self._cache:
            self._cache[key] = fn()
        return self._cache[key]

    @property
    def amounts(self) -> list:
        c = self.cols
        return self._get("amounts", lambda: [
            a if ok else None for a, ok in zip(c["amount"].tolist(), c["amount_valid"].tolist())
        ])

    @property
    def users(self) -> list:
        return self._get("users", lambda: self.cols["user_id"].tolist())

    @property
    def ts_us(self) -> np.ndarray:
        return self._get("ts", lambda: self.cols["ts"].astype("datetime64[us]").astype("int64"))

    def rows(self) -> Any:
        return zip(self.amounts)

    def grouped_fold(self) -> dict:
        return self._get("gfold", lambda: reference.grouped_fold(
            self.users, self.rows(), reference.cap_step, 0.0, (reference.CAP_LIMIT,)))

    def grouped_units(self) -> dict:
        return self._get("gunits", lambda: reference.grouped_fold(
            self.users, self.rows(), reference.cap_units_step, (0.0, 0.0), (reference.CAP_LIMIT,)))

    def grouped_scan(self) -> np.ndarray:
        return self._get("gscan", lambda: _as_float(reference.grouped_scan(
            self.users, self.rows(), reference.cap_step, 0.0, (reference.CAP_LIMIT,))))

    def fold(self) -> float:
        return self._get("fold", lambda: reference.fold(
            reference.cap_step, 0.0, self.rows(), (reference.CAP_LIMIT,)))

    def scan(self) -> np.ndarray:
        return self._get("scan", lambda: _as_float(reference.scan(
            reference.cap_step, 0.0, self.rows(), (reference.CAP_LIMIT,))))

    def cents_scan(self) -> np.ndarray:
        def run() -> np.ndarray:
            cents = np.round(self.cols["amount"] * 100).astype("int64").tolist()
            rows = [(c,) if ok else (None,) for c, ok in zip(cents, self.cols["amount_valid"].tolist())]
            return _as_float(reference.scan(reference.add_step, 0, rows))
        return self._get("cents", run)

    def running_max(self) -> np.ndarray:
        return self._get("rmax", lambda: _as_float(
            reference.grouped_running_max(self.users, self.amounts)))


def _check_rows(pdf, ref: FoldScanReference, column: str, want: np.ndarray) -> str | None:
    if len(pdf) != len(want):
        return f"{len(pdf)} rows, want {len(want)}"
    pdf = _by_ts(pdf)
    if not np.array_equal(_ts_us(pdf["ts"]), ref.ts_us):
        return "row timestamps differ from the input"
    got = pdf[column].to_numpy(dtype="float64")
    bad = int(np.sum(~((got == want) | (np.isnan(got) & np.isnan(want)))))
    return f"{bad} of {len(want)} {column} values differ" if bad else None


def _check_per_user(got: dict, want: dict, what: str) -> str | None:
    if got.keys() != want.keys():
        return f"{what}: {len(got)} users, want {len(want)}"
    bad = [k for k in want if got[k] != want[k]]
    return f"{what}: {len(bad)} users differ (e.g. user {bad[0]})" if bad else None


def fold_scan(seed: int) -> Workload:
    """The paper's own surface: every fold/scan operator over one skewed,
    nullable events table with the non-associative cap-1000 step."""
    from pyspark.sql import functions as F

    import polars_numba_spark as pns
    from polars_numba_spark.dtypes import SizedArray
    from polars_numba_spark.sources import tables

    cols = datagen.fold_events(seed, FOLD_ROWS)
    ref = FoldScanReference(cols)
    cap = (reference.CAP_LIMIT,)
    wl = Workload("fold_scan", ["fold_events"], [],
                  lambda out_dir: {"fold_events": datagen.write_fold_events(out_dir, cols)},
                  start_python_workers)

    def events(spark):
        # looked up at call time, so the benchmark's load recorder sees it
        return tables.load_table(spark, "fold_events", wl.data_dir)

    def check_gfold(pdf):
        got = dict(zip(pdf["user_id"].tolist(), pdf["fold"].tolist()))
        return _check_per_user(got, ref.grouped_fold(), "fold")

    def check_multi(pdf):
        got = dict(zip(pdf["user_id"].tolist(), pdf["balance"].tolist()))
        problem = _check_per_user(got, ref.grouped_fold(), "balance")
        if problem:
            return problem
        got = {u: tuple(v) for u, v in zip(pdf["user_id"].tolist(), pdf["balance_units"].tolist())}
        return _check_per_user(got, ref.grouped_units(), "balance_units")

    def check_cfold(value):
        want = ref.fold()
        return None if value == want else f"fold {value!r}, want {want!r}"

    wl.ops = [
        Op("grouped_fold", "operators", lambda spark: pns.grouped_fold(
            events(spark), "user_id", reference.cap_step, 0.0, "double",
            columns=["amount"], order_by="ts", extra_args=cap), check_gfold),
        Op("grouped_scan", "operators", lambda spark: pns.grouped_scan(
            events(spark), "user_id", reference.cap_step, 0.0, "double",
            columns=["amount"], order_by="ts", extra_args=cap),
            lambda pdf: _check_rows(pdf, ref, "scan", ref.grouped_scan())),
        Op("grouped_multi_fold", "operators", lambda spark: pns.grouped_multi_fold(
            events(spark), "user_id", {
                "balance": dict(function=reference.cap_step, initial_accumulator=0.0,
                                return_dtype="double", columns=["amount"], extra_args=cap),
                "balance_units": dict(function=reference.cap_units_step,
                                      initial_accumulator=(0.0, 0.0),
                                      return_dtype=SizedArray("double", 2),
                                      columns=["amount"], extra_args=cap),
            }, order_by="ts"), check_multi),
        Op("collect_fold", "operators", lambda spark: pns.collect_fold(
            events(spark), reference.cap_step, 0.0, extra_args=cap,
            column_names=["amount"], order_by="ts"), check_cfold),
        Op("collect_scan", "operators", lambda spark: pns.collect_scan(
            events(spark), reference.cap_step, 0.0, "double", extra_args=cap,
            column_names=["amount"], order_by="ts"),
            lambda pdf: _check_rows(pdf, ref, "scan", ref.scan())),
        Op("collect_scan_combine", "operators", lambda spark: pns.collect_scan(
            events(spark).select("ts", F.round(F.col("amount") * 100).cast("long").alias("cents")),
            reference.add_step, 0, "long", column_names=["cents"], order_by="ts",
            combine=reference.add_combine),
            lambda pdf: _check_rows(pdf, ref, "scan", ref.cents_scan())),
        Op("assoc_scan", "operators", lambda spark: pns.assoc_scan(
            events(spark), "max", "amount", order_by="ts", partition_by="user_id",
            result_name="running_max"),
            lambda pdf: _check_rows(pdf, ref, "running_max", ref.running_max())),
    ]
    return wl


def catalog_mix(seed: int) -> Workload:
    """Catalog faces through ``__spark_entry__.queries()``, checked against
    their ``oracle_sql()`` in DuckDB: short single-action faces beside eager
    multi-job faces. None of them starts Python workers."""
    import __spark_entry__

    # tools/ is not a package; its oracle compare is the repository's
    # canonical order-insensitive check, reused as is.
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle

    queries = __spark_entry__.queries()
    oracles = __spark_entry__.oracle_sql()
    wl = Workload("catalog_mix", ["lineitem"], [],
                  lambda out_dir: datagen.write_catalog_tables(out_dir, seed, CATALOG_SCALE))
    duck: dict[str, Any] = {}

    def oracle(face: str):
        if "con" not in duck:
            duck["con"] = check_oracle.duck_connect(wl.data_dir)
        if face not in duck:
            duck[face] = duck["con"].execute(oracles[face]).df()
        return duck[face].copy()

    def make_check(face: str) -> Callable[[Any], str | None]:
        return lambda pdf: "; ".join(check_oracle.compare(face, pdf, oracle(face))) or None

    for face in CATALOG_SHORT_FACES + EAGER_FACES:
        fn = queries[face]
        wl.ops.append(Op(face, "queries", lambda spark, fn=fn: fn(spark, wl.data_dir), make_check(face)))
    return wl


WORKLOADS = {
    "fold_scan": fold_scan,
    "catalog_mix": catalog_mix,
}

