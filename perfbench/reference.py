"""Pure-Python fold/scan references for the fold_scan workload's checks.

These follow the operators' documented null rules, not their code:

- fold: a row with a null in any selected column is dropped; a group whose
  rows are all null yields the initial accumulator;
- scan: a null row emits ``None`` and the accumulator carries over unchanged;
- a native running ``max`` window ignores nulls, so a null row repeats the
  running max so far (``None`` before the group's first value).

The step functions live here, at module level, so Spark's Python workers
import them by reference.
"""

from __future__ import annotations

from typing import Any, Callable, Hashable, Iterable, Sequence

CAP_LIMIT = 1000.0


def cap_step(acc: float, limit: float, amount: float) -> float:
    """The non-associative credit-cap step: refuse a purchase (or refund)
    that would take the balance above ``limit`` or below zero."""
    new = acc + amount
    return acc if new > limit or new < 0 else new


def cap_units_step(acc: tuple, limit: float, amount: float) -> tuple:
    """Tuple accumulator ``(balance, accepted)``: the cap step plus a count
    of the purchases it accepted."""
    balance, accepted = acc
    new = balance + amount
    if new > limit or new < 0:
        return acc
    return (new, accepted + 1.0)


def add_step(acc: int, value: int) -> int:
    return acc + value


def add_combine(a: int, b: int) -> int:
    return a + b


def _is_null(row: Sequence[Any]) -> bool:
    return any(v is None for v in row)


def fold(step: Callable, acc: Any, rows: Iterable[Sequence[Any]], extra: Sequence[Any] = ()) -> Any:
    """Sequential fold over ``rows`` (tuples of column values), null rows dropped."""
    for row in rows:
        if not _is_null(row):
            acc = step(acc, *extra, *row)
    return acc


def scan(step: Callable, acc: Any, rows: Iterable[Sequence[Any]], extra: Sequence[Any] = ()) -> list:
    """Running scan: one output per row, ``None`` for a null row."""
    out = []
    for row in rows:
        if _is_null(row):
            out.append(None)
        else:
            acc = step(acc, *extra, *row)
            out.append(acc)
    return out


def grouped_fold(
    keys: Sequence[Hashable], rows: Sequence[Sequence[Any]], step: Callable, acc0: Any,
    extra: Sequence[Any] = (),
) -> dict:
    """Per-key fold over rows already in the declared order."""
    accs: dict = {}
    for key, row in zip(keys, rows):
        acc = accs.get(key, acc0)
        if not _is_null(row):
            acc = step(acc, *extra, *row)
        accs[key] = acc
    return accs


def grouped_scan(
    keys: Sequence[Hashable], rows: Sequence[Sequence[Any]], step: Callable, acc0: Any,
    extra: Sequence[Any] = (),
) -> list:
    """Per-key running scan over rows already in the declared order; the
    output is aligned with the input rows."""
    accs: dict = {}
    out = []
    for key, row in zip(keys, rows):
        if _is_null(row):
            out.append(None)
            continue
        acc = step(accs.get(key, acc0), *extra, *row)
        accs[key] = acc
        out.append(acc)
    return out


def grouped_running_max(keys: Sequence[Hashable], values: Sequence[Any]) -> list:
    """Per-key running max over values already in order; nulls are skipped."""
    best: dict = {}
    out = []
    for key, v in zip(keys, values):
        if v is not None:
            cur = best.get(key)
            best[key] = v if cur is None or v > cur else cur
        out.append(best.get(key))
    return out
