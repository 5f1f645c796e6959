"""The pure-Python fold/scan reference against the FIXTURES.md goldens."""

from perfbench import reference

CAP = (reference.CAP_LIMIT,)
PURCHASES = [50.0, 900.0, 70.0, -400.0, 60.0]


def rows(values):
    return [(v,) for v in values]


def test_f2_global_cap_fold_and_scan():
    assert reference.fold(reference.cap_step, 0.0, rows(PURCHASES), CAP) == 610
    assert reference.scan(reference.cap_step, 0.0, rows(PURCHASES), CAP) == [50, 950, 950, 550, 610]


def test_f3_grouped_cap_fold_and_scan():
    users = ["alice"] * 5 + ["bob"] * 2
    amounts = rows(PURCHASES + [17.0, 0.5])
    assert reference.grouped_fold(users, amounts, reference.cap_step, 0.0, CAP) == {
        "alice": 610.0,
        "bob": 17.5,
    }
    assert reference.grouped_scan(users, amounts, reference.cap_step, 0.0, CAP) == [
        50, 950, 950, 550, 610, 17.0, 17.5,
    ]


def test_f5_null_rules():
    # select a, b; init 0.5; add-fold (FIXTURES.md F5)
    ab = [(1, 30), (2, None), (None, 50), (3, 100)]

    def add(acc, a, b):
        return acc + a + b

    assert reference.fold(add, 0.5, ab) == 134.5
    assert reference.scan(add, 0.5, ab) == [31.5, None, None, 134.5]


def test_all_null_group_keeps_initial_accumulator():
    got = reference.grouped_fold([1, 2, 2], [(None,), (5.0,), (None,)], reference.cap_step, 0.0, CAP)
    assert got == {1: 0.0, 2: 5.0}


def test_tuple_accumulator_counts_accepted_purchases():
    got = reference.fold(reference.cap_units_step, (0.0, 0.0), rows(PURCHASES), CAP)
    assert got == (610.0, 4.0)


def test_running_max_skips_nulls():
    assert reference.grouped_running_max(["u", "u", "v", "u", "v"], [None, 3.0, None, 2.0, 7.0]) == [
        None, 3.0, None, 3.0, 7.0,
    ]
