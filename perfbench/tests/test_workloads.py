"""Input generation and result comparison (no Spark needed)."""

import datetime

import datagen
from workloads import rows_match


def test_same_seed_same_inputs_other_seed_other_inputs():
    a = datagen.generate(7, 0.001)
    b = datagen.generate(7, 0.001)
    c = datagen.generate(8, 0.001)
    assert set(a) == set(datagen.TABLE_NAMES)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 4 * a["orders"].num_rows


def test_money_columns_are_exact_two_decimal_values():
    li = datagen.generate(3, 0.001)["lineitem"]
    for col in ("l_extendedprice", "l_discount", "l_tax"):
        for v in li.column(col).to_pylist()[:500]:
            assert round(v, 2) == v


def test_rows_match_ignores_order_and_float_noise():
    d = datetime.date(1996, 1, 2)
    want = [(1, "a", 0.1 + 0.2, d), (2, "b", 5.0, d)]
    got = [(2, "b", 5.0, d), (1, "a", 0.3, d)]
    assert rows_match(got, want)


def test_rows_match_detects_differences():
    want = [(1, "a", 1.0), (2, "b", 2.0)]
    assert not rows_match([(1, "a", 1.0)], want)
    assert not rows_match([(1, "a", 1.0), (2, "b", 2.01)], want)
    assert not rows_match([(1, "a", 1.0), (2, "c", 2.0)], want)
    assert not rows_match([(1, "a", 1.0), (1, "a", 1.0)], want)
