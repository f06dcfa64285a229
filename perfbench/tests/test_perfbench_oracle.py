"""The parity tier's normaliser, as the benchmark's gate uses it."""

import datetime

from oracle import mismatch, multiset, norm_cell


def test_norm_cell():
    assert norm_cell(None) == "NULL"
    assert norm_cell(float("nan")) == "NULL"
    assert norm_cell(1 / 3) == "0.333333"
    assert norm_cell(1234567.0) == "1.23457e+06"
    assert norm_cell(7) == "7"
    aware = datetime.datetime(2024, 1, 1, 5, tzinfo=datetime.timezone.utc)
    assert norm_cell(aware) == "2024-01-01 05:00:00"
    assert norm_cell(datetime.date(2024, 1, 1)) == "2024-01-01"


def test_multiset_ignores_row_and_column_order():
    a = multiset(["b", "a"], [(1, "x"), (2, "y")])
    b = multiset(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b


def test_mismatch_reports_columns_counts_and_values():
    assert mismatch(["a"], [(1,)], ["a"], [(1.0,)]) is None  # both render "1"
    assert mismatch(["a"], [(1.0,)], ["a"], [(1.0000001,)]) is None
    assert "columns" in mismatch(["a"], [], ["b"], [])
    assert "row count" in mismatch(["a"], [(1,)], ["a"], [])
    assert "values" in mismatch(["a"], [(1,)], ["a"], [(2,)])
