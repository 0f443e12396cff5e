import pandas as pd

from lhbench.lakehouse_refresh import COLS, _same_rows, aggregate, lww


def _batch(rows):
    return pd.DataFrame(rows, columns=COLS)


def test_later_batch_wins_and_ties_take_the_largest_row():
    b0 = _batch([(1, "First-time", "Personal", 10, 1, "Satisfied"),
                 (2, "Returning", "Business", 20, 2, "Satisfied")])
    b1 = _batch([(2, "First-time", "Business", 5, 4, "Satisfied"),
                 (2, "Returning", "Business", 1, 1, "Satisfied"),
                 (3, "First-time", "Personal", 7, 3,
                  "Neutral or Dissatisfied")])
    out = lww([b0, b1])
    assert list(out["id"]) == [1, 2, 3]
    row2 = out[out["id"] == 2].iloc[0]
    assert (row2["customer_type"], row2["departure_delay"]) == ("Returning", 1)


def test_reader_aggregate_is_integer_exact():
    df = _batch([(1, "a", "Personal", 10, 1, "Satisfied"),
                 (2, "a", "Personal", 5, 2, "Satisfied"),
                 (3, "a", "Business", 7, 3, "Satisfied")])
    assert aggregate(df) == [("Satisfied", "Business", 1, 7, 3),
                             ("Satisfied", "Personal", 2, 15, 3)]


def test_rows_of_one_micro_batch_have_no_order():
    a = _batch([(1, "a", "Personal", 10, 1, "Satisfied"),
                (1, "b", "Personal", 5, 2, "Satisfied")])
    b = a.iloc[::-1].reset_index(drop=True)
    assert _same_rows(a, b)
    assert not _same_rows(a, a.iloc[:1])
    assert lww([a]).equals(lww([b]))
