import pytest

from lhbench.freshness import FreshnessBook


def test_freshness_counts_from_the_due_time():
    book = FreshnessBook()
    book.landed(0, due_s=100.0, actual_s=100.5)   # generator ran late
    book.landed(1, due_s=104.0, actual_s=104.0)
    book.committed(version=3, batches=[0])
    # a reader over an older snapshot does not make batch 0 fresh
    assert book.reader_returned(version=2, returned_s=102.0) == []
    assert book.reader_returned(version=3, returned_s=103.0) == [0]
    assert book.fresh[0] == pytest.approx(3.0)    # not 2.5
    assert book.lag_max() == pytest.approx(0.5)


def test_only_the_first_reader_that_sees_a_batch_counts():
    book = FreshnessBook()
    for b, due in enumerate((0.0, 4.0, 8.0)):
        book.landed(b, due, due)
    book.committed(1, [0])
    book.committed(2, [1, 2])
    assert book.reader_returned(2, 10.0) == [0, 1, 2]
    assert book.reader_returned(2, 11.0) == []
    assert book.values() == [10.0, 6.0, 2.0]
    assert book.values([2, 7]) == [2.0]


def test_a_newer_snapshot_covers_every_older_commit():
    book = FreshnessBook()
    book.landed(0, 0.0, 0.0)
    book.landed(1, 1.0, 1.0)
    book.committed(5, [0])
    book.committed(6, [1])
    assert sorted(book.reader_returned(9, 7.0)) == [0, 1]
    assert book.values() == [7.0, 6.0]
