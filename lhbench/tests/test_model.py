"""Pure-Python parts: the change generator, its reference model, the stats."""

from __future__ import annotations

from lhbench import cdc, stats


def test_generate_is_seeded():
    assert cdc.generate(7, 4, 50) == cdc.generate(7, 4, 50)
    assert cdc.generate(7, 4, 50) != cdc.generate(8, 4, 50)


def test_generate_has_late_changes_and_deletes():
    delivered = cdc.generate(3, 6, 400)
    late = sum(1 for b, batch in enumerate(delivered) for c in batch if b and c.seq <= 400 * (b))
    assert late > 0
    assert any(c.op == "DELETE" for batch in delivered for c in batch)
    assert sum(map(len, delivered)) == 6 * 400


def test_model_orders_by_sequence_not_arrival():
    up1 = cdc.Change(1, "a", 1, "UPSERT")
    dele = cdc.Change(1, None, 3, "DELETE")
    late = cdc.Change(1, "late", 2, "UPSERT")
    model = cdc.Model([[up1], [dele], [late]])
    assert model.current(0) == [(1, "a", 1)]
    assert model.current(1) == []
    assert model.current(2) == []  # the late upsert is older than the delete
    assert model.history(1, 2) == [
        (1, "a", 1, "UPSERT", 2, False),
        (1, "late", 2, "UPSERT", 3, False),
        (1, None, 3, "DELETE", None, False),
    ]
    assert model.history_rows(2) == 3


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    assert stats.tail([1.0, 2.0]) == (2.0, 100.0, 2)
