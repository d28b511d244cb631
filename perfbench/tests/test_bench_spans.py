"""Tail-percentile rule, span self time and slope."""

import pytest

from spans import Tracer, slope, tail, with_self_time


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(19))) is None
    p, v, n = tail([float(i) for i in range(20)])
    assert (p, n) == (50.0, 20) and v == 9.0
    p, v, n = tail([float(i) for i in range(100)])
    assert p == 90.0 and v == 89.0
    p, _, _ = tail([1.0] * 1000)
    assert p == 99.0
    p, _, _ = tail([1.0] * 10000)
    assert p == 99.9


@pytest.mark.parametrize("n", [20, 37, 100, 250, 1999, 10000])
def test_tail_leaves_at_least_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    p, v, _ = tail(xs)
    assert sum(x > v for x in xs) >= 10


def test_self_time_subtracts_child_union():
    spans = [
        {"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 0, "start": 9.0, "end": 12.0},
        {"id": 4, "name": "leaf", "parent": 1, "start": 1.0, "end": 2.0},
    ]
    out = {s["name"]: s["self_s"] for s in with_self_time(spans)}
    assert out["op"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert out["a"] == pytest.approx(2.0)
    assert out["leaf"] == pytest.approx(1.0)


def test_tracer_nesting_and_disabled():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0]
    off = Tracer(False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_slope():
    assert slope([1.0, 2.0, 3.0]) == pytest.approx(1.0)
    assert slope([5.0]) == 0.0
