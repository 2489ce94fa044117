"""tools/ab.py's interleaving loop, on pure-Python callables under a fake
clock (no Spark session): the run order alternates which side goes first,
warm rounds run but are not recorded, and every timed sample comes back."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import ab as ab_mod  # noqa: E402


@pytest.fixture
def clock(monkeypatch):
    now = [0.0]
    monkeypatch.setattr(ab_mod, "perf_counter", lambda: now[0])
    return now


def _side(name, durations, log, clock):
    it = iter(durations)

    def fn():
        log.append(name)
        clock[0] += next(it)

    return name, fn


def test_order_alternates_and_warm_rounds_are_dropped(clock):
    log = []
    a = _side("a", [9.0, 1.0, 3.0, 2.0], log, clock)
    b = _side("b", [8.0, 5.0, 4.0, 6.0], log, clock)
    res = ab_mod.ab(a, b, reps=3, warm=1)
    assert log == ["a", "b", "b", "a", "a", "b", "b", "a"]
    # the warm round's 9.0 / 8.0 are gone; every timed sample is returned
    assert res["a"] == {"samples": [1.0, 3.0, 2.0], "min": 1.0, "median": 2.0}
    assert res["b"] == {"samples": [5.0, 4.0, 6.0], "min": 4.0, "median": 5.0}


def test_no_warm_rounds(clock):
    log = []
    res = ab_mod.ab(
        _side("x", [2.0, 4.0], log, clock), _side("y", [1.0, 3.0], log, clock), 2, 0
    )
    assert log == ["x", "y", "y", "x"]
    assert res["x"]["samples"] == [2.0, 4.0] and res["x"]["median"] == 3.0
    assert res["y"]["samples"] == [1.0, 3.0] and res["y"]["min"] == 1.0


def test_same_name_or_no_reps_rejected():
    with pytest.raises(ValueError, match="named"):
        ab_mod.ab(("a", lambda: None), ("a", lambda: None))
    with pytest.raises(ValueError, match="reps"):
        ab_mod.ab(("a", lambda: None), ("b", lambda: None), reps=0)
