"""bench.py's pass-outlier rule (pure Python, no Spark)."""

from __future__ import annotations

from bench import accept_passes


def test_pass_missing_a_query_does_not_lower_the_floor():
    full = {"a": 2.0, "b": 2.0, "c": 6.0}
    # "c" failed in the last pass: its raw total (4.0) would make the
    # 10.0 s complete passes look 2.5x slower than the floor
    passes = [full, dict(full), {"a": 2.0, "b": 2.0}]
    assert accept_passes(passes) == [True, True, True]


def test_slow_pass_is_still_rejected():
    passes = [{"a": 1.0, "b": 1.0}, {"a": 1.0, "b": 1.1}, {"a": 3.0, "b": 3.0}]
    assert accept_passes(passes) == [True, True, False]
    assert accept_passes([]) == []
