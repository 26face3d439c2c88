"""Arithmetic of the ratio metrics."""

import pytest

import stats


def test_core_busy_ratio():
    assert stats.core_busy_ratio(6.0, 2.0, 4) == 0.75
    with pytest.raises(ValueError):
        stats.core_busy_ratio(1.0, 0.0, 4)


def test_space_and_write_amp():
    assert stats.space_amp(3_000, 1_000) == 3.0
    assert stats.write_amp(50_000, 1_000) == 50.0
    with pytest.raises(ValueError):
        stats.space_amp(10, 0)
    with pytest.raises(ValueError):
        stats.write_amp(10, 0)


def test_tree_bytes(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "d").mkdir()
    (tmp_path / "d" / "b").write_bytes(b"y" * 5)
    assert stats.tree_bytes(str(tmp_path)) == 15


def test_negative_counts_fail_loudly():
    with pytest.raises(ValueError):
        stats.check_counts({"exec.jobs": {"value": -1, "unit": "count"}})
    stats.check_counts({"exec.jobs": {"value": 0, "unit": "count"}})
