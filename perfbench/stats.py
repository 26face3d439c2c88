"""Arithmetic behind the benchmark's metrics.  Pure functions, no Spark."""

from __future__ import annotations

import os
import statistics


def core_busy_ratio(task_busy_s: float, run_s: float, cores: int) -> float:
    """Share of the cores' time during execution that tasks were busy."""
    if run_s <= 0 or cores <= 0:
        raise ValueError("run_s and cores must be positive")
    return task_busy_s / (run_s * cores)


def space_amp(bytes_on_disk: int, live_bytes: int) -> float:
    """Table bytes on disk ÷ bytes of the latest version's live files."""
    if live_bytes <= 0:
        raise ValueError("the latest version has no live bytes")
    return bytes_on_disk / live_bytes


def write_amp(bytes_written: int, change_bytes: int) -> float:
    """Bytes the table wrote ÷ bytes of the change batches applied."""
    if change_bytes <= 0:
        raise ValueError("no change bytes applied")
    return bytes_written / change_bytes


def tree_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def check_counts(metrics: dict) -> None:
    """Fail loudly on a negative count or size: per-group attribution
    can never produce one, so a negative means broken bookkeeping."""
    bad = {k: v for k, v in metrics.items() if v["value"] < 0}
    if bad:
        raise ValueError(f"negative metric values: {bad}")
