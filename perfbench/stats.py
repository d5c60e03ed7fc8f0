"""Metric arithmetic of the benchmark: pure functions over recorded samples.

Kept free of Spark so the rules the benchmark reports by can be tested on
their own (``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import math
import random
import statistics
from collections.abc import Mapping, Sequence

# A percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two outliers, not a tail.
MIN_BEYOND = 10


def nearest_rank(samples: Sequence[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile of ``samples`` and the number of
    samples strictly beyond its rank."""
    if not samples:
        raise ValueError("no samples")
    if not 0 < q < 100:
        raise ValueError(f"percentile out of range: {q}")
    ordered = sorted(samples)
    rank = math.ceil(q / 100 * len(ordered))
    return ordered[rank - 1], len(ordered) - rank


def supported_percentile(
    samples: Sequence[float], q: float, min_beyond: int = MIN_BEYOND
) -> float | None:
    """The ``q``-th percentile, or None when fewer than ``min_beyond``
    samples lie beyond it."""
    value, beyond = nearest_rank(samples, q)
    return value if beyond >= min_beyond else None


def highest_supported_percentile(
    samples: Sequence[float],
    candidates: Sequence[float] = (99.9, 99, 95, 90, 75, 50),
    min_beyond: int = MIN_BEYOND,
) -> tuple[float, float] | None:
    """(q, value) for the highest candidate percentile the sample count
    supports, or None when even the lowest is unsupported."""
    for q in sorted(candidates, reverse=True):
        value = supported_percentile(samples, q, min_beyond)
        if value is not None:
            return q, value
    return None


def error_rate(failed: int, attempted: int) -> float:
    """Failed ÷ attempted ops; a run that attempted nothing has no rate."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def rows_per_s(rows: int, walls_s: Sequence[float]) -> float:
    """Input rows consumed ÷ the summed wall of the ops that consumed them."""
    total = sum(walls_s)
    if total <= 0:
        raise ValueError("no wall time measured")
    return rows / total


def start_stop_ms(drain_wall_s: float, progress: Sequence[Mapping]) -> float:
    """Part of a stream drain spent outside its micro-batches: query
    start, trigger scheduling and stop. Drain wall minus the summed
    ``durationMs.triggerExecution`` of its progress records."""
    in_batches = sum(
        (p.get("durationMs") or {}).get("triggerExecution", 0) for p in progress
    )
    return drain_wall_s * 1000.0 - in_batches


def pass_order(units: Sequence, seed: int, pass_index: int) -> list:
    """The order of one pass: ``units`` permuted by (seed, pass). The same
    seed and pass always give the same order, and each pass of a run is
    shuffled independently."""
    order = list(units)
    random.Random(seed * 1_000_003 + pass_index).shuffle(order)
    return order


def per_op_medians(samples: Sequence[tuple[str, float]]) -> dict[str, float]:
    """Each op's median, from (op, seconds) samples of wall or CPU time."""
    by_op: dict[str, list[float]] = {}
    for op, seconds in samples:
        by_op.setdefault(op, []).append(seconds)
    if not by_op:
        raise ValueError("no samples")
    return {op: statistics.median(v) for op, v in by_op.items()}


def op_p50(samples: Sequence[tuple[str, float]]) -> float:
    """Median op: the median, over the ops, of each op's own median.
    Every op weighs the same however often it ran, and an op whose value
    sits between two clusters of others does not flip the result from one
    cluster to the other between runs."""
    return statistics.median(per_op_medians(samples).values())


def typical_pass(samples: Sequence[tuple[str, float]]) -> float:
    """Seconds of a typical pass: the sum of each op's median. A burst of
    host load that slows one op in several passes inflates every one of
    those pass totals, but only one sample of each op's median."""
    return sum(per_op_medians(samples).values())


def fits_window(elapsed_s: float, walls_s: Sequence[float], window_s: float) -> bool:
    """Whether one more pass, as long as the median pass so far, ends
    inside a measuring window of ``window_s`` of which ``elapsed_s`` are gone."""
    return not walls_s or elapsed_s + statistics.median(walls_s) <= window_s
