"""Tail percentiles that refuse to extrapolate past their samples."""

import math


class InsufficientSamples(ValueError):
    """A tail percentile was asked of too few samples to be trusted."""


def _rank(q, n):
    """1-based nearest rank; the epsilon keeps 0.95 * 200 at rank 190."""
    return max(1, math.ceil(q * n - 1e-9))


def percentile(samples, q, min_beyond=10):
    """Nearest-rank ``q`` percentile (0 < q < 1) of ``samples``.

    A tail percentile is only as good as the samples above it, so this
    refuses unless at least ``min_beyond`` samples lie strictly beyond the
    selected rank: p95 needs 200 samples, p99 needs 1000.
    """
    if not 0 < q < 1:
        raise ValueError(f"percentile must be in (0, 1), got {q}")
    n = len(samples)
    rank = _rank(q, n)
    if n - rank < min_beyond:
        raise InsufficientSamples(
            f"p{q * 100:g} of {n} samples leaves {n - rank} beyond it, "
            f"need {min_beyond}")
    return sorted(samples)[rank - 1]


def min_samples(q, min_beyond=10):
    """Smallest sample count for which ``percentile(.., q, min_beyond)`` holds."""
    n = 1
    while n - _rank(q, n) < min_beyond:
        n += 1
    return n


def tail(samples, candidates=(0.999, 0.99, 0.95, 0.9, 0.75), min_beyond=10):
    """(q, value) for the highest candidate percentile the samples support,
    or None when even the lowest lacks ``min_beyond`` samples beyond it."""
    for q in candidates:
        if len(samples) >= min_samples(q, min_beyond):
            return q, percentile(samples, q, min_beyond)
    return None

