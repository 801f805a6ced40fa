"""The benchmark's own arithmetic: percentiles under a sample-size
rule, interval unions for the driver/job split, and failure shares."""

from __future__ import annotations

import math

# A percentile is reported only when at least this many samples lie
# beyond it, so p50 needs 20 samples and p90 needs 100.
MIN_BEYOND = 10


def supports(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples leave at least ``min_beyond`` of them
    above the ``q`` quantile (0 < q < 1)."""
    return n > 0 and math.floor(n * (1.0 - q) + 1e-9) >= min_beyond


def percentile(values: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float | None:
    """Linear-interpolated ``q`` quantile of ``values``, or None when
    the sample is too small for it (see :func:`supports`)."""
    if not supports(len(values), q, min_beyond):
        return None
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals: list[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals``, overlaps counted once,
    each interval first clipped to ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_time(wall_start: float, wall_end: float,
                job_intervals: list[tuple[float, float]]) -> float:
    """Span wall time minus the union of its jobs' intervals: the time
    the driver spent planning, in py4j or in driver-side Python, plus
    the gaps between jobs."""
    return (wall_end - wall_start) - union_length(job_intervals, wall_start, wall_end)


def pass_counts(ran: list[str], raised: set[str], verdicts: list[tuple]) -> tuple[int, int]:
    """(attempted, failed) for one pass. ``ran`` names the operations
    the pass ran, ``raised`` those of them that raised, and ``verdicts``
    are its checks ``(op_name, check, ok, note)``. An operation fails
    when it raised or any of its checks failed, and counts once. A
    failed check may name an operation the pass never reached (an
    earlier one raised); it counts as attempted too, so ``failed`` never
    exceeds ``attempted``."""
    failed = set(raised) | {v[0] for v in verdicts if not v[2]}
    return len(set(ran) | failed), len(failed)


def fail_frac(attempted: int, failed: int) -> float:
    """Share of attempted operations that raised, missed their oracle
    or broke an invariant."""
    if attempted <= 0:
        raise ValueError("fail_frac: no attempted operations")
    if not 0 <= failed <= attempted:
        raise ValueError(f"fail_frac: failed={failed} outside [0, {attempted}]")
    return failed / attempted
