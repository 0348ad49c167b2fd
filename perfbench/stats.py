"""Small statistics helpers shared by the workloads and the report."""

from __future__ import annotations

import bisect
import itertools
import statistics

#: A percentile is reported only when at least this many samples lie above it.
MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, p: float):
    """The ``p``-th percentile (nearest rank), or ``None`` when fewer than
    ``MIN_BEYOND`` samples lie above it, so a tail figure is never read off a
    handful of points."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, -(-p * n // 100))  # ceil(p/100 * n), at least 1
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[int(rank) - 1]


def match_files_to_batches(file_rows, batch_rows):
    """Index of the micro-batch that consumed each file.

    Files are consumed whole and in publish order, so file ``k`` belongs to
    the first batch whose cumulative ``numInputRows`` reaches the cumulative
    row count of files ``0..k``.  Batches with no input rows may appear in
    ``batch_rows`` and are never matched.  Raises ``ValueError`` when a batch
    boundary falls inside a file or the batches did not consume every file.
    """
    file_cum = list(itertools.accumulate(file_rows))
    batch_cum = list(itertools.accumulate(batch_rows))
    ends = set(file_cum)
    for b, (rows, cum) in enumerate(zip(batch_rows, batch_cum)):
        if rows and cum not in ends:
            raise ValueError(f"batch {b} ends inside a file ({cum} rows)")
    if not batch_cum or batch_cum[-1] < file_cum[-1]:
        raise ValueError(f"files hold {file_cum[-1]} rows, batches consumed "
                         f"{batch_cum[-1] if batch_cum else 0}")
    return [bisect.bisect_left(batch_cum, c) for c in file_cum]
