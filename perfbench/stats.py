"""Reductions the benchmark reports, kept free of I/O so its tests can pin
them: medians, the tail-percentile rule and failure accounting."""
import math
import statistics

MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else float("nan")


def tail_percentile(values, p):
    """The p-quantile (0 < p < 1, nearest rank) and the number of samples
    beyond it. The value is None unless at least MIN_BEYOND samples lie
    beyond it: a tail figure resting on fewer is not reported."""
    n = len(values)
    rank = max(1, math.ceil(p * n))
    beyond = n - rank
    if beyond < MIN_BEYOND:
        return None, beyond
    return sorted(values)[rank - 1], beyond


def failures(ops, wrong=()):
    """(attempted, failed) over operation records. An operation fails when
    it threw (a fired certificate throws too), when its output check failed
    (`wrong` names the queries whose output differed from the oracle), or
    when the record carries its own failed check (`check_failed`)."""
    attempted = failed = 0
    for op in ops:
        attempted += 1
        if (not op["ok"] or op.get("name") in wrong
                or op.get("check_failed", False)):
            failed += 1
    return attempted, failed


def good_latencies(ops, wrong=()):
    """Wall times of the operations that did not fail; failed ones are left
    out of every latency rather than timed to their exception."""
    return [op["wall_s"] for op in ops
            if op["ok"] and op.get("name") not in wrong
            and not op.get("check_failed", False)]


def growth(walls):
    """Median of the last quarter over median of the first quarter."""
    q = max(1, len(walls) // 4)
    return median(walls[-q:]) / median(walls[:q])
