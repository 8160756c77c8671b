"""Percentiles and latency attribution, shared by run.py and the self-tests."""
import math

# the tail ladder: the highest of these with at least ten samples beyond it
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def median(values):
    return percentile(values, 50.0) if values else 0.0


def tail(values):
    """(p, value) for the highest percentile in TAIL_LADDER that has at
    least ten samples beyond it, or (None, 0.0) when none has."""
    for p in TAIL_LADDER:
        if values and beyond(len(values), p) >= 10:
            return p, percentile(values, p)
    return None, 0.0


def attribute(n_lines, batches):
    """Commit time of every input line.

    `n_lines` input lines arrive in landing order; `batches` are
    (numInputRows, commit time) per micro-batch in batch order. The file
    source hands each micro-batch the next lines in order, so batch k
    committed the lines between the cumulative row counts before and
    after it. Lines beyond the last committed batch get None."""
    out = [None] * n_lines
    at = 0
    for rows, commit in batches:
        for i in range(at, min(at + rows, n_lines)):
            out[i] = commit
        at += rows
    return out
