"""Sample statistics and result digests for the benchmark.

Percentiles follow the rule the benchmark reports by: a pXX figure is
only printed when at least ten samples lie beyond it, so a tail number
is never read off a handful of runs.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

MIN_BEYOND = 10


def percentile(samples, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0 < p < 100)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def guarded_percentile(samples, p: float) -> float | None:
    """The ``p``-th percentile, or None when fewer than ``MIN_BEYOND``
    samples lie above it (p90 needs 100 samples, p99 needs 1000)."""
    if len(samples) * (100.0 - p) / 100.0 < MIN_BEYOND - 1e-9:
        return None
    return percentile(samples, p)


# -- order-insensitive result digest ---------------------------------
# Same normalisation as tests/conftest.py::assert_matches_oracle: column
# names lower-cased and sorted, floats/decimals rounded to 6 digits,
# timestamps made zone-less, rows sorted.


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize(cols, rows):
    """(sorted lower-case column names, normalised sorted rows); two
    results match when their ``normalize`` outputs are equal."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r) for r in rows]
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def _canon(v):
    # 3 == 3.0 under the oracle rule, so both must hash alike
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, tuple):
        return tuple(_canon(x) for x in v)
    return v


def digest(normalized) -> str:
    """Short hash of a ``normalize`` result, plus its row count."""
    ncols, nrows = normalized
    h = hashlib.sha256(repr(ncols).encode())
    for r in nrows:
        h.update(repr(_canon(r)).encode())
    return f"{h.hexdigest()[:16]}:{len(nrows)}"
