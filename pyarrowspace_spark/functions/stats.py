"""Scale-tiered scalar statistics.

Spark's exact `percentile` aggregates a count-per-DISTINCT-value map
and merges all maps into one final state. Over continuous doubles
(edge weights, Rayleigh energies) distinct ≈ rows, so the final merge
materializes O(rows) entries on one task — fine at the reference's
single-node scales, an OOM at billions of edges. `percentile_expr`
keeps the exact aggregate below an explicit ceiling (bit-identical to
the DuckDB oracle and to np.percentile's linear interpolation, which
the correctness gate relies on) and switches to `percentile_approx`
(Greenwald-Khanna, bounded state, 10k accuracy ⇒ ≤0.01% rank error)
beyond it — the cuts it feeds (edge trim, τ-median) are distribution
summaries, not exact-value contracts, at that scale.
`exact_percentile` is the driver-side twin of the exact aggregate, for
values already on the driver.
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Above this many rows the exact per-distinct-value percentile state is
# an OOM hazard; env-tunable for clusters with bigger final reducers.
EXACT_PERCENTILE_MAX = int(
    os.environ.get("SPARK_GRAFT_EXACT_PCT_MAX", str(50_000_000)))

APPROX_ACCURACY = 10_000


def percentile_expr(col: str, q: float, n_rows: int | None) -> Column:
    """Exact percentile below EXACT_PERCENTILE_MAX rows (oracle
    parity), percentile_approx beyond. Pass the (cheaply known) row
    count; `None` means "caller knows it's small" and stays exact."""
    if n_rows is not None and int(n_rows) > EXACT_PERCENTILE_MAX:
        return F.expr(
            f"percentile_approx({col}, {float(q)}, {APPROX_ACCURACY})")
    return F.expr(f"percentile({col}, {float(q)})")


def exact_percentile(values, q: float) -> "float | None":
    """Spark's exact `percentile(col, q)` over a 1-D array, bit for bit.

    Spark sorts the values, takes position p = (n − 1)·q and returns
    the value at p when p is whole or both neighbours are equal, else
    (⌈p⌉ − p)·lo + (p − ⌊p⌋)·hi. That is not numpy's lerp, nor
    lo + frac·(hi − lo): both can differ from it by an ulp, which flips
    a strict comparison against the cut. None for no values."""
    v = np.sort(np.asarray(values, dtype=np.float64))
    if not len(v):
        return None
    pos = (len(v) - 1) * float(q)
    lower, higher = math.floor(pos), math.ceil(pos)
    lo = float(v[lower])
    if higher == lower or v[higher] == lo:
        return lo
    return (higher - pos) * lo + (pos - lower) * float(v[higher])
