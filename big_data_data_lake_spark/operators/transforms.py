"""Projections / scalar transforms (SURVEY §2.2, P1-P17).

All pure column expressions — JVM-side, whole-stage-codegen'd. The
reference's row-loop ``apply(axis=1)`` equivalents (continent
classifier, dead-reckoning) are in ``functions/geo.py`` as native trig
column math: no UDF anywhere in this module.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def extract_hour(ts: Column | str) -> Column:
    """P7 — hour-of-day from a timestamp (dashboard.py:90)."""
    return F.hour(F.col(ts) if isinstance(ts, str) else ts)


def bucketize(col: Column | str, bins: Sequence[float], labels: Sequence[str]) -> Column:
    """P10 — pd.cut-style numeric binning (app.py:246-250).

    ``bins`` has len(labels)+1 edges; values outside [bins[0], bins[-1]]
    map to null, matching pandas. Expressed as a chained ``when`` so it
    codegens to one branch tree (a Bucketizer would force an ML
    pipeline stage for no gain).
    """
    c = F.col(col) if isinstance(col, str) else col
    expr = F.lit(None).cast("string")
    # build from the last bin backwards so the first matching bin wins
    for i in range(len(labels) - 1, -1, -1):
        lo, hi = bins[i], bins[i + 1]
        expr = F.when((c > F.lit(lo)) & (c <= F.lit(hi)), F.lit(labels[i])).otherwise(expr)
    return expr


def clip(col: Column | str, lo: float | None = None, hi: float | None = None) -> Column:
    """P11 — clamp to [lo, hi] (app.py:244,451-455)."""
    c = F.col(col) if isinstance(col, str) else col
    if lo is not None:
        c = F.greatest(F.lit(float(lo)), c)
    if hi is not None:
        c = F.least(F.lit(float(hi)), c)
    return c


def marker_size(alt: Column | str, default: float = 5.0) -> Column:
    """P12/P13 — alt/1000+5 clipped to [5,20], NaN→default (app.py:245,451-455)."""
    c = F.col(alt) if isinstance(alt, str) else alt
    scaled = clip(c / F.lit(1000.0) + F.lit(5.0), 5.0, 20.0)
    return F.when(c.isNull() | F.isnan(c), F.lit(default)).otherwise(scaled)
