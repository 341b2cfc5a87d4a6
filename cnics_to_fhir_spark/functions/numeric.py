"""Engine-agnostic numeric helpers shared by operators and oracle SQL."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_round(col: Column, p: int) -> Column:
    """FLOOR(x·10ᵖ + 0.5)/10ᵖ — deterministic across engines.

    Spark ROUND rounds the exact binary double (BigDecimal HALF_UP) while
    DuckDB rounds the shortest decimal representation; they disagree when a
    rational value (e.g. 0.83625 from integer ratios) sits on a decimal
    half-boundary with its binary double infinitesimally below. This floor
    form evaluates identically in both engines whenever both computed the
    same double. SQL mirror: ``FLOOR((x)*1e{p} + 0.5)/1e{p}``.
    """
    s = float(10**p)
    return F.floor(col * s + 0.5) / s
