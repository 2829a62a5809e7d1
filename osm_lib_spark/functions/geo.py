"""Geodesic + fixed-point coordinate functions.

Fixed-point semantics (reference Node.java:10,18-29): coordinates are
stored as int32 ``fixed = (int)(deg * 1e7)`` — Java's ``(int)`` cast
truncates toward zero, which Spark's ``cast('int')`` on a double also
does, so the Column expressions below are bit-exact vs the reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

FIXED_PRECISION_FACTOR = 10_000_000.0  # reference Node.java:10

EARTH_RADIUS_M = 6_371_000.0


def from_fixed(fixed: Column) -> Column:
    """int32 fixed-point → degrees (Node.java:22-24)."""
    return fixed.cast("double") / F.lit(FIXED_PRECISION_FACTOR)


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters — pure Column expr (codegen)."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlmb = F.radians(lon2 - lon1)
    a = F.sin(dphi / 2) * F.sin(dphi / 2) + F.cos(p1) * F.cos(p2) * F.sin(
        dlmb / 2
    ) * F.sin(dlmb / 2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def np_haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """numpy twin of haversine_m for the pure-pandas oracle."""
    p1 = np.radians(np.asarray(lat1, dtype=np.float64))
    p2 = np.radians(np.asarray(lat2, dtype=np.float64))
    dphi = np.radians(np.asarray(lat2, dtype=np.float64) - np.asarray(lat1, dtype=np.float64))
    dlmb = np.radians(np.asarray(lon2, dtype=np.float64) - np.asarray(lon1, dtype=np.float64))
    a = np.sin(dphi / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
