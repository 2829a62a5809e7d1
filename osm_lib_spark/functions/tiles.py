"""Web-Mercator tile math + Hilbert space-filling-curve keys.

Reference semantics (WebMercatorTile.java:9,16-18): fixed ZOOM=12,
  xtile = floor((lon+180)/360 * 2^12)
  ytile = floor((1 - ln(tan(rad(lat)) + 1/cos(rad(lat)))/pi)/2 * 2^12)

Two implementations are provided:

* ``tile_x_col`` / ``tile_y_col`` — pure Column expressions (JVM-side,
  whole-stage codegen), used by every Spark operator; double semantics
  are Java's because it IS the JVM.
* ``np_tile_x`` / ``np_tile_y`` — numpy float64 twins, used by the
  pure-pandas oracle (``sources/oracle.py``) and to turn a query bbox
  into its tile range on the driver (``bbox_tile_range``).

``hilbert_key`` linearizes (xtile, ytile) on a Hilbert curve so that
``repartitionByRange`` over the key gives spatially-contiguous
partitions (bbox scans touch few partitions; the analog of the
reference's sorted (x, y, wayId) B-tree index, OSM.java:144-146).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

ZOOM = 12  # reference WebMercatorTile.java:9
NTILES = 1 << ZOOM

# ---------------------------------------------------------------------------
# numpy implementations (shared by the pandas UDFs and the pytest oracle)
# ---------------------------------------------------------------------------


def np_tile_x(lon: np.ndarray, zoom: int = ZOOM) -> np.ndarray:
    """xtile = floor((lon+180)/360 * 2^zoom)  (WebMercatorTile.java:16)."""
    lon = np.asarray(lon, dtype=np.float64)
    return np.floor((lon + 180.0) / 360.0 * (1 << zoom)).astype(np.int32)


def np_tile_y(lat: np.ndarray, zoom: int = ZOOM) -> np.ndarray:
    """ytile by the slippy-map formula (WebMercatorTile.java:17-18)."""
    lat_r = np.radians(np.asarray(lat, dtype=np.float64))
    y = (1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / np.pi) / 2.0
    return np.floor(y * (1 << zoom)).astype(np.int32)


def np_tile_bbox(x: np.ndarray, y: np.ndarray, zoom: int = ZOOM):
    """Tile → (north, south, east, west) degrees (display/WebMercatorTile.java:53-68)."""
    n = 1 << zoom
    west = np.asarray(x) / n * 360.0 - 180.0
    east = (np.asarray(x) + 1) / n * 360.0 - 180.0
    north = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * np.asarray(y) / n))))
    south = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (np.asarray(y) + 1) / n))))
    return north, south, east, west


def np_hilbert_d(x: np.ndarray, y: np.ndarray, order: int = ZOOM) -> np.ndarray:
    """Vectorized Hilbert xy→d (classic iterative rot algorithm).

    Our addition (no reference analog): linearization key for range
    partitioning; the reference's B-tree uses plain (x, y) lexicographic
    order (OSM.java:144-146), which has worse spatial locality.
    """
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    rx = np.zeros_like(x)
    ry = np.zeros_like(y)
    d = np.zeros_like(x)
    s = np.int64(1 << (order - 1))
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f, y_f = x.copy(), y.copy()
        x = np.where(flip, s - 1 - x_f, x)
        y = np.where(flip, s - 1 - y_f, y)
        x2, y2 = x.copy(), y.copy()
        x = np.where(swap, y2, x)
        y = np.where(swap, x2, y)
        s >>= 1
    return d


# ---------------------------------------------------------------------------
# Column-expression implementations (JVM, codegen)
# ---------------------------------------------------------------------------


def tile_x_col(lon: Column, zoom: int = ZOOM) -> Column:
    return F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << zoom))).cast(
        "int"
    )


def tile_y_col(lat: Column, zoom: int = ZOOM) -> Column:
    lat_r = F.radians(lat)
    y = (
        F.lit(1.0)
        - F.log(F.tan(lat_r) + F.lit(1.0) / F.cos(lat_r)) / F.lit(float(np.pi))
    ) / F.lit(2.0)
    return F.floor(y * F.lit(float(1 << zoom))).cast("int")


def hilbert_key_col(xtile: Column, ytile: Column, order: int = ZOOM) -> Column:
    """Hilbert xy→d as a PURE JVM-side Column expression (no Python).

    The classic iterative rotation algorithm expressed as ONE
    ``F.aggregate`` fold over the bit levels with a (x, y, d) struct
    accumulator. (Unrolling the loop into plan-level expressions is a
    trap: x and y each reference their previous values twice per
    iteration, so the expression tree grows ~2^order.) The fold keeps
    the plan O(1) and iterates at runtime inside ArrayAggregate.
    Matches ``np_hilbert_d`` bit-for-bit (pytest-pinned).
    """
    levels = F.sequence(F.lit(order - 1), F.lit(0), F.lit(-1))
    acc0 = F.struct(
        xtile.cast("long").alias("x"),
        ytile.cast("long").alias("y"),
        F.lit(0).cast("long").alias("d"),
    )

    def step(acc: Column, k: Column) -> Column:
        s = F.pow(F.lit(2.0), k).cast("long")  # exact for k ≤ 30
        x, y, d = acc.getField("x"), acc.getField("y"), acc.getField("d")
        rx = F.when(x.bitwiseAND(s) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        ry = F.when(y.bitwiseAND(s) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        d2 = d + s * s * (rx * 3).bitwiseXOR(ry)
        # rotate quadrant: when ry == 0 → (flip if rx == 1) then swap
        flip = (ry == 0) & (rx == 1)
        xf = F.when(flip, s - 1 - x).otherwise(x)
        yf = F.when(flip, s - 1 - y).otherwise(y)
        return F.struct(
            F.when(ry == 0, yf).otherwise(xf).alias("x"),
            F.when(ry == 0, xf).otherwise(yf).alias("y"),
            d2.alias("d"),
        )

    return F.aggregate(levels, acc0, step).getField("d")


def hilbert_key(xtile: Column, ytile: Column) -> Column:
    """Hilbert d-value of a z12 tile as a long Column (codegen)."""
    return hilbert_key_col(xtile, ytile)


def bbox_tile_range(
    min_lat: float, min_lon: float, max_lat: float, max_lon: float
) -> tuple[int, int, int, int]:
    """Bbox → inclusive tile range (min_x, min_y, max_x, max_y).

    Mirrors TileOSMSource.setBoundingBox (TileOSMSource.java:40-47):
    the corner tiles come from (minLat,minLon) and (maxLat,maxLon), and
    the y axis is INVERTED (north = smaller ytile), so the scan range is
    x ∈ [minTile.x, maxTile.x], y ∈ [maxTile.y, minTile.y].
    """
    min_x = int(np_tile_x(np.array([min_lon]))[0])
    max_x = int(np_tile_x(np.array([max_lon]))[0])
    # y-inversion per TileOSMSource.java:43-45
    min_y = int(np_tile_y(np.array([max_lat]))[0])
    max_y = int(np_tile_y(np.array([min_lat]))[0])
    return min_x, min_y, max_x, max_y
