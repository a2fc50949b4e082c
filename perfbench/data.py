"""Seeded benchmark inputs and the numpy oracle that checks every answer.

Swaths: a polar orbiter (65 deg inclination, 92.6 min period) flies
half-orbit granules; each granule is one parquet file named with its start
time, carrying GPM-style ``gpm_granule_id`` / ``gpm_id`` /
``gpm_cross_track_id`` ids and scan-cadence times at millisecond precision.
The same seed writes byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("2024-01-01T00:00:00", "ms")
PERIOD_S = 5556.0
INCLINATION = np.deg2rad(65.0)
EARTH_RATE_DEG_S = 360.0 / 86164.0905
N_CROSS = 49
CROSS_STEP_DEG = 0.15
EARTH_RADIUS_M = 6371008.8  # the radius sat_bucket_spark.filters.haversine_expr uses

GRANULE_SCHEMA = pa.schema(
    [
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("value", pa.float64()),
        ("time", pa.timestamp("ms")),
        ("gpm_granule_id", pa.int64()),
        ("gpm_id", pa.string()),
        ("gpm_cross_track_id", pa.int32()),
    ]
)


def spark_schema():
    """The granule columns as the Spark schema ``write_granules_bucket`` needs."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("lon", DoubleType()),
            StructField("lat", DoubleType()),
            StructField("value", DoubleType()),
            StructField("time", TimestampType()),
            StructField("gpm_granule_id", LongType()),
            StructField("gpm_id", StringType()),
            StructField("gpm_cross_track_id", IntegerType()),
        ]
    )


def granule_start(index: int, n_granules: int, days: float, start_day: float = 0.0) -> np.datetime64:
    """Start of the ``index``-th of ``n_granules`` spread evenly over ``days``
    from ``start_day``, snapped to a half-orbit boundary so every ground track
    follows the same orbit."""
    half_ms = int(PERIOD_S * 500)
    offset = start_day * 86_400_000 + index * days * 86_400_000 / max(n_granules, 1)
    return EPOCH + np.timedelta64(int(offset // half_ms) * half_ms, "ms")


def swath(granule_id: int, start: np.datetime64, n_scans: int, rng: np.random.Generator) -> pd.DataFrame:
    """One half-orbit granule: ``n_scans`` scans x ``N_CROSS`` footprints."""
    half_ms = int(PERIOD_S * 500)
    cadence_ms = half_ms // n_scans
    t_ms = (start - EPOCH).astype("int64") + np.arange(n_scans, dtype=np.int64) * cadence_ms
    t_s = t_ms / 1000.0
    u = 2.0 * np.pi * t_s / PERIOD_S - np.pi / 2.0
    lat_c = np.rad2deg(np.arcsin(np.sin(INCLINATION) * np.sin(u)))
    lon_c = np.rad2deg(np.arctan2(np.cos(INCLINATION) * np.sin(u), np.cos(u))) - EARTH_RATE_DEG_S * t_s
    k = np.arange(N_CROSS) - N_CROSS // 2
    lat = np.repeat(lat_c, N_CROSS)
    lon = (lon_c[:, None] + k[None, :] * CROSS_STEP_DEG / np.cos(np.deg2rad(lat_c))[:, None]).ravel()
    lon = (lon + 180.0) % 360.0 - 180.0
    along = np.repeat(np.arange(n_scans), N_CROSS)
    return pd.DataFrame(
        {
            "lon": lon,
            "lat": lat,
            "value": rng.gamma(2.0, 1.5, lon.size),
            "time": (EPOCH + np.repeat(t_ms, N_CROSS).astype("timedelta64[ms]")).astype("datetime64[ms]"),
            "gpm_granule_id": np.full(lon.size, granule_id, dtype=np.int64),
            "gpm_id": [f"{granule_id}-{a}" for a in along],
            "gpm_cross_track_id": np.tile(np.arange(N_CROSS, dtype=np.int32), n_scans),
        }
    )


@dataclass
class Granules:
    """Granule files on disk plus their rows, concatenated, for the oracle."""

    paths: list[str]
    corrupt: list[str]
    frame: pd.DataFrame
    input_bytes: int


def write_granules(
    out_dir: str,
    seed: int,
    first_id: int,
    n_granules: int,
    n_scans: int,
    days: float,
    start_day: float = 0.0,
    n_corrupt: int = 0,
) -> Granules:
    """Write granules ``first_id .. first_id + n_granules - 1``, spread over
    ``days`` from ``start_day``, as parquet.

    ``n_corrupt`` extra granule files, timed after that span, are truncated
    halfway, so reading them raises; they are not part of ``frame``.
    """
    os.makedirs(out_dir, exist_ok=True)
    paths, corrupt, frames, size = [], [], [], 0
    for gid in range(first_id, first_id + n_granules + n_corrupt):
        rng = np.random.default_rng([seed, gid])
        start = granule_start(gid - first_id, n_granules, days, start_day)
        pdf = swath(gid, start, n_scans, rng)
        stamp = pd.Timestamp(start).strftime("%Y%m%d%H%M%S")
        path = os.path.join(out_dir, f"GPM_{gid:06d}_{stamp}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, schema=GRANULE_SCHEMA, preserve_index=False), path)
        if gid >= first_id + n_granules:
            with open(path, "r+b") as f:
                f.truncate(os.path.getsize(path) // 2)
            corrupt.append(path)
            continue
        paths.append(path)
        frames.append(pdf)
        size += os.path.getsize(path)
    return Granules(paths, corrupt, pd.concat(frames, ignore_index=True), size)


def read_granule(path: str) -> pd.DataFrame:
    """The user's granule reader handed to ``write_granules_bucket``."""
    return pq.read_table(path).to_pandas()


# --------------------------------------------------------------------------
# numpy oracle
# --------------------------------------------------------------------------


def haversine_m(lon: np.ndarray, lat: np.ndarray, lon0: float, lat0: float) -> np.ndarray:
    rlat, rlat0 = np.radians(lat), np.radians(lat0)
    dlat = (rlat - rlat0) / 2.0
    dlon = (np.radians(lon) - np.radians(lon0)) / 2.0
    a = np.sin(dlat) ** 2 + np.cos(rlat) * np.cos(rlat0) * np.sin(dlon) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def in_window(times: np.ndarray, start, end) -> np.ndarray:
    return (times >= np.datetime64(start, "ms")) & (times < np.datetime64(end, "ms"))


def in_extent(lon, lat, extent) -> np.ndarray:
    x0, x1, y0, y1 = extent
    return (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)


def in_polygon(lon: np.ndarray, lat: np.ndarray, polygon) -> np.ndarray:
    """Even-odd ray cast, the rule ``sat_bucket_spark.filters`` documents."""
    x0, x1, y0, y1 = polygon_bbox(polygon)
    inside = np.zeros(lon.shape, dtype=np.int64)
    n = len(polygon)
    for i in range(n):
        xa, ya = polygon[i]
        xb, yb = polygon[(i + 1) % n]
        straddles = (ya > lat) != (yb > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = (xb - xa) * (lat - ya) / (yb - ya) + xa
        inside += straddles & (lon < x_at)
    return (inside % 2 == 1) & in_extent(lon, lat, (x0, x1, y0, y1))


def polygon_bbox(polygon) -> tuple[float, float, float, float]:
    xs, ys = [p[0] for p in polygon], [p[1] for p in polygon]
    return min(xs), max(xs), min(ys), max(ys)


def cell_index(v: np.ndarray, vmin: float, size: float, n: int) -> np.ndarray:
    """Right-closed bins with the lowest edge included, as the partitioning
    classes bin coordinates."""
    return np.clip(np.ceil((v - vmin) / size) - 1, 0, n - 1).astype(np.int64)


def overpasses(times: np.ndarray, gap_s: float = 3600.0) -> list[tuple[np.datetime64, np.datetime64]]:
    """(first, last) time of each overpass: distinct times split where the
    gap to the previous one exceeds ``gap_s`` (an equal gap does not split)."""
    t = np.unique(times)
    breaks = np.diff(t) > np.timedelta64(int(gap_s * 1000), "ms")
    return list(zip(t[np.r_[True, breaks]], t[np.r_[breaks, True]]))


def along_track_span(gpm_id: np.ndarray, granule: np.ndarray) -> int:
    """Along-track width of one overpass once its granules are laid end to
    end: the sum over granules of (last scan - first scan + 1)."""
    along = np.array([int(s.rsplit("-", 1)[1]) for s in gpm_id])
    return int(sum(along[granule == g].max() - along[granule == g].min() + 1 for g in np.unique(granule)))


def grid_counts_means(lon, lat, value, n_x: int, n_y: int, size: float) -> tuple[np.ndarray, np.ndarray]:
    """Per-cell row count and mean value on a global ``size``-degree grid,
    as (n_y, n_x) arrays; empty cells hold NaN means."""
    flat = cell_index(lat, -90.0, size, n_y) * n_x + cell_index(lon, -180.0, size, n_x)
    n = np.bincount(flat, minlength=n_x * n_y).astype(float)
    s = np.bincount(flat, weights=value, minlength=n_x * n_y)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = np.where(n > 0, s / n, np.nan)
    return n.reshape(n_y, n_x), mean.reshape(n_y, n_x)


def idw_fanout(lon, lat, times, n_x: int, n_y: int, size: float, radius: int = 1) -> tuple[int, int]:
    """(output cells, contributions) of an inverse-distance grid per day: each
    row feeds every in-grid cell of its (2r+1)^2 neighbourhood, and one
    output row is one (cell, day) that got at least one contribution."""
    xi = cell_index(lon, -180.0, size, n_x)
    yi = cell_index(lat, -90.0, size, n_y)
    day = times.astype("datetime64[D]").astype(np.int64)
    keys, total = [], 0
    for dx in range(-radius, radius + 1):
        for dy in range(-radius, radius + 1):
            tx, ty = xi + dx, yi + dy
            ok = (tx >= 0) & (tx < n_x) & (ty >= 0) & (ty < n_y)
            total += int(ok.sum())
            keys.append((day[ok] * n_y + ty[ok]) * n_x + tx[ok])
    return int(np.unique(np.concatenate(keys)).size), total
