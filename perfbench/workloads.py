"""The benchmark workloads, driven through sat_bucket_spark's public API.

Each workload builds its inputs from the seed in ``setup``, then runs one
closed-loop operation per ``op`` call, which returns the seconds of each of
its timed steps; the checks against the oracle run outside the steps, and a
failed check raises :class:`Mismatch`. Each step is one call into the
library, timed and wrapped in a tracer span named after the layer.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from perfbench import data

BUCKET_CELL_DEG = 10
GRID_DEG = 1  # the overpass cube's grid
POINT_RADIUS_M = 100_000.0
MONTHS = ["2024-01-01", "2024-02-01", "2024-03-01"]


class Mismatch(AssertionError):
    """A library result disagreed with the numpy oracle."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise Mismatch(what)


def dir_stats(root: str, suffix: str = ".parquet") -> tuple[int, int, int]:
    """(data files, directories holding data files, bytes of data files)."""
    files = dirs = size = 0
    for d, _, names in os.walk(root):
        hits = [n for n in names if n.endswith(suffix)]
        files += len(hits)
        dirs += bool(hits)
        size += sum(os.path.getsize(os.path.join(d, n)) for n in hits)
    return files, dirs, size


def rows_by_level(root: str, level: str) -> dict[str, int]:
    """Rows per value of the hive level ``level``, from parquet footers."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for d, _, names in os.walk(root):
        key = next((p.split("=", 1)[1] for p in d.split(os.sep) if p.startswith(level + "=")), None)
        for n in names:
            if n.endswith(".parquet"):
                out[key] = out.get(key, 0) + pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
    return out


class Timer:
    """The seconds of one op's steps, by step name; a step taken twice in one
    op adds up."""

    def __init__(self):
        self.steps: dict[str, float] = {}

    @contextmanager
    def step(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.steps[name] = self.steps.get(name, 0.0) + time.perf_counter() - t0


class Workload:
    name = ""
    warmup_ops = 0  # checked ops run after set-up, untimed
    min_ops = 3  # timed ops a run makes at least, so each step's median has three samples
    trace_ops = 2  # ops per phase of a traced run

    def __init__(self, spark, work: str, seed: int, tracer, scale: float = 1.0):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.scale = scale
        self.reset_rng(0)
        self.layer: dict[str, float] = {}  # per-layer counts of the ops run so far
        self.setup_layer: dict[str, float] = {}  # per-layer counts of the set-up

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def n(self, base: int, floor: int = 1) -> int:
        return max(floor, int(round(base * self.scale)))

    def reset_rng(self, stream: int) -> None:
        """Restart the op draws, so the ops after a reset depend only on the
        seed and ``stream``; a traced run replays one stream twice."""
        self.rng = np.random.default_rng([self.seed, 100 + stream])

    @contextmanager
    def step(self, t: Timer, name: str):
        """Time one call into the library as step ``name`` of the op ``t``,
        inside the tracer span of the same name."""
        with t.step(name), self.tracer.span(name):
            yield

    def rebind(self, spark, tracer) -> None:
        """Point the workload at a restarted session (inputs on disk are kept)."""
        self.spark, self.tracer = spark, tracer

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> dict[str, float]:
        raise NotImplementedError


def bucket_partitioning():
    from sat_bucket_spark import LonLatPartitioning

    return LonLatPartitioning(size=BUCKET_CELL_DEG)


def grid_partitioning():
    from sat_bucket_spark import LonLatPartitioning

    return LonLatPartitioning(size=GRID_DEG)


def month_prefix(times: pd.Series) -> pd.Series:
    """The ``time_part`` label of a monthly archive, e.g. "2024_1"."""
    return times.dt.year.astype(str) + "_" + times.dt.month.astype(str)


# --------------------------------------------------------------------------
# archive_ingest
# --------------------------------------------------------------------------


class ArchiveIngest(Workload):
    """Set-up ingests the base granules and compacts them into the monthly
    archive; each op is one nightly batch on a copy of both: ingest the new
    day, update its month, compact the stage."""

    name = "archive_ingest"
    warmup_ops = 1  # compiles the update and compaction paths
    n_days = 4  # distinct nightly batches; each op draws one

    def setup(self) -> None:
        from sat_bucket_spark import merge_granule_buckets, write_granules_bucket

        g = os.path.join(self.work, "granules")
        self.schema = data.spark_schema()
        self.p = bucket_partitioning()
        # three good granules and one corrupt one: one task per core on four cores
        self.base = data.write_granules(g, self.seed, 0, self.n(3, 2), self.n(100, 20), days=45, n_corrupt=1)
        # two good granules and one corrupt one a night, in the last month
        self.days = [
            data.write_granules(g, self.seed, 100 + 10 * k, 2, self.n(100, 20), days=1, start_day=46 + k,
                                n_corrupt=1)
            for k in range(self.n_days)
        ]
        self.stage = os.path.join(self.work, "stage")
        self.archive = os.path.join(self.work, "archive")
        errors = write_granules_bucket(
            self.spark, self.base.paths + self.base.corrupt, self.stage, self.p, data.read_granule, self.schema
        )
        failed = sorted(p for p, _ in errors)
        check(failed == sorted(self.base.corrupt), f"failure list {failed} != corrupt {self.base.corrupt}")
        merge_granule_buckets(self.spark, self.stage, self.archive, temporal_partitioning="month")
        got, expected = rows_by_level(self.archive, "time_part"), self._oracle_months(self.base.frame)
        check(got == expected, f"merged monthly counts {got} != {expected}")
        staged_files, staged_dirs, _ = dir_stats(self.stage)
        files, _, size = dir_stats(self.archive)
        self.setup_layer.update({
            "writers.staged_files": staged_files,
            "writers.staged_dirs": staged_dirs,
            "writers.merged_files": files,
            "writers.merged_mean_file_kb": size / max(files, 1) / 1024.0,
            "writers.stored_bytes_per_input_byte": size / self.base.input_bytes,
        })

    @staticmethod
    def _oracle_months(frame: pd.DataFrame) -> dict[str, int]:
        return {k: int(v) for k, v in month_prefix(frame["time"]).value_counts().items()}

    def op(self, i: int) -> dict[str, float]:
        from sat_bucket_spark import merge_granule_buckets, write_granules_bucket
        from sat_bucket_spark.maintenance import compact_bucket

        day = self.days[int(self.rng.integers(len(self.days)))]
        d = os.path.join(self.work, f"night{i}")
        stage, archive = os.path.join(d, "stage"), os.path.join(d, "archive")
        shutil.copytree(self.stage, stage)
        shutil.copytree(self.archive, archive)
        month = pd.Timestamp(day.frame["time"].min()).strftime("%Y-%m-01")
        end = (pd.Timestamp(month) + pd.offsets.MonthBegin(1)).strftime("%Y-%m-%d")
        t = Timer()
        with self.step(t, "routines.write_granules_bucket"):
            errors = write_granules_bucket(
                self.spark, day.paths + day.corrupt, stage, self.p, data.read_granule, self.schema
            )
        with self.step(t, "routines.merge_update"):
            merge_granule_buckets(
                self.spark, stage, archive, temporal_partitioning="month",
                update=True, start_time=month, end_time=end,
            )
        # each write adds one file per cell, so cells both the base and the
        # night crossed now hold two
        with self.step(t, "maintenance.compact_bucket"):
            compacted = compact_bucket(self.spark, stage)

        failed = sorted(p for p, _ in errors)
        check(failed == sorted(day.corrupt), f"failure list {failed} != corrupt {day.corrupt}")
        everything = pd.concat([self.base.frame, day.frame])
        got, expected = rows_by_level(archive, "time_part"), self._oracle_months(everything)
        check(got == expected, f"updated monthly counts {got} != {expected}")
        files, dirs, _ = dir_stats(stage)
        check(files == dirs, f"compacted stage has {files} files in {dirs} cells")
        got = sum(rows_by_level(stage, "lon_bin").values())
        check(got == len(everything), f"compacted stage holds {got} rows != {len(everything)}")
        self.add("routines.failed_granules", len(failed))
        self.add("routines.merge_update.new_bytes", day.input_bytes)
        self.add("maintenance.compacted_partitions", compacted)
        shutil.rmtree(d, ignore_errors=True)
        return t.steps


# --------------------------------------------------------------------------
# archive_query
# --------------------------------------------------------------------------


class ArchiveQuery(Workload):
    """Each op has the same shape every time: a station time series (point +
    radius over all time), an extent month, another station series, a
    polygon month, and one overpass cube of a region month."""

    name = "archive_query"
    # the read, analysis and gridding paths keep getting faster for several
    # ops (JIT); the first two are the steepest part
    warmup_ops = 2
    # its steps are short, so a stall on the host moves them more: one more
    # sample per median
    min_ops = 4
    trace_ops = 2

    def setup(self) -> None:
        """Write the monthly archive the way a user does: ingest the granules
        into a staged bucket, then compact it by month."""
        from sat_bucket_spark import merge_granule_buckets, write_granules_bucket

        g = data.write_granules(
            os.path.join(self.work, "granules"), self.seed, 0, self.n(8, 4), self.n(60, 20), days=59
        )
        f = g.frame
        stage = os.path.join(self.work, "stage")
        self.archive = os.path.join(self.work, "archive")
        errors = write_granules_bucket(self.spark, g.paths, stage, bucket_partitioning(), data.read_granule,
                                       data.spark_schema())
        check(not errors, f"archive ingest failed: {errors}")
        merge_granule_buckets(self.spark, stage, self.archive, temporal_partitioning="month")
        shutil.rmtree(stage)
        files, dirs, size = dir_stats(self.archive)
        self.setup_layer.update({
            "archive.partitions": dirs,
            "writers.merged_files": files,
            "writers.merged_mean_file_kb": size / max(files, 1) / 1024.0,
            "writers.stored_bytes_per_input_byte": size / g.input_bytes,
        })

        self.lon = f["lon"].to_numpy()
        self.lat = f["lat"].to_numpy()
        self.val = f["value"].to_numpy()
        self.times = f["time"].to_numpy().astype("datetime64[ms]")
        self.gpm_id = f["gpm_id"].to_numpy()
        self.cross = f["gpm_cross_track_id"].to_numpy()
        self.granule = f["gpm_granule_id"].to_numpy()
        # stations are footprints of the swath, anywhere it flies
        k = np.random.default_rng([self.seed, 98]).choice(len(f), 20, replace=False)
        self.stations = [(float(self.lon[j]), float(self.lat[j])) for j in k]
        zipf = 1.0 / np.arange(1, len(self.stations) + 1)
        self.station_p = zipf / zipf.sum()
        self.grid = grid_partitioning()

    def _query(self, kind: str, t: Timer, mask: np.ndarray, what: str, **kwargs) -> None:
        from sat_bucket_spark import read

        with self.step(t, f"readers.read.{kind}"):
            df = read(self.spark, self.archive, **kwargs)
        with self.step(t, f"readers.collect.{kind}"):
            pdf = df.select("lon", "lat", "time", "value").toPandas()
        check(len(pdf) == int(mask.sum()), f"{what}: {len(pdf)} rows != oracle {int(mask.sum())}")
        check(
            np.isclose(pdf["value"].sum(), self.val[mask].sum(), rtol=1e-9, atol=1e-9),
            f"{what}: value sum differs from oracle",
        )
        self.add(f"readers.rows_returned.{kind}", len(pdf))

    def _month(self) -> tuple[str, str]:
        """A month window, favouring the recent one 2:1."""
        m = int(self.rng.choice(len(MONTHS) - 1, p=[1 / 3, 2 / 3]))
        return MONTHS[m], MONTHS[m + 1]

    def _centre(self, window: np.ndarray) -> tuple[float, float]:
        """A region centre on a random footprint of the month, moved inward
        so a 20° x 15° box fits inside the globe. The archive holds a few
        half orbits a month, so a box placed uniformly would mostly be empty
        and its query would measure planning alone."""
        j = int(self.rng.choice(np.flatnonzero(window)))
        return float(np.clip(self.lon[j], -170, 170)), float(np.clip(self.lat[j], -82.5, 82.5))

    def _point(self, t: Timer) -> None:
        lon0, lat0 = self.stations[int(self.rng.choice(len(self.stations), p=self.station_p))]
        self._query(
            "point", t, data.haversine_m(self.lon, self.lat, lon0, lat0) <= POINT_RADIUS_M,
            f"point ({lon0:.4f}, {lat0:.4f})",
            point=(lon0, lat0), distance=POINT_RADIUS_M, distance_type="haversine",
        )

    def _region(self, t: Timer, polygon: bool) -> None:
        start, end = self._month()
        window = data.in_window(self.times, start, end)
        cx, cy = self._centre(window)
        if not polygon:
            ext = [cx - 10.0, cx + 10.0, cy - 7.5, cy + 7.5]
            self._query(
                "region", t, window & data.in_extent(self.lon, self.lat, ext), f"extent {ext} {start}",
                extent=ext, start_time=start, end_time=end,
            )
            return
        ang = np.sort(self.rng.uniform(0, 2 * np.pi, 6))
        rad = self.rng.uniform(5.0, 7.5, 6)
        poly = [(cx + r * np.cos(a), cy + r * np.sin(a)) for a, r in zip(ang, rad)]
        self._query(
            "region", t, window & data.in_polygon(self.lon, self.lat, poly),
            f"polygon around ({cx:.2f}, {cy:.2f}) {start}",
            polygon=poly, start_time=start, end_time=end,
        )

    def _cube(self, t: Timer) -> None:
        """Read a region month, list its overpasses, reshape the first one to
        swath arrays, grid the month by inverse distance per day, and build
        the 1° mean cube."""
        from pyspark.sql import functions as F

        from sat_bucket_spark import read
        from sat_bucket_spark.analysis import get_list_overpass_time, overpass_to_grid
        from sat_bucket_spark.gridding import idw_to_grid, to_grid_arrays

        start, end = self._month()
        window = data.in_window(self.times, start, end)
        cx, cy = self._centre(window)
        ext = [cx - 10.0, cx + 10.0, cy - 7.5, cy + 7.5]
        what = f"cube {ext} {start}"
        rows = window & data.in_extent(self.lon, self.lat, ext)
        g = self.grid
        with self.step(t, "readers.read.cube"):
            df = read(self.spark, self.archive, extent=ext, start_time=start, end_time=end)
        with self.step(t, "analysis.get_list_overpass_time"):
            passes = get_list_overpass_time(df)
        first, last = passes[0]
        with self.step(t, "analysis.overpass_to_grid"):
            swath, _, _ = overpass_to_grid(
                df.where(F.col("time").between(F.lit(first), F.lit(last))), ["value"]
            )
        with self.step(t, "gridding.idw_to_grid"):
            idw = idw_to_grid(df, g, time_col="time").agg(
                F.count(F.lit(1)).alias("cells"), F.sum("n_obs").alias("n_obs")
            ).collect()[0]
        with self.step(t, "gridding.to_grid_arrays"):
            agg = g.add_labels(df, x="lon", y="lat").groupBy(*g.levels).agg(
                F.count(F.lit(1)).cast("double").alias("n"), F.mean("value").alias("value")
            )
            cube = to_grid_arrays(agg, g)

        expected = data.overpasses(self.times[rows])
        check(len(passes) == len(expected), f"{what}: {len(passes)} overpasses != oracle {len(expected)}")
        o = rows & (self.times >= expected[0][0]) & (self.times <= expected[0][1])
        arr = swath["value"]
        check(
            arr.shape == (int(np.ptp(self.cross[o])) + 1, data.along_track_span(self.gpm_id[o], self.granule[o]))
            and int(np.isfinite(arr).sum()) == int(o.sum())
            and np.isclose(np.nansum(arr), self.val[o].sum(), rtol=1e-9, atol=1e-9),
            f"{what}: first overpass arrays differ from oracle",
        )
        cells, n_obs = data.idw_fanout(self.lon[rows], self.lat[rows], self.times[rows], g.n_x, g.n_y, GRID_DEG)
        check((idw["cells"], idw["n_obs"]) == (cells, n_obs),
              f"{what}: idw grid {idw['cells']} cells / {idw['n_obs']} obs != oracle {cells} / {n_obs}")
        n, mean = data.grid_counts_means(self.lon[rows], self.lat[rows], self.val[rows], g.n_x, g.n_y, GRID_DEG)
        check(
            np.array_equal(np.nan_to_num(cube["n"]), n)
            and np.allclose(cube["value"], mean, rtol=1e-9, atol=1e-9, equal_nan=True),
            f"{what}: 1° cube differs from oracle",
        )
        self.add("analysis.overpasses", len(passes))
        self.add("gridding.cells_out", cells)

    def op(self, i: int) -> dict[str, float]:
        t = Timer()
        self._point(t)
        self._region(t, polygon=False)
        self._point(t)
        self._region(t, polygon=True)
        self._cube(t)
        return t.steps


WORKLOADS = {w.name: w for w in (ArchiveIngest, ArchiveQuery)}
