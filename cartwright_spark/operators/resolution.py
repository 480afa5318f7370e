"""Temporal + spatial resolution detection (reference analysis/ package).

One Spark form per analysis, each one result row per group:

* ``temporal_resolution_grouped`` — a JVM aggregate: one
  ``groupBy(group)`` collecting each group's distinct epoch seconds, then
  array expressions on the group's row (sorted deltas, median, uniformity,
  unit argmin). One Exchange, no window, no join, no Python stage, so it
  scales with the group count without paying a Python-worker boundary per
  group.
* ``spatial_resolution_grouped`` — ``applyInPandas``: the
  reference-equivalent numpy grid detection (row/column adjacency
  replacing scipy's Delaunay, space_resolution.py:29-107 — see
  detect_latlon_resolution_np) runs per group inside an Arrow batch.

The numpy kernels (`detect_temporal_resolution_np`,
`detect_latlon_resolution_np`) mirror the reference exactly:
analysis/helpers.py:7-25, time_resolution.py:8-66, space_resolution.py:9-107,
and are the references the Spark forms are tested against.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartwright_spark.schemas import (
    ANGLE_UNITS,
    TIME_UNITS,
    GeoSpatialResolution,
    Resolution,
    Uniformity,
)

# ---------------------------------------------------------------------------
# numpy kernels — exact reference semantics
# ---------------------------------------------------------------------------


def get_uniformity(vals: np.ndarray, avg: float) -> str:
    """analysis/helpers.py:7-15."""
    score = np.abs(vals - avg)
    mag = np.abs(avg)
    if np.all(score < 1e-9 * mag):
        return Uniformity.PERFECT.value
    if score.max() < 0.01 * mag:
        return Uniformity.UNIFORM.value
    return Uniformity.NOT_UNIFORM.value


def match_unit(units: dict[str, float], avg: float) -> tuple[float, str]:
    """analysis/helpers.py:18-25 — argmin relative error vs the unit table."""
    names = list(units.keys())
    durations = np.array([units[n] for n in names], dtype=float)
    closest = int(np.argmin(np.abs(durations - avg) / durations))
    return avg / durations[closest], names[closest]


def convert_to_timestamps(times, fmt: str) -> np.ndarray:
    """time_resolution.py:43-66 — strptime with UTC tz → epoch seconds."""
    return np.array([
        datetime.strptime(str(t), fmt).replace(tzinfo=timezone.utc).timestamp()
        for t in times
    ])


def detect_temporal_resolution_np(times: np.ndarray) -> Resolution | None:
    """time_resolution.py:8-39."""
    times = np.unique(np.asarray(times, dtype=float))
    if len(times) < 2:
        return None
    times.sort()
    deltas = times[1:] - times[:-1]
    avg = float(np.median(deltas))
    uniformity = get_uniformity(deltas, avg)
    scale, unit = match_unit(TIME_UNITS, avg)
    error = float(np.abs(deltas - avg).mean() / TIME_UNITS[unit])
    return Resolution(uniformity, unit, float(scale), error)


def preprocess_latlon(lat, lon, rad=False):
    """space_resolution.py:9-26."""
    latlon = np.stack([np.asarray(lat, float), np.asarray(lon, float)], axis=0)
    latlon = np.unique(latlon, axis=1)
    latlon = latlon[:, ~np.isnan(latlon).any(axis=0)]
    if rad:
        latlon = np.deg2rad(latlon)
    return latlon[0], latlon[1]


def _axis_adjacent_diffs(key: np.ndarray, val: np.ndarray, tol: float) -> np.ndarray:
    """Adjacent differences of `val` within rows/columns of equal `key`
    (quantized at `tol`), vectorized: sort by (key_bin, val), diff, keep
    diffs inside one bin."""
    bins = np.round(key / tol).astype(np.int64)
    order = np.lexsort((val, bins))
    b, v = bins[order], val[order]
    d = np.diff(v)
    same = np.diff(b) == 0
    return d[same]


def detect_latlon_resolution_np(lat, lon) -> GeoSpatialResolution | None:
    """Grid detection with the reference's semantics (space_resolution.py:
    29-107): find axis-parallel adjacent spacings, require them to account
    for enough of the point adjacency structure, then the identical
    median/uniformity/unit math.

    The reference finds axis-parallel edges via a Delaunay triangulation
    (scipy, unavailable in this environment — SURVEY.md §0 note is
    corrected here): horizontal/vertical edges at <1e-6 rad tolerance,
    requiring ≥1/3 of ~3n edges. Equivalent substitution: group points
    into rows (equal lat within 1e-6 rad) and columns (equal lon), take
    sorted adjacent diffs — on any grid these are exactly the Delaunay
    axis-parallel edges — and require n_horizontal + n_vertical ≥ n_points
    (the same 1/3-of-3n bar). This form is also directly distributable
    (groupBy bin + window lag) at 100 TB scale.
    """
    lat, lon = preprocess_latlon(lat, lon, rad=True)
    if lat.size <= 2:
        return None
    tol = 1e-6  # radians, reference space_resolution.py:68-69
    dlon = _axis_adjacent_diffs(lat, lon, tol)   # horizontal edges
    dlat = _axis_adjacent_diffs(lon, lat, tol)   # vertical edges
    if dlon.size + dlat.size < lat.size:
        return None
    dlon = np.abs(dlon)
    dlat = np.abs(dlat)
    if dlon.size == 0 or dlat.size == 0:
        return None
    dlon_avg = float(np.median(dlon))
    dlat_avg = float(np.median(dlat))

    if abs(dlon_avg - dlat_avg) < 1e-6:  # square grid
        deltas = np.concatenate([dlon, dlat])
        avg = float(np.median(deltas))
        uniformity = get_uniformity(deltas, avg)
        scale, unit = match_unit(ANGLE_UNITS, float(np.rad2deg(avg)))
        error = float(np.rad2deg(np.abs(deltas - avg).mean()) / ANGLE_UNITS[unit])
        return GeoSpatialResolution(square=Resolution(uniformity, unit, scale, error))

    lon_u = get_uniformity(dlon, dlon_avg)
    lon_scale, lon_unit = match_unit(ANGLE_UNITS, float(np.rad2deg(dlon_avg)))
    lon_err = float(np.rad2deg(np.abs(1 - dlon / dlon_avg).mean()) / ANGLE_UNITS[lon_unit])
    lat_u = get_uniformity(dlat, dlat_avg)
    lat_scale, lat_unit = match_unit(ANGLE_UNITS, float(np.rad2deg(dlat_avg)))
    lat_err = float(np.rad2deg(np.abs(1 - dlat / dlat_avg).mean()) / ANGLE_UNITS[lat_unit])
    return GeoSpatialResolution(
        lat=Resolution(lat_u, lat_unit, lat_scale, lat_err),
        lon=Resolution(lon_u, lon_unit, lon_scale, lon_err),
    )


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

_SPATIAL_SCHEMA = (
    "group string, kind string, uniformity string, unit string, "
    "resolution double, error double"
)


def temporal_resolution_grouped(df: DataFrame, ts_col: str,
                                group_col: str | None = None) -> DataFrame:
    """One Resolution row per group (``detect_temporal_resolution_np`` per
    group; groups with < 2 distinct timestamps are absent). ts_col:
    timestamp or numeric seconds."""
    src = df.select(
        (F.col(group_col) if group_col else F.lit("_all")).cast("string").alias("group"),
        # timestamp→double keeps fractional seconds (unix_timestamp would not)
        F.col(ts_col).cast("double").alias("secs"),
    ).where(F.col("secs").isNotNull())
    t = F.col("t")  # the group's sorted distinct seconds
    # n deltas: slice both sides to n, as zip_with pads the shorter with NULL
    n = F.size(t) - 1
    d = F.sort_array(F.zip_with(F.slice(t, 2, n), F.slice(t, 1, n),
                                lambda a, b: a - b))
    # np.median: mean of the two middle values (one value when n is odd)
    med = F.expr("(d[(size(d) - 1) div 2] + d[size(d) div 2]) / 2")
    maxdev = F.array_max(F.transform("d", lambda x: F.abs(x - F.col("med"))))
    absdev_mean = F.aggregate(
        "d", F.lit(0.0), lambda acc, x: acc + F.abs(x - F.col("med"))) / F.size("d")
    uniformity = (
        F.when(F.col("maxdev") < 1e-9 * F.abs("med"), Uniformity.PERFECT.value)
        .when(F.col("maxdev") < 0.01 * F.abs("med"), Uniformity.UNIFORM.value)
        .otherwise(Uniformity.NOT_UNIFORM.value))
    # match_unit: array_position finds np.argmin's first minimum
    durs = [F.lit(float(v)) for v in TIME_UNITS.values()]
    errs = F.array(*[F.abs(dur - F.col("med")) / dur for dur in durs])
    k = F.col("k")
    dur = F.element_at(F.array(*durs), k)
    return (src.groupBy("group")
            .agg(F.sort_array(F.collect_set("secs")).alias("t"))
            .where(F.size("t") >= 2)
            .select("group", d.alias("d"))
            .select("group", "d", med.alias("med"))
            .select("group", "med", maxdev.alias("maxdev"),
                    absdev_mean.alias("absdev_mean"),
                    F.array_position(errs, F.array_min(errs)).cast("int")
                    .alias("k"))
            .select("group", uniformity.alias("uniformity"),
                    F.element_at(F.array(*map(F.lit, TIME_UNITS)), k)
                    .alias("unit"),
                    (F.col("med") / dur).alias("resolution"),
                    (F.col("absdev_mean") / dur).alias("error")))


def spatial_resolution_grouped(df: DataFrame, lat_col: str, lon_col: str,
                               group_col: str | None = None) -> DataFrame:
    """One row per group per detected dimension (square | lat | lon)."""
    src = df.select(
        (F.col(group_col) if group_col else F.lit("_all")).cast("string").alias("group"),
        F.col(lat_col).cast("double").alias("lat"),
        F.col(lon_col).cast("double").alias("lon"),
    ).dropna()

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        res = detect_latlon_resolution_np(pdf["lat"].to_numpy(), pdf["lon"].to_numpy())
        cols = ["group", "kind", "uniformity", "unit", "resolution", "error"]
        if res is None:
            return pd.DataFrame([], columns=cols)
        g = pdf["group"].iloc[0]
        rows = []
        for kind, r in (("square", res.square), ("lat", res.lat), ("lon", res.lon)):
            if r is not None:
                rows.append({"group": g, "kind": kind, "uniformity": r.uniformity,
                             "unit": r.unit, "resolution": r.resolution,
                             "error": r.error})
        return pd.DataFrame(rows, columns=cols)

    return src.groupBy("group").applyInPandas(fn, _SPATIAL_SCHEMA)
