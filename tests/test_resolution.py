"""Resolution detection — mirrors tests/test_time_resolution_detection.py
and tests/test_geospatial_resolution_detection.py from the reference."""

import numpy as np
import pytest

from cartwright_spark.operators.resolution import (
    convert_to_timestamps,
    detect_latlon_resolution_np,
    detect_temporal_resolution_np,
    temporal_resolution_grouped,
    spatial_resolution_grouped,
)
from cartwright_spark.schemas import TIME_UNITS

UNITS = ["second", "minute", "hour", "day", "week", "year", "month",
         "decade", "century", "millennium"]


def _series(unit: str, uniformity: str, n=200, seed=11):
    rng = np.random.default_rng(seed)
    dur = TIME_UNITS[unit]
    if uniformity == "PERFECT":
        deltas = np.full(n, dur)
    elif uniformity == "UNIFORM":
        deltas = dur * (1 + rng.uniform(-0.004, 0.004, n))
    else:
        deltas = dur * (1 + rng.uniform(-0.10, 0.10, n))
    return np.cumsum(deltas) + 1_000_000.0


@pytest.mark.parametrize("unit", UNITS)
@pytest.mark.parametrize("uniformity", ["PERFECT", "UNIFORM", "NOT_UNIFORM"])
def test_temporal_unit_and_uniformity(unit, uniformity):
    res = detect_temporal_resolution_np(_series(unit, uniformity))
    assert res is not None
    assert res.unit == unit
    assert res.uniformity == uniformity
    assert res.resolution == pytest.approx(1.0, rel=0.05)


def test_millisecond_not_uniform():
    """Reference parity (test_time_resolution_detection.py:32-35):
    millisecond PERFECT/UNIFORM xfail upstream on float precision; the
    NOT_UNIFORM case must detect."""
    res = detect_temporal_resolution_np(
        _series("millisecond", "NOT_UNIFORM", n=200))
    assert res is not None and res.unit == "millisecond"
    assert res.uniformity == "NOT_UNIFORM"


def test_temporal_too_few_points():
    assert detect_temporal_resolution_np(np.array([1.0])) is None
    assert detect_temporal_resolution_np(np.array([5.0, 5.0])) is None


def test_convert_to_timestamps_utc():
    ts = convert_to_timestamps(["2019-01-01 00:00:00", "2019-01-01 00:00:02"],
                               "%Y-%m-%d %H:%M:%S")
    assert ts[1] - ts[0] == 2.0
    assert ts[0] == 1546300800.0  # UTC, not local


def _square_grid(scale_deg, n=30, lat0=-20.0, lon0=5.0):
    lat = lat0 + scale_deg * np.arange(n)
    lon = lon0 + scale_deg * np.arange(n)
    glat, glon = np.meshgrid(lat, lon)
    return glat.ravel(), glon.ravel()


# 0.25° included: the reference's own 0.25° golden CSV is absent from its
# repo (.MISSING_LARGE_BLOBS, test_geospatial_resolution_detection.py:12-28)
# — this closes that fixture gap rather than inheriting it
@pytest.mark.parametrize("scale", [0.25, 0.5, 1.0, 2.0, 2.5, 5.0])
def test_square_grid_degrees(scale):
    lat, lon = _square_grid(scale, n=20)
    res = detect_latlon_resolution_np(lat, lon)
    assert res is not None and res.square is not None
    assert res.square.unit == "degrees"
    assert res.square.resolution == pytest.approx(scale, rel=1e-6)
    assert res.square.uniformity == "PERFECT"


@pytest.mark.parametrize("lat_scale,lon_scale,unit", [
    (0.5, 1.0, "degrees"),
    (1.0, 1.5, "degrees"),
    # note: match_unit is argmin of *relative* error, so scales ≥~2x a unit
    # snap to the next unit up (reference helpers.py:18-25); stay ≤1.5x
    (1.0 / 60, 1.5 / 60, "minutes"),
])
def test_rect_grid(lat_scale, lon_scale, unit):
    lat0, lon0 = 10.0, -30.0
    la = lat0 + lat_scale * np.arange(20)
    lo = lon0 + lon_scale * np.arange(20)
    glat, glon = np.meshgrid(la, lo)
    res = detect_latlon_resolution_np(glat.ravel(), glon.ravel())
    assert res is not None and res.square is None
    assert res.lat.unit == unit and res.lon.unit == unit
    assert res.lat.resolution == pytest.approx(lat_scale / {"degrees": 1, "minutes": 1/60}[unit], rel=1e-6)
    assert res.lon.resolution == pytest.approx(lon_scale / {"degrees": 1, "minutes": 1/60}[unit], rel=1e-6)


def test_random_points_no_grid():
    rng = np.random.default_rng(3)
    res = detect_latlon_resolution_np(rng.uniform(-90, 90, 400),
                                      rng.uniform(-180, 180, 400))
    assert res is None


def test_one_degree_global_grid_perfect():
    # mirrors test_geospatial_resolution_detection.py:88-101 (cell-centered)
    lat = np.linspace(-90, 90, 181)[:-1] + 0.5
    lon = np.linspace(-180, 180, 361)[:-1] + 0.5
    glat, glon = np.meshgrid(lat, lon)
    res = detect_latlon_resolution_np(glat.ravel(), glon.ravel())
    assert res is not None and res.square is not None
    assert res.square.unit == "degrees"
    assert res.square.resolution == pytest.approx(1.0, rel=1e-6)


def test_temporal_grouped_spark(spark):
    import pandas as pd
    rows = []
    for g, unit in (("a", "day"), ("b", "hour")):
        for t in _series(unit, "PERFECT", n=50):
            rows.append((g, float(t)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "secs"]))
    got = {r["group"]: r for r in
           temporal_resolution_grouped(df, "secs", "g").collect()}
    assert got["a"]["unit"] == "day" and got["a"]["uniformity"] == "PERFECT"
    assert got["b"]["unit"] == "hour"


def test_temporal_distributed_matches_np(spark):
    """No group column: the whole series is one group."""
    import pandas as pd
    secs = _series("hour", "UNIFORM", n=300)
    df = spark.createDataFrame(pd.DataFrame({"secs": secs}))
    [got] = temporal_resolution_grouped(df, "secs").collect()
    want = detect_temporal_resolution_np(secs)
    assert got["group"] == "_all"
    assert got["unit"] == want.unit == "hour"
    assert got["uniformity"] == want.uniformity
    assert got["resolution"] == pytest.approx(want.resolution, rel=1e-9)
    assert got["error"] == pytest.approx(want.error, rel=1e-9)


def test_spatial_grouped_spark(spark):
    import pandas as pd
    lat, lon = _square_grid(1.0, n=15)
    df = spark.createDataFrame(
        pd.DataFrame({"g": "x", "lat": lat, "lon": lon}))
    rows = spatial_resolution_grouped(df, "lat", "lon", "g").collect()
    assert len(rows) == 1
    assert rows[0]["kind"] == "square"
    assert rows[0]["resolution"] == pytest.approx(1.0, rel=1e-6)


def test_temporal_grouped_sql_matches_pandas_form(spark):
    """The JVM aggregate equals the numpy kernel group by group: every unit
    (millisecond included) at every uniformity, odd and even delta counts
    (both median rules), duplicate timestamps and a NULL row. Groups the
    kernel rejects (one value, duplicates only) are absent."""
    import pandas as pd

    rows = []
    for g, unit in enumerate(TIME_UNITS):
        for k, uni in enumerate(["PERFECT", "UNIFORM", "NOT_UNIFORM"]):
            ts = _series(unit, uni, n=80 + k, seed=100 + 3 * g + k)
            rows += [(f"{unit}-{uni}", float(t)) for t in ts]
            rows.append((f"{unit}-{uni}", float(ts[5])))   # duplicate
    rows += [("one", 5.0), ("dups", 7.0), ("dups", 7.0),
             ("nul", 3.0), ("nul", None), ("nul", 9.0)]
    pdf = pd.DataFrame(rows, columns=["g", "secs"])
    df = spark.createDataFrame(pdf, "g string, secs double")
    got = {r["group"]: (r["uniformity"], r["unit"],
                        round(r["resolution"], 9), round(r["error"], 9))
           for r in temporal_resolution_grouped(df, "secs", "g").collect()}
    want = {}
    for g, sub in pdf.groupby("g"):
        res = detect_temporal_resolution_np(sub["secs"].dropna().to_numpy())
        if res is not None:
            want[g] = (res.uniformity, res.unit, round(res.resolution, 9),
                       round(res.error, 9))
    assert got == want
    assert len(got) == 3 * len(TIME_UNITS) + 1
    assert "one" not in got and "dups" not in got
    assert {u for _, u, _, _ in got.values()} >= set(TIME_UNITS)


def test_spatial_grouped_sql_matches_pandas_form(spark):
    """The grouped A9 grid detection equals the numpy kernel per group
    across square, rectangular, and no-grid groups."""
    import pandas as pd

    rows = []
    for g, scale in (("sq_half", 0.5), ("sq_one", 1.0), ("sq_quarter", 0.25)):
        la, lo = _square_grid(scale, n=14)
        rows += [(g, float(a), float(b)) for a, b in zip(la, lo)]
    # rectangular grid
    la = 10.0 + 0.5 * np.arange(15)
    lo = -30.0 + 1.0 * np.arange(15)
    gl, go = np.meshgrid(la, lo)
    rows += [("rect", float(a), float(b))
             for a, b in zip(gl.ravel(), go.ravel())]
    # random: no grid → absent from both outputs
    rng = np.random.default_rng(5)
    rows += [("rand", float(a), float(b))
             for a, b in zip(rng.uniform(-80, 80, 200),
                             rng.uniform(-170, 170, 200))]
    pdf = pd.DataFrame(rows, columns=["g", "lat", "lon"])
    got = {(r["group"], r["kind"]): (r["uniformity"], r["unit"],
                                     round(r["resolution"], 9),
                                     round(r["error"], 9))
           for r in spatial_resolution_grouped(
               spark.createDataFrame(pdf), "lat", "lon", "g").collect()}
    want = {}
    for g, sub in pdf.groupby("g"):
        res = detect_latlon_resolution_np(sub["lat"], sub["lon"])
        for kind in ("square", "lat", "lon"):
            r = getattr(res, kind) if res is not None else None
            if r is not None:
                want[(g, kind)] = (r.uniformity, r.unit,
                                   round(r.resolution, 9), round(r.error, 9))
    assert got == want
    assert ("sq_half", "square") in got and ("rect", "lat") in got \
        and ("rect", "lon") in got
    assert not any(g == "rand" for g, _ in got)


REFERENCE_GRIDS = [
    ("0.5_degree.csv", 0.5),
    ("1_degree.csv", 1.0),
    ("1_degree(1).csv", 1.0),
    ("2_degree.csv", 2.0),
    ("2.5_degree.csv", 2.5),
    ("5_degree.csv", 5.0),
]
_REF_DATA = "/root/reference/tests/test_data"


@pytest.mark.skipif(not __import__("os").path.isdir(_REF_DATA),
                    reason="reference checkout not present")
@pytest.mark.parametrize("fname,scale", REFERENCE_GRIDS)
def test_reference_grid_csvs(spark, fname, scale):
    """The reference's OWN golden grid CSVs (its 0.25° file is absent from
    its repo): both the numpy kernel and the grouped Spark form detect
    the square degree grid at the expected scale. Column order follows the
    reference's test (it passes column 0 as lat — the files are lon,lat,
    which is symmetric for square global grids)."""
    import pandas as pd

    pdf = pd.read_csv(f"{_REF_DATA}/{fname}")
    lat, lon = pdf.iloc[:, 0].to_numpy(), pdf.iloc[:, 1].to_numpy()
    res = detect_latlon_resolution_np(lat, lon)
    assert res is not None and res.square is not None
    assert res.square.unit == "degrees"
    assert abs(res.square.resolution - scale) < 1e-6

    sdf = spark.createDataFrame(
        pd.DataFrame({"lat": lat, "lon": lon}))
    rows = spatial_resolution_grouped(sdf, "lat", "lon").collect()
    assert len(rows) == 1 and rows[0]["kind"] == "square"
    assert rows[0]["unit"] == "degrees"
    assert abs(rows[0]["resolution"] - scale) < 1e-6
