"""Spatial-join layer vs brute-force oracles (FIXTURES.md F6)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cartwright_spark.spatial.knn import brute_force_knn, knn_join, knn_join_h3
from cartwright_spark.spatial.pip import (
    brute_force_pip,
    point_in_polygon_join,
    polygon_covering_cells,
    ray_cast_contains,
)
from cartwright_spark.spatial.skew import hot_cell_map, salted_counts, with_salt


# ---------------------------------------------------------------------------
# polygons: boxes, an L-shape, a concave chevron (FIXTURES F6)
# ---------------------------------------------------------------------------

def _box(la0, lo0, la1, lo1):
    return ([la0, la0, la1, la1], [lo0, lo1, lo1, lo0])


POLYGONS = pd.DataFrame([
    {"admin_id": "box_eu", "ring_lat": _box(40, 0, 55, 20)[0],
     "ring_lon": _box(40, 0, 55, 20)[1]},
    {"admin_id": "box_us", "ring_lat": _box(30, -110, 45, -80)[0],
     "ring_lon": _box(30, -110, 45, -80)[1]},
    {"admin_id": "l_shape",
     "ring_lat": [0, 0, 10, 10, 20, 20],
     "ring_lon": [0, 20, 20, 10, 10, 0]},
    {"admin_id": "chevron",
     "ring_lat": [-40, -30, -40, -20, -20],
     "ring_lon": [60, 70, 80, 80, 60]},
])


def test_ray_cast_basics():
    rl, rlon = _box(0, 0, 10, 10)
    inside = ray_cast_contains(np.array(rl), np.array(rlon),
                               np.array([5.0, 15.0, -1.0]),
                               np.array([5.0, 5.0, 5.0]))
    assert inside.tolist() == [True, False, False]


def test_l_shape_concavity():
    # (15, 15) is in the notch of the L → outside
    ring = POLYGONS[POLYGONS.admin_id == "l_shape"].iloc[0]
    inside = ray_cast_contains(np.array(ring.ring_lat), np.array(ring.ring_lon),
                               np.array([15.0, 5.0]), np.array([15.0, 5.0]))
    assert inside.tolist() == [False, True]


def test_covering_cells_superset():
    ring = POLYGONS.iloc[0]
    cells = polygon_covering_cells(ring.ring_lat, ring.ring_lon, level=8)
    from cartwright_spark.spatial import s2
    # every interior sample's cell is in the covering
    rng = np.random.default_rng(0)
    la = rng.uniform(40, 55, 500)
    lo = rng.uniform(0, 20, 500)
    pc = s2.latlng_to_cell(la, lo, 8)
    assert np.isin(pc, cells).all()


def test_pip_join_matches_bruteforce(spark):
    rng = np.random.default_rng(21)
    pts = pd.DataFrame({
        "point_id": [f"p{i}" for i in range(2000)],
        "lat": rng.uniform(-60, 70, 2000),
        "lon": rng.uniform(-120, 100, 2000),
    })
    sdf = spark.createDataFrame(pts)
    got = point_in_polygon_join(spark, sdf, POLYGONS, level=8,
                                point_id_col="point_id")
    got_set = {(r["point_id"], r["admin_id"]) for r in got.collect()}
    want = brute_force_pip(pts, POLYGONS)
    assert got_set == want
    assert len(want) > 50  # fixture sanity: plenty of hits


HIGH_LAT_POLYGONS = pd.DataFrame([
    # round-1 ADVICE repro band: interior-cell bboxes were wrong above ~55°
    {"admin_id": "nordic", "ring_lat": _box(55, 5, 65, 30)[0],
     "ring_lon": _box(55, 5, 65, 30)[1]},
    {"admin_id": "arctic", "ring_lat": _box(75, -40, 85, 20)[0],
     "ring_lon": _box(75, -40, 85, 20)[1]},
    {"admin_id": "taimyr", "ring_lat": _box(62, 80, 74, 110)[0],
     "ring_lon": _box(62, 80, 74, 110)[1]},
])


def test_pip_high_latitude_matches_bruteforce(spark):
    """Dense probe grids at 55-85°N: the exact cell-bbox interior test must
    produce zero false accepts (the old center±edge model produced 8-978)."""
    las = np.linspace(50, 89, 140)
    los = np.linspace(-60, 130, 200)
    glat, glon = np.meshgrid(las, los)
    pts = pd.DataFrame({
        "point_id": [f"g{i}" for i in range(glat.size)],
        "lat": glat.ravel(), "lon": glon.ravel(),
    })
    got = point_in_polygon_join(spark, spark.createDataFrame(pts),
                                HIGH_LAT_POLYGONS, level=8,
                                point_id_col="point_id")
    got_set = {(r["point_id"], r["admin_id"]) for r in got.collect()}
    want = brute_force_pip(pts, HIGH_LAT_POLYGONS)
    assert got_set == want
    assert len(want) > 1000


def test_cell_bbox_contains_cell(spark):
    """s2.cell_bbox_deg is conservative: every point of a cell falls inside
    the cell's reported bbox — incl. high-latitude and polar cells."""
    from cartwright_spark.spatial import s2
    rng = np.random.default_rng(3)
    la = np.concatenate([rng.uniform(-89.9, 89.9, 4000),
                         rng.uniform(55, 89.9, 4000)])
    lo = rng.uniform(-180, 180, 8000)
    for level in (4, 6, 8, 10):
        cells = s2.latlng_to_cell(la, lo, level)
        la0, la1, lo0, lo1 = s2.cell_bbox_deg(cells, level)
        assert (la >= la0).all() and (la <= la1).all()
        in_lon = (lo >= lo0) & (lo <= lo1)
        assert in_lon.all(), f"level {level}: {int((~in_lon).sum())} escapes"


HOLED_POLYGONS = pd.DataFrame([
    # 40-55N box with a hole at 45-50N/5-15E (donut)
    {"admin_id": "donut", "ring_lat": _box(40, 0, 55, 20)[0],
     "ring_lon": _box(40, 0, 55, 20)[1],
     "holes": [(_box(45, 5, 50, 15)[0], _box(45, 5, 50, 15)[1])]},
    # control: same box, no hole
    {"admin_id": "solid", "ring_lat": _box(40, 0, 55, 20)[0],
     "ring_lon": _box(40, 0, 55, 20)[1], "holes": None},
])


def test_pip_holes_even_odd(spark):
    rng = np.random.default_rng(11)
    pts = pd.DataFrame({
        "point_id": [f"h{i}" for i in range(3000)],
        "lat": rng.uniform(38, 57, 3000),
        "lon": rng.uniform(-3, 23, 3000),
    })
    got = point_in_polygon_join(spark, spark.createDataFrame(pts),
                                HOLED_POLYGONS, level=8,
                                point_id_col="point_id")
    got_set = {(r["point_id"], r["admin_id"]) for r in got.collect()}
    want = brute_force_pip(pts, HOLED_POLYGONS)
    assert got_set == want
    # the hole actually removes points: solid ⊋ donut
    donut = {p for p, a in want if a == "donut"}
    solid = {p for p, a in want if a == "solid"}
    assert donut < solid
    in_hole = pts[(pts.lat.between(45, 50)) & (pts.lon.between(5, 15))]
    assert len(in_hole) > 50 and donut.isdisjoint(set(in_hole.point_id))


FIJI_POLYGONS = pd.DataFrame([
    # a Fiji-style box crossing the antimeridian: lon 177E..178W
    {"admin_id": "fiji", "ring_lat": [-19, -19, -15, -15],
     "ring_lon": [177, -178, -178, 177]},
    # control box away from the dateline
    {"admin_id": "tonga", "ring_lat": _box(-22, -176, -18, -173)[0],
     "ring_lon": _box(-22, -176, -18, -173)[1]},
])


def test_pip_antimeridian(spark):
    rng = np.random.default_rng(17)
    lon = np.where(rng.random(3000) < 0.5,
                   rng.uniform(170, 180, 3000),
                   rng.uniform(-180, -170, 3000))
    pts = pd.DataFrame({
        "point_id": [f"f{i}" for i in range(3000)],
        "lat": rng.uniform(-25, -12, 3000),
        "lon": lon,
    })
    got = point_in_polygon_join(spark, spark.createDataFrame(pts),
                                FIJI_POLYGONS, level=8,
                                point_id_col="point_id")
    got_set = {(r["point_id"], r["admin_id"]) for r in got.collect()}
    want = brute_force_pip(pts, FIJI_POLYGONS)
    assert got_set == want
    # hits on both sides of the dateline
    fiji = {p for p, a in want if a == "fiji"}
    east = {p for p in fiji if pts.set_index("point_id").loc[p, "lon"] > 0}
    assert east and (fiji - east)


def test_knn_join_matches_bruteforce(spark):
    rng = np.random.default_rng(13)
    sites = pd.DataFrame({
        "site_id": np.arange(300, dtype=np.int64),
        "lat": rng.uniform(-60, 70, 300),
        "lon": rng.uniform(-180, 180, 300),
    })
    queries = pd.DataFrame({
        "qid": np.arange(40, dtype=np.int64),
        "lat": rng.uniform(-55, 65, 40),
        "lon": rng.uniform(-170, 170, 40),
    })
    got = knn_join(spark.createDataFrame(queries),
                   spark.createDataFrame(sites), k=5, level=7,
                   r_cover_m=2_000_000.0)
    got_set = {(r["qid"], r["site_id"], r["rank"]) for r in got.collect()}
    want = brute_force_knn(queries, sites, k=5)
    assert got_set == want


def test_knn_h3_matches_bruteforce(spark):
    """The H3 k-ring expansion variant is exact vs the haversine oracle."""
    rng = np.random.default_rng(29)
    sites = pd.DataFrame({
        "site_id": np.arange(300, dtype=np.int64),
        "lat": rng.uniform(-60, 70, 300),
        "lon": rng.uniform(-180, 180, 300),
    })
    queries = pd.DataFrame({
        "qid": np.arange(30, dtype=np.int64),
        "lat": rng.uniform(-55, 65, 30),
        "lon": rng.uniform(-170, 170, 30),
    })
    got = knn_join_h3(spark.createDataFrame(queries),
                      spark.createDataFrame(sites), k=5, res=3, ring_k=2)
    got_set = {(r["qid"], r["site_id"], r["rank"]) for r in got.collect()}
    want = brute_force_knn(queries, sites, k=5)
    assert got_set == want


def test_knn_zero_candidate_queries_still_answered(spark):
    """Regression: a query whose disc/ring contains NO sites must still get
    k answers via the brute-force fallback (it is absent from the audit
    aggregation, which once silently dropped it)."""
    sites = pd.DataFrame({
        "site_id": np.arange(5, dtype=np.int64),
        "lat": [40.0, 41.0, 42.0, 43.0, 44.0],
        "lon": [-74.0, -73.0, -72.0, -71.0, -70.0],
    })
    queries = pd.DataFrame({  # mid-Pacific: no sites within any small cover
        "qid": np.array([0, 1], dtype=np.int64),
        "lat": [-40.0, -45.0],
        "lon": [-150.0, -140.0],
    })
    for fn, kw in ((knn_join, {"level": 8, "r_cover_m": 100_000.0}),
                   (knn_join_h3, {"res": 5, "ring_k": 1})):
        got = fn(spark.createDataFrame(queries),
                 spark.createDataFrame(sites), k=2, **kw)
        got_set = {(r["qid"], r["site_id"], r["rank"]) for r in got.collect()}
        assert got_set == brute_force_knn(queries, sites, k=2)


def test_knn_dense_sites_no_fallback(spark):
    """Hot-box density: ring expansion alone resolves all queries."""
    rng = np.random.default_rng(7)
    sites = pd.DataFrame({
        "site_id": np.arange(500, dtype=np.int64),
        "lat": 40.0 + rng.uniform(-2, 2, 500),
        "lon": -74.0 + rng.uniform(-2, 2, 500),
    })
    queries = pd.DataFrame({
        "qid": np.arange(25, dtype=np.int64),
        "lat": 40.0 + rng.uniform(-1, 1, 25),
        "lon": -74.0 + rng.uniform(-1, 1, 25),
    })
    got = knn_join(spark.createDataFrame(queries),
                   spark.createDataFrame(sites), k=3, level=9,
                   r_cover_m=300_000.0, exact_fallback=True)
    want = brute_force_knn(queries, sites, k=3)
    got_set = {(r["qid"], r["site_id"], r["rank"]) for r in got.collect()}
    assert got_set == want


def test_salted_counts_exact(spark):
    # 1 hot cell (id 7) with 5000 rows, 50 cold cells with ~20 each
    rows = [(7, i) for i in range(5000)] + \
           [(100 + c, i) for c in range(50) for i in range(20)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "v"]))
    got = {r["cell"]: r["n_points"] for r in
           salted_counts(df, "cell", hot_threshold=1000).collect()}
    assert got[7] == 5000
    assert got[149] == 20
    assert len(got) == 51


def test_hot_map_and_salt_distribution(spark):
    rows = [(1, i) for i in range(10000)] + [(2, i) for i in range(50)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "v"]))
    hot = hot_cell_map(df, "cell", hot_threshold=1000, max_fanout=8)
    hrows = hot.collect()
    assert len(hrows) == 1 and hrows[0]["__hot_cell"] == 1
    fanout = hrows[0]["fanout"]
    assert fanout == 8  # 10000/1000 capped at 8
    salted = with_salt(df, "cell", hot, salt_from="v")
    dist = salted.where(F.col("cell") == 1).groupBy("salt").count().collect()
    assert len(dist) == fanout  # all salt buckets used
    counts = [r["count"] for r in dist]
    assert max(counts) < 3 * min(counts)  # roughly even
    cold = salted.where(F.col("cell") == 2).select("salt").distinct().collect()
    assert [r["salt"] for r in cold] == [0]


def test_pip_bulk_matches_bruteforce_and_driver_variant(spark):
    """The distributed-covering bulk PIP (many-polygon path) equals both
    the brute-force oracle and the driver-side variant on a 120-polygon
    dim — incl. concave and high-latitude rings."""
    from cartwright_spark.spatial.pip import point_in_polygon_join_bulk
    rng = np.random.default_rng(41)
    polys = []
    for i in range(116):
        la0 = float(rng.uniform(-60, 70))
        lo0 = float(rng.uniform(-170, 150))
        h = float(rng.uniform(2, 8)); w = float(rng.uniform(2, 12))
        polys.append({"admin_id": f"b{i}", "ring_lat": _box(la0, lo0, la0 + h, lo0 + w)[0],
                      "ring_lon": _box(la0, lo0, la0 + h, lo0 + w)[1]})
    polys.append({"admin_id": "l_shape",
                  "ring_lat": [0, 0, 10, 10, 20, 20],
                  "ring_lon": [0, 20, 20, 10, 10, 0]})
    polys.append({"admin_id": "nordic", "ring_lat": _box(55, 5, 65, 30)[0],
                  "ring_lon": _box(55, 5, 65, 30)[1]})
    polys.append({"admin_id": "chevron", "ring_lat": [-40, -30, -40, -20, -20],
                  "ring_lon": [60, 70, 80, 80, 60]})
    polys.append({"admin_id": "arctic", "ring_lat": _box(75, -40, 85, 20)[0],
                  "ring_lon": _box(75, -40, 85, 20)[1]})
    ppdf = pd.DataFrame(polys)
    pts = pd.DataFrame({
        "point_id": [f"p{i}" for i in range(4000)],
        "lat": rng.uniform(-70, 88, 4000),
        "lon": rng.uniform(-180, 180, 4000),
    })
    sdf = spark.createDataFrame(pts)
    polys_df = spark.createDataFrame(ppdf).repartition(8)
    got = {(r["point_id"], r["admin_id"])
           for r in point_in_polygon_join_bulk(
               spark, sdf, polys_df, level=8,
               point_id_col="point_id").collect()}
    want = brute_force_pip(pts, ppdf)
    assert got == want
    driver = {(r["point_id"], r["admin_id"])
              for r in point_in_polygon_join(
                  spark, sdf, ppdf, level=8,
                  point_id_col="point_id").collect()}
    assert driver == want
    assert len(want) > 200


def test_pip_bulk_holes_and_antimeridian(spark):
    """Bulk PIP with hole rings and a dateline-crossing ring matches the
    brute-force oracle."""
    from cartwright_spark.spatial.pip import point_in_polygon_join_bulk
    rng = np.random.default_rng(53)
    polys_pd = pd.DataFrame([
        {"admin_id": "donut", "ring_lat": _box(40, 0, 55, 20)[0],
         "ring_lon": _box(40, 0, 55, 20)[1],
         "holes": [(_box(45, 5, 50, 15)[0], _box(45, 5, 50, 15)[1])]},
        {"admin_id": "fiji", "ring_lat": [-19, -19, -15, -15],
         "ring_lon": [177, -178, -178, 177], "holes": None},
    ])
    # bulk schema: holes as parallel array-of-array columns
    bulk_rows = [
        {"admin_id": "donut", "ring_lat": polys_pd.iloc[0].ring_lat,
         "ring_lon": polys_pd.iloc[0].ring_lon,
         "hole_lat": [_box(45, 5, 50, 15)[0]],
         "hole_lon": [_box(45, 5, 50, 15)[1]]},
        {"admin_id": "fiji", "ring_lat": polys_pd.iloc[1].ring_lat,
         "ring_lon": polys_pd.iloc[1].ring_lon,
         "hole_lat": None, "hole_lon": None},
    ]
    polys_df = spark.createDataFrame(
        pd.DataFrame(bulk_rows),
        "admin_id string, ring_lat array<double>, ring_lon array<double>, "
        "hole_lat array<array<double>>, hole_lon array<array<double>>")
    lon = np.where(rng.random(3000) < 0.5,
                   rng.uniform(-10, 30, 3000),
                   np.where(rng.random(3000) < 0.5,
                            rng.uniform(170, 180, 3000),
                            rng.uniform(-180, -170, 3000)))
    pts = pd.DataFrame({
        "point_id": [f"x{i}" for i in range(3000)],
        "lat": rng.uniform(-30, 60, 3000), "lon": lon})
    got = {(r["point_id"], r["admin_id"])
           for r in point_in_polygon_join_bulk(
               spark, spark.createDataFrame(pts), polys_df, level=8,
               point_id_col="point_id").collect()}
    want = brute_force_pip(pts, polys_pd)
    assert got == want
    hits = {a for _, a in want}
    assert hits == {"donut", "fiji"}


def test_pip_random_star_polygons(spark):
    """Randomized non-convex (star-shaped) polygons at mixed latitudes vs
    the brute-force oracle — seeds beyond the fixed fixtures."""
    rng = np.random.default_rng(97)
    polys = []
    for i in range(12):
        cla = float(rng.uniform(-70, 78))
        clo = float(rng.uniform(-170, 170))
        n_v = int(rng.integers(5, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n_v))
        rad = rng.uniform(1.5, 8.0, n_v)
        la = np.clip(cla + rad * np.sin(ang), -89.5, 89.5)
        lo = clo + rad * np.cos(ang)  # may cross the antimeridian
        polys.append({"admin_id": f"star{i}",
                      "ring_lat": la.tolist(), "ring_lon": lo.tolist()})
    ppdf = pd.DataFrame(polys)
    pts = pd.DataFrame({
        "point_id": [f"s{i}" for i in range(5000)],
        "lat": rng.uniform(-85, 85, 5000),
        "lon": rng.uniform(-180, 180, 5000),
    })
    got = {(r["point_id"], r["admin_id"])
           for r in point_in_polygon_join(
               spark, spark.createDataFrame(pts), ppdf, level=8,
               point_id_col="point_id").collect()}
    want = brute_force_pip(pts, ppdf)
    assert got == want
    assert len(want) > 30  # global points vs 12 small stars: sparse hits


def test_pip_wide_ring_over_180_lon(spark):
    """Rings wider than 180° of longitude (round-3 edge-continuity
    unwrap): a 220°-wide band crossing the antimeridian, membership
    checked against hand-computed expectations and through both join
    variants."""
    from cartwright_spark.spatial.pip import (
        multi_ring_contains,
        point_in_polygon_join,
        point_in_polygon_join_bulk,
    )
    # rectangle lon 60 -> 280 (== -80) the short way through 170, i.e.
    # 220° wide, crossing the antimeridian; lat 10..40
    ring_lat = [10.0, 10.0, 10.0, 40.0, 40.0, 40.0]
    ring_lon = [60.0, 170.0, -80.0, -80.0, 170.0, 60.0]
    probes = [  # (lat, lon, expected_inside)
        (20.0, 65.0, True),
        (20.0, 170.0, True),
        (20.0, -175.0, True),     # == 185, inside the band
        (20.0, -85.0, True),      # == 275, just inside the east edge
        (20.0, -75.0, False),     # == 285, just outside
        (20.0, 50.0, False),
        (20.0, -30.0, False),     # == 330, in the 140°-wide gap
        (45.0, 100.0, False),     # north of the band
        (5.0, 100.0, False),
    ]
    import numpy as np

    from cartwright_spark.spatial.pip import _rings_of
    rings = _rings_of(pd.DataFrame(
        [{"admin_id": "band", "ring_lat": ring_lat,
          "ring_lon": ring_lon}]).iloc[0])
    got = multi_ring_contains(
        rings,
        np.array([p[0] for p in probes]), np.array([p[1] for p in probes]))
    assert got.tolist() == [p[2] for p in probes]

    pts = pd.DataFrame({
        "point_id": [f"p{i}" for i in range(len(probes))],
        "lat": [p[0] for p in probes], "lon": [p[1] for p in probes]})
    polys = pd.DataFrame([{"admin_id": "band", "ring_lat": ring_lat,
                           "ring_lon": ring_lon}])
    want = {(f"p{i}", "band") for i, p in enumerate(probes) if p[2]}
    sdf = spark.createDataFrame(pts)
    got_j = {(r["point_id"], r["admin_id"])
             for r in point_in_polygon_join(
                 spark, sdf, polys, level=6,
                 point_id_col="point_id").collect()}
    assert got_j == want
    polys_df = spark.createDataFrame(
        pd.DataFrame([{"admin_id": "band", "ring_lat": ring_lat,
                       "ring_lon": ring_lon}]))
    got_b = {(r["point_id"], r["admin_id"])
             for r in point_in_polygon_join_bulk(
                 spark, sdf, polys_df, level=6,
                 point_id_col="point_id").collect()}
    assert got_b == want


def test_pip_polar_cap_closed_over_pole():
    """A single-wind cap ring is closed over the pole (round-2 silently
    mis-unwrapped it; mid-round-3 rejected it; now supported)."""
    import numpy as np

    from cartwright_spark.spatial.pip import _unwrap_ring
    lons = np.arange(-180.0, 180.0, 30.0)   # full circuit
    lats = np.full(len(lons), 80.0)
    la, lo = _unwrap_ring(lats, lons)
    assert la[-1] == la[-2] == 90.0         # north cap closure vertices
    assert len(la) == len(lons) + 2


def test_pip_polar_cap_ring(spark):
    """Antarctica-class cap rings (round 3): a ring winding fully around
    the south pole is closed over the pole and handled by the ordinary
    even-odd kernels — hand-computed memberships through the containment
    kernel, the broadcast join and the bulk join."""
    import numpy as np

    from cartwright_spark.spatial.pip import (
        _rings_of,
        multi_ring_contains,
        point_in_polygon_join,
        point_in_polygon_join_bulk,
    )
    lons = list(np.arange(-180.0, 180.0, 30.0))
    # wobbly Antarctic boundary: lat alternates -58 / -66 around the circle
    lats = [-58.0 if i % 2 == 0 else -66.0 for i in range(len(lons))]
    probes = [
        (-80.0, 10.0, True), (-80.0, -170.0, True), (-89.9, 55.0, True),
        (-70.0, 0.3, True),       # below both boundary bands
        (-40.0, 10.0, False), (-20.0, -120.0, False), (40.0, 10.0, False),
        (-59.0, 90.0, False),     # lon 90 boundary sits at -66; -59 is north
    ]
    rings = _rings_of(pd.DataFrame(
        [{"admin_id": "cap", "ring_lat": lats, "ring_lon": lons}]).iloc[0])
    got = multi_ring_contains(
        rings, np.array([p[0] for p in probes]),
        np.array([p[1] for p in probes]))
    assert got.tolist() == [p[2] for p in probes]

    pts = pd.DataFrame({
        "point_id": [f"p{i}" for i in range(len(probes))],
        "lat": [p[0] for p in probes], "lon": [p[1] for p in probes]})
    polys = pd.DataFrame([{"admin_id": "cap", "ring_lat": lats,
                           "ring_lon": lons}])
    want = {(f"p{i}", "cap") for i, p in enumerate(probes) if p[2]}
    sdf = spark.createDataFrame(pts)
    got_j = {(r["point_id"], r["admin_id"])
             for r in point_in_polygon_join(
                 spark, sdf, polys, level=5,
                 point_id_col="point_id").collect()}
    assert got_j == want
    got_b = {(r["point_id"], r["admin_id"])
             for r in point_in_polygon_join_bulk(
                 spark, sdf, spark.createDataFrame(polys[
                     ["admin_id", "ring_lat", "ring_lon"]]), level=5,
                 point_id_col="point_id").collect()}
    assert got_b == want


def test_pip_north_cap_and_double_wind():
    import numpy as np
    import pytest as _pt

    from cartwright_spark.spatial.pip import _unwrap_ring, multi_ring_contains
    lons = np.arange(-180.0, 180.0, 45.0)
    la, lo = _unwrap_ring(np.full(len(lons), 70.0), lons)
    assert 90.0 in la          # closed over the NORTH pole
    inside = multi_ring_contains([(la, lo)],
                                 np.array([85.0, 50.0, -85.0]),
                                 np.array([12.0, 12.0, 12.0]))
    assert inside.tolist() == [True, False, False]
    # double wind rejected
    twice = np.concatenate([np.arange(-180.0, 180.0, 60.0)] * 2)
    with _pt.raises(NotImplementedError):
        _unwrap_ring(np.full(len(twice), 80.0), twice)


def test_unwrap_rotation_invariance_property():
    """Property (hypothesis): containment is invariant under rotating the
    ring AND the points by the same longitude offset — exercises every
    unwrap branch (plain, antimeridian-crossing, wide) with random
    star-convex rings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cartwright_spark.spatial.pip import multi_ring_contains

    @settings(max_examples=60, deadline=None)
    @given(st.integers(5, 24), st.floats(-55, 55), st.floats(-180, 180),
           st.floats(5, 80), st.integers(0, 359), st.integers(0, 10**6))
    def prop(n_vert, c_lat, c_lon, spread, rot_deg, seed):
        rng = np.random.default_rng(seed)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n_vert))
        rad = rng.uniform(0.3, 1.0, n_vert)
        ring_lat = np.clip(c_lat + spread * 0.4 * rad * np.sin(ang), -89, 89)
        ring_lon = c_lon + spread * rad * np.cos(ang)
        # consecutive-vertex lon steps must stay < 180 for the short-way
        # convention; star-convex construction with spread ≤ 80 guarantees it
        pl = rng.uniform(-89, 89, 200)
        pn = rng.uniform(-180, 180, 200)

        def wrap(x):
            return ((np.asarray(x) + 180.0) % 360.0) - 180.0

        from cartwright_spark.spatial.pip import _unwrap_ring
        r0 = _unwrap_ring(ring_lat, wrap(ring_lon))
        base = multi_ring_contains([r0], pl, pn)
        r1 = _unwrap_ring(ring_lat, wrap(ring_lon + rot_deg))
        rot = multi_ring_contains([r1], pl, wrap(pn + rot_deg))
        assert (base == rot).all()

    prop()


def test_knn_fallback_grows_cover_instead_of_cartesian(spark):
    """Round-3 VERDICT item: when most queries start unresolved (sparse
    sites, undersized cover), the fallback must resolve them by growing
    the disc geometrically — NOT by cross-joining the unresolved set
    against the full site table. With enough growth rounds the final
    plan contains no cartesian at all, and the answers stay exact."""
    rng = np.random.default_rng(71)
    sites = pd.DataFrame({
        "site_id": np.arange(30, dtype=np.int64),
        "lat": rng.uniform(-60, 70, 30),
        "lon": rng.uniform(-180, 180, 30),
    })
    queries = pd.DataFrame({
        "qid": np.arange(40, dtype=np.int64),
        "lat": rng.uniform(-55, 65, 40),
        "lon": rng.uniform(-170, 170, 40),
    })
    # 500 km cover vs ~30 global sites: >50% of queries start unresolved
    got = knn_join(spark.createDataFrame(queries),
                   spark.createDataFrame(sites), k=5, level=6,
                   r_cover_m=500_000.0, fallback_rounds=7)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got_set = {(r["qid"], r["site_id"], r["rank"]) for r in got.collect()}
    assert got_set == brute_force_knn(queries, sites, k=5)


def test_knn_fallback_pair_budget_guard_fails_loudly(spark):
    """Past the growth schedule, a residue crossJoin bigger than
    max_fallback_pairs must raise instead of silently planning a
    scale-killing cartesian."""
    import pytest
    rng = np.random.default_rng(5)
    sites = pd.DataFrame({
        "site_id": np.arange(200, dtype=np.int64),
        "lat": rng.uniform(-60, 70, 200),
        "lon": rng.uniform(-180, 180, 200),
    })
    queries = pd.DataFrame({
        "qid": np.arange(30, dtype=np.int64),
        "lat": rng.uniform(-55, 65, 30),
        "lon": rng.uniform(-170, 170, 30),
    })
    with pytest.raises(ValueError, match="max_fallback_pairs"):
        knn_join(spark.createDataFrame(queries),
                 spark.createDataFrame(sites), k=50, level=8,
                 r_cover_m=50_000.0, fallback_rounds=1,
                 max_fallback_pairs=100).collect()


def test_pip_bulk_adaptive_refine_salt(spark):
    """refine_salt="auto" (round-3 VERDICT item 7): one giant polygon
    with dense candidates gets a count-proportional salt while cold
    admins keep salt 1 — and the join stays exact."""
    from cartwright_spark.spatial.pip import (_refine_salt_map,
                                              point_in_polygon_join_bulk)
    from cartwright_spark.spatial.udfs import with_s2_cell
    rng = np.random.default_rng(17)
    ppdf = pd.DataFrame([
        {"admin_id": "giant", "ring_lat": _box(20, -40, 60, 60)[0],
         "ring_lon": _box(20, -40, 60, 60)[1]},
        {"admin_id": "cold", "ring_lat": _box(-50, 100, -45, 110)[0],
         "ring_lon": _box(-50, 100, -45, 110)[1]},
    ])
    # 30k points, ~99% inside the giant box, ~300 in the cold one
    pts = pd.DataFrame({
        "point_id": [f"p{i}" for i in range(30_000)],
        "lat": np.where(np.arange(30_000) % 100 < 99,
                        rng.uniform(21, 59, 30_000),
                        rng.uniform(-49.5, -45.5, 30_000)),
        "lon": np.where(np.arange(30_000) % 100 < 99,
                        rng.uniform(-39, 59, 30_000),
                        rng.uniform(101, 109, 30_000)),
    })
    sdf = spark.createDataFrame(pts)
    polys_df = spark.createDataFrame(ppdf)

    got = {(r["point_id"], r["admin_id"])
           for r in point_in_polygon_join_bulk(
               spark, sdf, polys_df, level=7, point_id_col="point_id",
               refine_salt="auto", target_refine_rows=2_000,
               salt_sample_fraction=0.2).collect()}
    assert got == brute_force_pip(pts, ppdf)

    # the salt map itself: hot admin fans out proportionally to its
    # candidate volume; the cold admin is absent (fanout 1, zero
    # replication)
    enc = with_s2_cell(
        sdf.select(F.col("point_id"), "lat", "lon"), "lat", "lon", 7,
        "cell")
    cov = polys_df  # rebuild the covering the same way the join does
    from cartwright_spark.spatial.pip import (classify_interior_cells,
                                              polygon_covering_cells,
                                              _unwrap_ring)
    rows = []
    for r in ppdf.itertuples(index=False):
        cells = polygon_covering_cells(r.ring_lat, r.ring_lon, 7)
        interior = classify_interior_cells(
            cells, [_unwrap_ring(r.ring_lat, r.ring_lon)], 7)
        for c, it in zip(np.asarray(cells, np.uint64).astype(np.int64),
                         interior):
            rows.append({"admin_id": r.admin_id, "cell": int(c),
                         "interior": bool(it)})
    cov_df = spark.createDataFrame(pd.DataFrame(rows))
    m = {r["admin_id"]: r["__fanout"]
         for r in _refine_salt_map(enc, cov_df, target_rows=2_000,
                                   max_salt=64,
                                   sample_fraction=0.2).collect()}
    assert "cold" not in m
    assert m.get("giant", 0) >= 8       # ~29.7k candidates / 2k target
    # per-(admin, salt) group sizes actually bound the refine task input
    n_giant = 29_700
    assert n_giant / m["giant"] < 2_000 * 4


# ---------------------------------------------------------------------------
# within-distance (radius) join
# ---------------------------------------------------------------------------

def _hav_np(la1, lo1, la2, lo2):
    from cartwright_spark.functions.geodesy import EARTH_RADIUS_M
    la1, lo1, la2, lo2 = map(np.radians, (la1, lo1, la2, lo2))
    h = (np.sin((la2 - la1) / 2) ** 2
         + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0, 1)))


@pytest.mark.parametrize("r_m", [60_000.0, 500_000.0, 2_500_000.0])
def test_radius_join_matches_bruteforce(spark, r_m):
    from cartwright_spark.spatial.distjoin import within_distance_join
    rng = np.random.RandomState(int(r_m) % 997)
    nq, ns = 250, 1500
    qlat = rng.uniform(-89, 89, nq)
    qlon = rng.uniform(-180, 180, nq)
    slat = rng.uniform(-89, 89, ns)
    slon = rng.uniform(-180, 180, ns)
    # stress clusters: polar caps, dateline, and EXACT poles (the
    # geodesic_destination pole-degeneracy regression: rings from an
    # exact-pole center collapsed onto one meridian before the fix)
    qlat[:10] = rng.uniform(86, 90, 10)
    qlat[10] = 90.0
    qlat[11] = -90.0
    qlon[12:24] = rng.uniform(179.5, 180, 12)
    slat[:80] = rng.uniform(85, 90, 80)
    slat[80] = -90.0
    slon[80:160] = rng.uniform(-180, -179.5, 80)
    qdf = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(nq), "lat": qlat, "lon": qlon}))
    sdf = spark.createDataFrame(pd.DataFrame(
        {"site_id": np.arange(ns), "lat": slat, "lon": slon}))
    got = within_distance_join(qdf, sdf, r_m).toPandas()
    got_set = set(zip(got.qid, got.site_id))
    D = _hav_np(qlat[:, None], qlon[:, None], slat[None, :], slon[None, :])
    qi, si = np.where(D <= r_m)
    want = set(zip(qi.tolist(), si.tolist()))
    assert got_set == want
    # distances are the exact haversine values
    dd = {(q, s): d for q, s, d in zip(got.qid, got.site_id, got.dist_m)}
    for (q, s) in list(want)[:50]:
        assert abs(dd[(q, s)] - D[q, s]) < 1e-6


def test_radius_join_pick_level_monotone():
    from cartwright_spark.spatial.distjoin import pick_level
    from cartwright_spark.functions.geodesy import EARTH_RADIUS_M
    from cartwright_spark.spatial import s2
    prev = 99
    for r in (100.0, 1_000.0, 10_000.0, 1e5, 1e6, 1e7):
        lvl = pick_level(r)
        assert 0 <= lvl <= 20
        assert lvl <= prev or prev == 99
        prev = lvl
        if 0 < lvl < 20:
            # chosen edge is >= r/2 and the next-finer level's is not
            assert s2.avg_edge_radians(lvl) * EARTH_RADIUS_M >= r / 2
            assert s2.avg_edge_radians(lvl + 1) * EARTH_RADIUS_M < r / 2


def test_radius_join_plan_no_cartesian_no_udf_refilter(spark):
    from cartwright_spark.spatial.distjoin import within_distance_join
    q = spark.range(100).select(
        F.col("id").alias("qid"),
        ((F.col("id") * 37 % 140) - 65.0).alias("lat"),
        ((F.col("id") * 73 % 361) - 180.0).alias("lon"))
    s = spark.range(1000).select(
        F.col("id").alias("site_id"),
        ((F.col("id") * 131 % 17000) / 100.0 - 85.0).alias("lat"),
        ((F.col("id") * 211 % 36001) / 100.0 - 180.0).alias("lon"))
    plan = within_distance_join(q, s, 400_000.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # the site-side coalesce(-1) folds the join's key-null filter so the
    # Arrow encode runs exactly once per side (encode sites + disc covers)
    assert plan.count("ArrowEvalPython") <= 2


# ---------------------------------------------------------------------------
# polygon measures
# ---------------------------------------------------------------------------

def _verts_df(spark, polys):
    rows = [(pid, i, float(la), float(lo))
            for pid, ring in polys.items()
            for i, (la, lo) in enumerate(ring)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["poly_id", "pos", "lat", "lon"]))


def test_polygon_measures_known_values(spark):
    from cartwright_spark.spatial.measures import polygon_measures
    from cartwright_spark.functions.geodesy import EARTH_RADIUS_M
    R = EARTH_RADIUS_M / 1000.0
    out = polygon_measures(_verts_df(spark, {
        0: [(0, 0), (0, 1), (1, 1), (1, 0)],          # 1°×1° at equator
        1: [(40, 10), (40, 20), (50, 20), (50, 10)],  # 10°×10° at 45°N
    })).toPandas().set_index("poly_id")
    # exact area of the lat-lon rectangle on the sphere:
    # R²·Δλ·(sin φ2 − sin φ1)
    exact0 = R * R * np.radians(1.0) * (np.sin(np.radians(1.0)) - 0.0)
    exact1 = R * R * np.radians(10.0) * (
        np.sin(np.radians(50.0)) - np.sin(np.radians(40.0)))
    # C&D shoelace is a short-edge approximation: 1° edges ≪1e-4 rel,
    # 10° edges ~1e-3 rel
    assert abs(out.loc[0, "area_km2"] - exact0) / exact0 < 1e-4
    assert abs(out.loc[1, "area_km2"] - exact1) / exact1 < 2e-3
    # perimeter: meridian legs are exact arcs (Δφ·R); parallels are
    # haversine chords of the great circle, close to Δλ·R·cosφ
    assert abs(out.loc[0, "perimeter_km"]
               - 2 * R * (np.radians(1.0) + np.radians(1.0)
                          * np.cos(np.radians(0.5)))) < 1.0


def test_polygon_measures_orientation_and_closing_vertex(spark):
    from cartwright_spark.spatial.measures import polygon_measures
    ccw = [(0, 0), (0, 2), (3, 2), (3, 0)]
    cw = list(reversed(ccw))
    closed = ccw + [ccw[0]]   # explicit closing vertex repeated
    out = polygon_measures(_verts_df(spark, {0: ccw, 1: cw, 2: closed})) \
        .toPandas().set_index("poly_id")
    assert out.loc[0, "area_km2"] == out.loc[1, "area_km2"]   # |abs|
    assert out.loc[0, "area_km2"] == out.loc[2, "area_km2"]   # zero edge
    assert out.loc[0, "perimeter_km"] == out.loc[2, "perimeter_km"]
    assert out.loc[2, "n_vertices"] == 5


def test_polygon_measures_layout_invariant(spark):
    # the decimal term sum is associative, so the result is bit-identical
    # across partition layouts — no float-order drift
    from cartwright_spark.spatial.measures import polygon_measures
    rng = np.random.RandomState(3)
    polys = {}
    for pid in range(20):
        n = 3 + pid % 6
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.5, 3.0, n)
        polys[pid] = list(zip(20 + r * np.sin(ang), 30 + r * np.cos(ang)))
    vdf = _verts_df(spark, polys)
    a = polygon_measures(vdf).toPandas().set_index("poly_id").sort_index()
    b = polygon_measures(vdf.repartition(13)).toPandas() \
        .set_index("poly_id").sort_index()
    assert (a["area_km2"] == b["area_km2"]).all()
    assert (a["perimeter_km"] == b["perimeter_km"]).all()


def test_radius_join_planet_scale_radius_and_fine_level_guard(spark):
    from cartwright_spark.spatial.distjoin import within_distance_join
    rng = np.random.RandomState(23)
    nq, ns = 30, 200
    qdf = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(nq), "lat": rng.uniform(-89, 89, nq),
         "lon": rng.uniform(-180, 180, nq)}))
    sdf = spark.createDataFrame(pd.DataFrame(
        {"site_id": np.arange(ns), "lat": rng.uniform(-89, 89, ns),
         "lon": rng.uniform(-180, 180, ns)}))
    # half-circumference radius: the disc is the whole planet, so every
    # (query, site) pair qualifies — the cover must still be complete
    from cartwright_spark.functions.geodesy import EARTH_RADIUS_M
    r = np.pi * EARTH_RADIUS_M
    assert within_distance_join(qdf, sdf, r).count() == nq * ns
    # a manual level far too fine for the radius fails loudly instead of
    # planning a quadratic per-row cell explode
    with pytest.raises(ValueError, match="too fine"):
        within_distance_join(qdf, sdf, 1_000_000.0, level=14)


# ---------------------------------------------------------------------------
# Tile pyramid rollup (spatial/tiles.py tile_pyramid)
# ---------------------------------------------------------------------------

def test_tile_pyramid_invariants(spark):
    """Every zoom conserves total mass; z=0 is the single root tile;
    each parent's count equals the sum of its children."""
    import numpy as np
    import pandas as pd

    from cartwright_spark.spatial.tiles import tile_pyramid

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "lat": rng.uniform(-80, 80, 5000),
        "lon": rng.uniform(-179, 179, 5000)})
    out = tile_pyramid(spark.createDataFrame(pdf), z_max=5).toPandas()
    for z in range(6):
        assert out[out.z == z]["n_points"].sum() == 5000, z
    root = out[out.z == 0]
    assert len(root) == 1 and root.iloc[0]["n_points"] == 5000
    assert root.iloc[0]["tile_x"] == 0 and root.iloc[0]["tile_y"] == 0
    kids = out[out.z == 5].copy()
    kids["px"], kids["py"] = kids.tile_x // 2, kids.tile_y // 2
    rolled = (kids.groupby(["px", "py"])["n_points"].sum()
              .reset_index().sort_values(["px", "py"]).reset_index(drop=True))
    parents = (out[out.z == 4][["tile_x", "tile_y", "n_points"]]
               .sort_values(["tile_x", "tile_y"]).reset_index(drop=True))
    assert list(rolled["n_points"]) == list(parents["n_points"])


def test_tile_pyramid_single_corpus_shuffle(spark):
    """The points are shuffled once (the z_max rollup); the per-zoom
    rollup re-shuffles only the exploded tile table — so exactly two
    hashpartitioning exchanges in the whole plan."""
    import pandas as pd

    from cartwright_spark.spatial.tiles import tile_pyramid

    pdf = pd.DataFrame({"lat": [1.0, 2.0], "lon": [3.0, 4.0]})
    plan = tile_pyramid(spark.createDataFrame(pdf), z_max=3)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
