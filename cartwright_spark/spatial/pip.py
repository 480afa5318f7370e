"""Point-in-polygon join (SURVEY.md §2.3 J6).

Strategy (north_star): polygons → covering set of S2 cells at a coarse
level (computed once, driver-side — the polygon dim is broadcast-scale);
points carry their S2 cell at the same level; the join is a broadcast hash
equi-join on cell id; an exact ray-casting refine runs vectorized inside a
pandas UDF over the (few) candidates per polygon. No pairwise point×polygon
cross product ever forms, and the big side is never shuffled (broadcast).

Polygon model: one outer ring per admin_id plus optional hole rings
(`holes` column: list of (hole_lat_list, hole_lon_list) pairs); containment
is even-odd across all rings. Rings that cross the antimeridian are handled
by edge-continuity longitude unwrapping (every edge takes the short way;
points tested at both lon and lon+360) — rings wider than 180° of
longitude (Russia-shaped) and polar-cap rings that wind fully around a
pole (Antarctica-shaped; closed over the pole with synthetic meridian
edges) are both fully supported since round 3. Only double-winding
rings are rejected.
Boundary points count as inside (>= on one bound — ties are measure-zero
for our fixtures).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartwright_spark.spatial import s2

#: (id(polygons_pdf), len, level) → (rings dict, broadcast covering DF).
#: Driver-plan memo only — see point_in_polygon_join step 1.
_COVERING_MEMO: dict = {}


def ray_cast_contains(ring_lat: np.ndarray, ring_lon: np.ndarray,
                      plat: np.ndarray, plon: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: points (n,) vs one ring (m,)."""
    x, y = np.asarray(plon, float), np.asarray(plat, float)
    vx, vy = np.asarray(ring_lon, float), np.asarray(ring_lat, float)
    n = len(vx)
    inside = np.zeros(len(x), dtype=bool)
    j = n - 1
    for i in range(n):
        yi, yj = vy[i], vy[j]
        xi, xj = vx[i], vx[j]
        crosses = (yi > y) != (yj > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = xi + (y - yi) * (xj - xi) / (yj - yi)
        inside ^= crosses & (x < x_at)
        j = i
    return inside


def _unwrap_ring(ring_lat, ring_lon) -> tuple[np.ndarray, np.ndarray]:
    """Make a ring's longitudes continuous by EDGE CONTINUITY: walking the
    ring, every edge takes the short way round (|Δlon| ≤ 180 — the
    GeoJSON-style convention), accumulating ±360 as it crosses the
    antimeridian. Unlike the round-2 total-span heuristic this also
    handles rings WIDER than 180° of longitude (e.g. Russia), crossing or
    not, as long as consecutive vertices are < 180° apart — true of any
    real boundary polyline. The result is normalized so min(lon) ∈
    [-180, 180); width < 360 still holds, so the test-at-lon-and-lon+360
    trick in the containment kernels stays exact.

    Rings that wind fully around a pole (unwrap doesn't close: the
    implicit last→first edge needs another ±360) are CLOSED OVER THE
    POLE: two synthetic meridian edges drop from the ring's endpoints to
    the pole nearest its mean latitude, plus a zero-crossing cap edge
    along the pole itself. The result is an ordinary simple ring in
    unwrapped lon space, so every even-odd kernel downstream (numpy ray
    casting, interior-cell classification) handles
    Antarctica-class polygons with no special cases. Convention: a cap
    ring encloses the pole on its mean-latitude side (the standard
    GeoJSON-ambiguity resolution; pass an explicit hole ring for the
    exotic complement case). Double-winding rings are rejected."""
    la = np.asarray(ring_lat, float)
    lo = np.asarray(ring_lon, float).copy()
    d = np.diff(lo)
    adj = np.cumsum(np.where(d > 180.0, -360.0,
                             np.where(d < -180.0, 360.0, 0.0)))
    lo[1:] += adj
    closure = lo[-1] - lo[0]
    if abs(closure) > 180.0:
        if not (180.0 < abs(closure) < 540.0):
            raise NotImplementedError(
                "ring winds around a pole more than once; out of scope")
        pole = -90.0 if la.mean() < 0 else 90.0
        la = np.concatenate([la, [pole, pole]])
        lo = np.concatenate([lo, [lo[-1], lo[0]]])
    shift = np.floor((lo.min() + 180.0) / 360.0) * 360.0
    return la, lo - shift


def _rings_of(row) -> list[tuple[np.ndarray, np.ndarray]]:
    """Outer ring + optional holes from a polygons-frame row, each unwrapped."""
    rings = [_unwrap_ring(row.ring_lat, row.ring_lon)]
    holes = getattr(row, "holes", None)
    if holes is not None and not (isinstance(holes, float) and pd.isna(holes)):
        for hla, hlo in holes:
            rings.append(_unwrap_ring(hla, hlo))
    return rings


def multi_ring_contains(rings, plat, plon) -> np.ndarray:
    """Even-odd containment across rings (outer + holes). Rings unwrapped
    past 180° also test points shifted +360 (at most one shift can land
    inside a <360°-wide ring, so OR within a ring is exact)."""
    plat = np.asarray(plat, float)
    plon = np.asarray(plon, float)
    inside = np.zeros(len(plat), dtype=bool)
    for rla, rlo in rings:
        r = ray_cast_contains(rla, rlo, plat, plon)
        if rlo.max() > 180.0:
            r |= ray_cast_contains(rla, rlo, plat, plon + 360.0)
        inside ^= r
    return inside


def polygon_covering_cells(ring_lat, ring_lon, level: int) -> np.ndarray:
    """Superset of S2 cells at `level` intersecting the (outer-ring) bbox:
    sample the (padded) bbox on a grid finer than the MIN cell edge and
    encode. Driver-side, polygon dims are metadata-scale. Holes only remove
    area, so the outer ring's covering is a superset of the polygon's.
    Antimeridian rings sample in unwrapped space; grid lons re-wrap before
    encoding."""
    ring_lat, ring_lon = _unwrap_ring(ring_lat, ring_lon)
    edge_deg = np.rad2deg(s2.avg_edge_radians(level))
    pad = 1.5 * edge_deg
    la0, la1 = ring_lat.min() - pad, ring_lat.max() + pad
    lo0, lo1 = ring_lon.min() - pad, ring_lon.max() + pad
    step = edge_deg / 2.5
    las = np.arange(la0, la1 + step, step)
    los = np.arange(lo0, lo1 + step, step)
    glat, glon = np.meshgrid(np.clip(las, -89.999, 89.999), los)
    glon = ((glon + 180.0) % 360.0) - 180.0
    cells = s2.latlng_to_cell(glat.ravel(), glon.ravel(), level)
    return np.unique(cells)


def classify_interior_cells(cells: np.ndarray, rings, level: int) -> np.ndarray:
    """Conservative interior flags for covering cells: True ⇒ the whole cell
    is provably inside the polygon, so candidate points in it skip the
    ray-cast refine entirely (the classic S2 interior-covering trick; at a
    coarse level most of a large polygon's cover is interior, leaving only
    the O(perimeter) boundary cells for the refine).

    `rings` is the unwrapped ring list (outer + holes). Each cell's bounds
    come from its ACTUAL boundary vertices (`s2.cell_bbox_deg`), fixing the
    round-1 high-latitude bug where a center±avg-edge-degrees model
    underestimated the cell's 1/cos(lat) longitude extent and produced false
    interior flags (hence silent PIP false positives) above ~55°.

    A cell is interior iff all 4 bbox corners are inside (even-odd over all
    rings) AND no ring edge's bbox overlaps the cell bbox (checked at lon
    and lon+360 to match unwrapped edges) — if no edge crosses the bbox, the
    bbox is entirely on one side, and the corners decide which."""
    la0, la1, lo0, lo1 = s2.cell_bbox_deg(np.asarray(cells, np.uint64), level)
    inside = np.ones(len(la0), dtype=bool)
    for yy, xx in ((la0, lo0), (la0, lo1), (la1, lo0), (la1, lo1)):
        inside &= multi_ring_contains(rings, yy, xx)
    no_edge = np.ones(len(la0), dtype=bool)
    for rla, rlo in rings:
        ela0 = np.minimum(rla, np.roll(rla, -1))
        ela1 = np.maximum(rla, np.roll(rla, -1))
        elo0 = np.minimum(rlo, np.roll(rlo, -1))
        elo1 = np.maximum(rlo, np.roll(rlo, -1))
        lat_ov = (la0[:, None] <= ela1[None, :]) & (la1[:, None] >= ela0[None, :])
        for shift in (0.0, 360.0):
            overlap = (lat_ov
                       & ((lo0 + shift)[:, None] <= elo1[None, :])
                       & ((lo1 + shift)[:, None] >= elo0[None, :]))
            no_edge &= ~overlap.any(axis=1)
    return inside & no_edge


def point_in_polygon_join(spark: SparkSession, points: DataFrame,
                          polygons: pd.DataFrame, level: int = 8,
                          lat_col: str = "lat", lon_col: str = "lon",
                          point_id_col: str = "url",
                          cell_col: str | None = None) -> DataFrame:
    """points(id, lat, lon) ⋈ polygons(admin_id, ring_lat[], ring_lon[]
    [, holes]) → (point_id, admin_id).

    polygons is a pandas frame (broadcast-scale dim): columns
    admin_id, ring_lat (list[float]), ring_lon (list[float]), and an
    optional `holes` column (list of (hole_lat_list, hole_lon_list)).

    The refine is a narrow-column pandas UDF (admin idx + lat/lon in,
    bool out): numpy ray casting against broadcast rings. Arrow moves only
    3 narrow columns and the kernel is vectorized (a Catalyst higher-order
    fold over the edge array, interpreted per element, measured 2× slower
    at sf0.1).

    Candidates whose cell is provably interior to the polygon
    (classify_interior_cells) bypass the refine entirely — only
    boundary-cell candidates pay for ray casting.

    cell_col: name of a precomputed S2 cell column at *exactly* `level`
    (e.g. derived via s2_parent_col from a finer encode) — skips the encode.
    """
    # 1) covering cells per polygon (driver-side, broadcast), with a
    #    conservative interior flag per cell. Memoized per (polygon-frame
    #    identity, level): the numpy covering build + the 24k-row
    #    createDataFrame cost ~1 s of pure driver time per call, and the
    #    polygon dim is a static gazetteer in every caller (repeat calls
    #    with a fresh frame just miss the memo).
    memo_key = (id(spark.sparkContext._gateway), id(polygons),
                len(polygons), level)
    hit = _COVERING_MEMO.get(memo_key)
    if hit is not None:
        # stored polygons ref pins the frame alive, so its id() can't be
        # recycled onto a different frame; gateway id invalidates the
        # broadcast DF after a SparkContext restart
        rings, cov_df = hit[1], hit[2]
    else:
        cov_rows = []
        rings = {}
        for r in polygons.itertuples(index=False):
            rr = _rings_of(r)
            cells = polygon_covering_cells(r.ring_lat, r.ring_lon, level)
            interior = classify_interior_cells(cells, rr, level)
            rings[r.admin_id] = rr
            for c, flag in zip(cells, interior):
                cov_rows.append((r.admin_id,
                                 int(np.uint64(c).astype(np.int64)),
                                 bool(flag)))
        cov_df = F.broadcast(spark.createDataFrame(
            pd.DataFrame(cov_rows, columns=["admin_id", "cell", "interior"])))
        _COVERING_MEMO[memo_key] = (polygons, rings, cov_df)

    # 2) bbox pre-filter BEFORE the encode: a point can only join a
    # covering cell if it lies within the polygon's padded bbox plus one
    # cell of slack — a plain range predicate that Catalyst pushes into
    # the parquet scan, so the S2 encode only runs on plausible rows.
    # Antimeridian polygons (unwrapped bbox past 180) also admit lon+360.
    # (With very many polygons the OR chain would bloat the plan; fall
    # back to the global bbox then.)
    pts = points.select(
        F.col(point_id_col).alias("point_id"),
        F.col(lat_col).alias("lat"), F.col(lon_col).alias("lon"),
        *([F.col(cell_col).alias("cell")] if cell_col else []),
    )
    edge_deg = float(np.rad2deg(s2.avg_edge_radians(level)))
    padf = 3.0 * edge_deg  # covering pad (1.5 edge) + cell slack, rounded up
    boxes = [(float(np.min(rr[0][0])), float(np.max(rr[0][0])),
              float(np.min(rr[0][1])), float(np.max(rr[0][1])))
             for rr in rings.values()]

    def lon_pred(lo0, lo1):
        p = F.col("lon").between(lo0 - padf, lo1 + padf)
        if lo1 > 180.0 - padf:
            p = p | (F.col("lon") + 360.0).between(lo0 - padf, lo1 + padf)
        return p

    if len(boxes) <= 32:
        pre = None
        for la0, la1, lo0, lo1 in boxes:
            p = (F.col("lat").between(la0 - padf, la1 + padf)
                 & lon_pred(lo0, lo1))
            pre = p if pre is None else (pre | p)
    else:
        la0 = min(b[0] for b in boxes); la1 = max(b[1] for b in boxes)
        lo0 = min(b[2] for b in boxes); lo1 = max(b[3] for b in boxes)
        pre = (F.col("lat").between(la0 - padf, la1 + padf)
               & lon_pred(lo0, lo1))
    pts = pts.where(pre)
    if not cell_col:
        from cartwright_spark.spatial.udfs import with_s2_cell
        pts = with_s2_cell(pts, "lat", "lon", level, "cell")
    # single-branch plan: the interior flag rides the candidate rows and
    # becomes part of the refine predicate. Splitting into an accepted
    # branch + a refined branch and unioning would evaluate the point
    # scan + encode + join once per branch — measured 2× the whole query.
    cand = pts.join(cov_df, "cell", "inner")

    # 3) narrow-column vectorized refine: rings indexed by int id live
    # in the UDF closure; per-batch group-by-polygon numpy ray casting
    admin_ids = sorted(rings.keys())
    idx_of = {a: i for i, a in enumerate(admin_ids)}
    ring_list = [rings[a] for a in admin_ids]
    idx_df = F.broadcast(spark.createDataFrame(
        [(a, idx_of[a]) for a in admin_ids], "admin_id string, __aidx int"))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def inside(aidx: pd.Series, la: pd.Series, lo: pd.Series,
               interior: pd.Series) -> pd.Series:
        # interior-cell candidates are provably contained — accepted
        # without ray casting; only boundary-cell rows pay the kernel
        out = interior.to_numpy(bool).copy()
        todo = ~out
        ai = aidx.to_numpy()
        lav = la.to_numpy(np.float64)
        lov = lo.to_numpy(np.float64)
        for i in np.unique(ai[todo]):
            m = todo & (ai == i)
            out[m] = multi_ring_contains(ring_list[i], lav[m], lov[m])
        return pd.Series(out)

    return (cand.join(idx_df, "admin_id")
            .where(inside(F.col("__aidx"), F.col("lat"), F.col("lon"),
                          F.col("interior")))
            .select("point_id", "admin_id"))


def _refine_salt_map(pts: DataFrame, cov: DataFrame, target_rows: int,
                     max_salt: int, sample_fraction: float) -> DataFrame:
    """(admin_id, __fanout) for admins whose ESTIMATED candidate count
    exceeds ``target_rows`` — fanout ≈ est/target capped at ``max_salt``.
    The estimate joins a point SAMPLE against the (pinned) covering, so
    the pre-pass costs ~``sample_fraction`` of the real candidate join.
    Admins absent from the result keep fanout 1 at the caller (cold
    admins pay zero polygon replication). Deterministic seed → resume-
    safe. Same count-proportional shape as skew.hot_cell_map."""
    est = (pts.sample(sample_fraction, seed=42)
           .join(cov, "cell", "inner")
           .groupBy("admin_id")
           .agg((F.count("*") / sample_fraction).alias("__est")))
    return (est.where(F.col("__est") > target_rows)
            .select("admin_id",
                    F.least(F.ceil(F.col("__est") / target_rows),
                            F.lit(max_salt)).cast("int")
                    .alias("__fanout")))


def point_in_polygon_join_bulk(spark: SparkSession, points: DataFrame,
                               polygons: DataFrame, level: int = 8,
                               lat_col: str = "lat", lon_col: str = "lon",
                               point_id_col: str = "url",
                               cell_col: str | None = None,
                               refine_salt: int | str = 16,
                               target_refine_rows: int = 250_000,
                               max_refine_salt: int = 256,
                               salt_sample_fraction: float = 0.05
                               ) -> DataFrame:
    """PIP join for LARGE polygon sets (the driver-side covering loop in
    `point_in_polygon_join` is right for broadcast-scale dims; at ~50k+
    admin polygons it serializes minutes of numpy on the driver and the
    per-polygon bbox OR-chain stops helping).

    polygons: a Spark DataFrame (admin_id string, ring_lat array<double>,
    ring_lon array<double>[, hole_lat array<array<double>>,
    hole_lon array<array<double>>]) — outer ring plus optional hole
    rings per admin; containment is even-odd across rings, antimeridian
    rings unwrap, exactly like the driver-side variant.

    Plan shape, stage by stage:
      1. covering cells + interior flags computed DISTRIBUTED — one
         mapInPandas over the polygon table runs the same numpy kernels
         (polygon_covering_cells / classify_interior_cells) per polygon;
         output (admin_id, cell, interior) is a shuffle-scale table, not a
         driver structure.
      2. points encode to the same level (skipped when `cell_col` is
         given) and equi-join on cell — Catalyst picks broadcast vs
         shuffled join from the covering's actual size, and AQE splits
         skewed dense cells.
      3. interior-cell candidates are accepted outright; boundary
         candidates refine in applyInPandas grouped by
         (admin_id, salt) — the salt bounds any one country's group size,
         and rings reach the refine via a salt-replicated cogroup (the
         FACT side never moves to the driver).

    ``refine_salt``: an int applies that static salt per admin;
    ``"auto"`` (the 100 TB path) sizes the salt PER ADMIN from a sampled
    per-admin candidate count — one giant polygon with dense candidates
    (Russia against a city-heavy crawl) gets ``ceil(est_candidates /
    target_refine_rows)`` reducers (≤ ``max_refine_salt``) while cold
    admins keep salt 1 and pay zero replication, the same
    count-proportional shape as skew.hot_cell_map."""
    has_holes = ("hole_lat" in polygons.columns
                 and "hole_lon" in polygons.columns)
    cols = ["admin_id", "ring_lat", "ring_lon"] + \
        (["hole_lat", "hole_lon"] if has_holes else [])
    rows = polygons.select(*cols)

    def _row_rings(r):
        rr = [_unwrap_ring(r.ring_lat, r.ring_lon)]
        if has_holes and r.hole_lat is not None:
            for hla, hlo in zip(r.hole_lat, r.hole_lon):
                rr.append(_unwrap_ring(hla, hlo))
        return rr

    def cov_fn(batches):
        for pdf in batches:
            out_admin, out_cell, out_int = [], [], []
            for r in pdf.itertuples(index=False):
                rr = _row_rings(r)
                cells = polygon_covering_cells(r.ring_lat, r.ring_lon, level)
                interior = classify_interior_cells(cells, rr, level)
                out_admin.extend([r.admin_id] * len(cells))
                out_cell.extend(np.asarray(cells, np.uint64)
                                .astype(np.int64).tolist())
                out_int.extend(interior.tolist())
            yield pd.DataFrame({"admin_id": out_admin, "cell": out_cell,
                                "interior": out_int})

    cov = rows.mapInPandas(
        cov_fn, "admin_id string, cell long, interior boolean")

    adaptive = refine_salt == "auto"
    if adaptive:
        # the sampled count pre-pass below re-reads the covering — pin it
        # so the (expensive) per-polygon covering kernels run once
        cov = cov.localCheckpoint(eager=True)

    pts = points.select(
        F.col(point_id_col).alias("point_id"),
        F.col(lat_col).alias("lat"), F.col(lon_col).alias("lon"),
        *([F.col(cell_col).alias("cell")] if cell_col else []))
    if not cell_col:
        from cartwright_spark.spatial.udfs import with_s2_cell
        pts = with_s2_cell(pts, "lat", "lon", level, "cell")
    cand = pts.join(cov, "cell", "inner")

    # single-branch plan: the interior flag rides every candidate row into
    # the grouped refine (interior rows pass through without ray casting).
    # Splitting into an accepted branch + a refined branch and unioning
    # would evaluate the point scan + encode + candidate join once per
    # branch — measured 2× the whole query (same finding as the
    # driver-side variant).
    # output schema follows the caller's id type (a hardcoded string id
    # crashed on bigint point ids)
    pid_type = dict(pts.dtypes)["point_id"]

    # rings reach the refine through a COGROUP, never the driver (VERDICT
    # r2: the old full-dim `rows.collect()` broadcast was a driver-OOM
    # edge at the GB-scale polygon dims this function exists for). The
    # polygon table is replicated across the salt domain — per-admin
    # fanout × ring rows through the shuffle, executor-to-executor — so
    # each (admin_id, __salt) candidate group meets exactly one ring row
    # of its polygon on the reducer.
    if adaptive:
        fanout_map = _refine_salt_map(pts, cov, target_refine_rows,
                                      max_refine_salt,
                                      salt_sample_fraction)
        fan = F.coalesce(F.col("__fanout"), F.lit(1))
        salted = (cand.join(F.broadcast(fanout_map), "admin_id", "left")
                  .withColumn("__salt",
                              F.pmod(F.hash("point_id"), fan).cast("int"))
                  .drop("__fanout"))
        poly_salted = (rows.join(F.broadcast(fanout_map), "admin_id",
                                 "left")
                       .withColumn("__salt", F.explode(
                           F.sequence(F.lit(0), fan - 1)))
                       .drop("__fanout"))
    else:
        salted = cand.withColumn(
            "__salt", F.pmod(F.hash("point_id"), F.lit(refine_salt)))
        poly_salted = rows.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0),
                                           F.lit(refine_salt - 1))))

    def refine_fn(cand_pdf: pd.DataFrame,
                  poly_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cand_pdf) or not len(poly_pdf):
            return pd.DataFrame({"point_id": pd.Series(dtype=object),
                                 "admin_id": pd.Series(dtype=object)})
        rr = _row_rings(next(poly_pdf.itertuples(index=False)))
        ok = cand_pdf["interior"].to_numpy(bool).copy()
        todo = ~ok
        if todo.any():
            ok[todo] = multi_ring_contains(
                rr, cand_pdf.loc[todo, "lat"].to_numpy(),
                cand_pdf.loc[todo, "lon"].to_numpy())
        return cand_pdf.loc[ok, ["point_id", "admin_id"]]

    return salted.groupBy("admin_id", "__salt").cogroup(
        poly_salted.groupBy("admin_id", "__salt")).applyInPandas(
        refine_fn, f"point_id {pid_type}, admin_id string")


def brute_force_pip(points: pd.DataFrame, polygons: pd.DataFrame,
                    lat_col="lat", lon_col="lon",
                    point_id_col="point_id") -> set[tuple]:
    """Oracle: plain double loop over polygons (tests only). Same even-odd +
    unwrap rules, implemented directly on the raw ring arrays."""
    out = set()
    for r in polygons.itertuples(index=False):
        ok = multi_ring_contains(_rings_of(r),
                                 points[lat_col].to_numpy(),
                                 points[lon_col].to_numpy())
        for pid in points.loc[ok, point_id_col]:
            out.add((pid, r.admin_id))
    return out
