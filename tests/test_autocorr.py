"""Moran's I: numpy-reference parity, sign behaviour, longitude wrap."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from cartwright_spark.spatial.autocorr import cell_counts, morans_i


def _reference_moran(counts: dict[tuple[int, int], int], ncols: int):
    """Direct-definition Moran's I (binary 8-neighbour weights, occupied
    cells, lon wrap) — independent of the engine's moment identity."""
    cells = sorted(counts)
    x = np.array([counts[c] for c in cells], dtype=float)
    m = x.mean()
    num = 0.0
    w_sum = 0
    for i, (r, c) in enumerate(cells):
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                if (dr, dc) == (0, 0):
                    continue
                nb = (r + dr, ((c + dc) % ncols + ncols) % ncols)
                if nb in counts:
                    j = cells.index(nb)
                    num += (x[i] - m) * (x[j] - m)
                    w_sum += 1
    den = ((x - m) ** 2).sum()
    return (len(cells) / w_sum) * num / den


def _pts(spark, rows):
    return spark.createDataFrame(rows, "lat double, lon double")


def _global_i(df):
    return df.select("morans_i").head()[0]


def test_matches_reference_definition(spark):
    rng = np.random.default_rng(7)
    lat = rng.uniform(-89.9, 89.9, 400)
    lon = rng.uniform(-179.9, 179.9, 400)
    rows = [(float(a), float(b)) for a, b in zip(lat, lon)]
    out = morans_i(_pts(spark, rows), cell_deg=30.0).toPandas()
    counts = {}
    for a, b in rows:
        counts[(int((a + 90) // 30), int((b + 180) // 30))] = \
            counts.get((int((a + 90) // 30), int((b + 180) // 30)), 0) + 1
    expect = _reference_moran(counts, ncols=12)
    assert out["morans_i"].iloc[0] == pytest.approx(expect, rel=1e-9)
    # every row carries the same global statistic
    assert out["morans_i"].nunique() == 1
    # local terms sum to num/m2 -> n * I * (W/n) consistency:
    # sum(local) = I * W  (standard LISA decomposition)
    w = out["deg"].sum()
    assert out["local_i"].sum() == pytest.approx(expect * w, rel=1e-9)


def test_clustered_positive_dispersed_negative(spark):
    # clustered: a dense 2x2 block of hot cells amid cold occupied cells
    hot = [(2.0 + i * 0.01, 2.0) for i in range(60)] \
        + [(7.0 + i * 0.01, 2.0) for i in range(60)] \
        + [(2.0 + i * 0.01, 7.0) for i in range(60)] \
        + [(7.0 + i * 0.01, 7.0) for i in range(60)]
    cold = [(float(la) + 0.5, float(lo) + 0.5)
            for la in range(-60, 60, 5) for lo in range(20, 60, 5)]
    clustered = _global_i(morans_i(_pts(spark, hot + cold), cell_deg=5.0))
    assert clustered > 0.3
    # dispersed: alternating column stripes — under queen (8-neighbour)
    # contiguity 6 of 8 neighbours are the opposite stripe (a checkerboard
    # would NOT work: its 4 diagonal neighbours are same-coloured, I ~ 0)
    board = []
    for r in range(8):
        for c in range(8):
            n = 2 if c % 2 == 0 else 1
            board += [(r * 5.0 + 2.0 + k * 0.01, c * 5.0 + 2.0)
                      for k in range(n)]
    dispersed = _global_i(morans_i(_pts(spark, board), cell_deg=5.0))
    assert dispersed < -0.3


def test_longitude_wrap_is_adjacent(spark):
    # two occupied cells, one at col 0 and one at col 71 (cell_deg=5):
    # wrap makes them neighbours -> deg == 1 for both
    rows = [(0.5, -179.5), (0.5, 179.5)]
    out = morans_i(_pts(spark, rows), cell_deg=5.0).toPandas()
    assert sorted(out["cell_col"]) == [0, 71]
    assert list(out["deg"]) == [1, 1]


def test_cell_counts_bounded_by_grid(spark):
    rng = np.random.default_rng(1)
    rows = [(float(a), float(b))
            for a, b in zip(rng.uniform(-89, 89, 3000),
                            rng.uniform(-179, 179, 3000))]
    cells = cell_counts(_pts(spark, rows), cell_deg=30.0)
    assert cells.count() <= 6 * 12
    assert cells.agg(F.sum("x")).head()[0] == 3000


# ---------------------------------------------------------------------------
# Getis-Ord Gi* (getis_ord_gistar)
# ---------------------------------------------------------------------------

def test_gistar_hand_computed(spark):
    """3 occupied cells: (0,0) x=4 and (0,1) x=2 adjacent, (5,5) x=1
    isolated. n=3, xbar=7/3, S=sqrt(14)/3; both adjacent cells get
    Gi* = 4/sqrt(14), the isolated one -4/sqrt(14)."""
    import math

    from cartwright_spark.spatial.autocorr import getis_ord_gistar

    rows = ([(-88.0, -178.0)] * 4 + [(-88.0, -173.0)] * 2
            + [(-63.0, -153.0)])
    out = getis_ord_gistar(_pts(spark, rows), cell_deg=5.0).toPandas()
    got = {(r.cell_row, r.cell_col): r.gi_star for r in out.itertuples()}
    assert abs(got[(0, 0)] - 4 / math.sqrt(14)) < 1e-12
    assert abs(got[(0, 1)] - 4 / math.sqrt(14)) < 1e-12
    assert abs(got[(5, 5)] + 4 / math.sqrt(14)) < 1e-12


def test_gistar_single_cell_is_null(spark):
    """n_cells == 1: the (n-1) divisor is nullif-guarded, not NaN."""
    from cartwright_spark.spatial.autocorr import getis_ord_gistar

    out = getis_ord_gistar(_pts(spark, [(0.5, 0.5)] * 3),
                           cell_deg=5.0).toPandas()
    assert len(out) == 1 and out["gi_star"].isna().all()


def test_gistar_hotspot_band_scores_high(spark):
    """A dense band plus sparse background: the band's cells must carry
    the top z-scores and clear the classic 1.96 hotspot threshold."""
    from cartwright_spark.spatial.autocorr import getis_ord_gistar

    rng = np.random.default_rng(7)
    band = [(float(a), float(b))
            for a, b in zip(rng.uniform(41, 49, 2000),
                            rng.uniform(11, 19, 2000))]
    bg = [(float(a), float(b))
          for a, b in zip(rng.uniform(-89, 89, 2000),
                          rng.uniform(-179, 179, 2000))]
    out = getis_ord_gistar(_pts(spark, band + bg), cell_deg=5.0).toPandas()
    hot = out[(out.cell_row >= 26) & (out.cell_row <= 27)
              & (out.cell_col >= 38) & (out.cell_col <= 39)]
    assert (hot["gi_star"] > 1.96).all()
    assert out["gi_star"].max() == hot["gi_star"].max()


def _gistar_grids():
    """(cell_deg, [(row, col, x)]) cases for the numpy/SQL Gi*
    differential: seeded random grids with both wrap columns (0 and
    ncols-1) occupied side by side, a fully occupied 4-column grid, one
    cell (n = 1: NULL), a fully occupied 2x2 grid, a 1-column grid and a
    constant surface (S = 0: NULL)."""
    rng = np.random.default_rng(11)
    cases = []
    for cell_deg, n_cells, rows in ((5.0, 150, 36), (360.0 / 256, 400, 30),
                                    (30.0, 40, 6), (5.0, 60, 3)):
        ncols = int(round(360.0 / cell_deg))
        cells = {(int(r), int(c)): int(x) for r, c, x in zip(
            rng.integers(0, rows, n_cells), rng.integers(0, ncols, n_cells),
            rng.integers(1, 10**6, n_cells))}
        for r in range(2):
            cells[(r, 0)] = int(rng.integers(1, 50))
            cells[(r, ncols - 1)] = int(rng.integers(1, 50))
        cases.append((cell_deg, [(r, c, x) for (r, c), x in cells.items()]))
    cases.append((90.0, [(r, c, int(x)) for r in range(2) for c, x in
                         zip(range(4), rng.integers(1, 9, 4))]))
    cases.append((5.0, [(3, 7, 5)]))
    # one and two columns: the wrapped offsets land on the same neighbour
    cases.append((180.0, [(r, c, int(x)) for r in range(2) for c, x in
                          zip(range(2), rng.integers(1, 9, 2))]))
    cases.append((360.0, [(r, 0, int(x)) for r, x in
                          enumerate(rng.integers(1, 9, 5))]))
    cases.append((10.0, [(r, c, 7) for r in range(4) for c in range(0, 36, 5)]))
    return cases


def test_gistar_numpy_bit_identical_to_sql(spark):
    """The driver kernel gistar_numpy gives the distributed
    gistar_from_cells plan's deg, s and gi_star bit for bit, and NULL
    (not NaN) exactly where the plan is NULL."""
    import pandas as pd

    from cartwright_spark.spatial.autocorr import (gistar_from_cells,
                                                   gistar_numpy)

    for cell_deg, cells in _gistar_grids():
        want = gistar_from_cells(spark.createDataFrame(
            cells, "cell_row bigint, cell_col bigint, x bigint"),
            cell_deg=cell_deg).collect()
        row, col, x = (np.array(v, np.int64) for v in zip(*cells))
        deg, s, gi = gistar_numpy(row, col, x, cell_deg)
        assert isinstance(gi.dtype, pd.Float64Dtype)
        got = {(int(r), int(c)): (int(d), int(t), None if g is pd.NA else g)
               for r, c, d, t, g in zip(row, col, deg, s, gi)}
        assert len(want) == len(got)
        for w in want:
            d, t, g = got[(w["cell_row"], w["cell_col"])]
            assert (d, t) == (w["deg"], w["s"])
            assert w["gi_star"] is None or np.isfinite(w["gi_star"])
            if w["gi_star"] is None:
                assert g is None
            else:
                assert g is not None and np.float64(g).tobytes() == \
                    np.float64(w["gi_star"]).tobytes()
    # a neighbour counts once where the column wrap repeats it
    assert gistar_numpy([0, 0, 1, 1], [0, 1, 0, 1], [1, 2, 3, 4],
                        180.0)[0].tolist() == [3, 3, 3, 3]
    assert gistar_numpy([0, 1, 2], [0, 0, 0], [1, 2, 3],
                        360.0)[0].tolist() == [1, 2, 1]
    # one cell and a constant surface are NULL, not only equal to SQL
    assert gistar_numpy([3], [7], [5], 5.0)[2].isna().all()
    assert gistar_numpy([0, 0, 1], [0, 35, 0], [7, 7, 7], 10.0)[2].isna().all()


# ---------------------------------------------------------------------------
# KDE heatmap (spatial/kde.py)
# ---------------------------------------------------------------------------

def _kde_q(num, den):
    """DECIMAL(38,12) quantization of num/den, as the engine computes."""
    from decimal import Decimal, ROUND_HALF_UP
    return Decimal(repr(num / den)).quantize(
        Decimal("1e-12"), rounding=ROUND_HALF_UP)


def test_kde_single_source_k1(spark):
    """One point in cell (0,0), k=1: row -1 clipped, col wraps to 71,
    weights 1, 1/2, 1/3 by squared offset."""
    from cartwright_spark.spatial.kde import kde_heatmap

    out = kde_heatmap(_pts(spark, [(-88.0, -178.0)]),
                      cell_deg=5.0, k=1).toPandas()
    got = {(r.cell_row, r.cell_col): r.density for r in out.itertuples()}
    assert set(got) == {(0, 0), (0, 1), (0, 71), (1, 0), (1, 1), (1, 71)}
    assert got[(0, 0)] == 1.0
    assert got[(0, 1)] == got[(0, 71)] == got[(1, 0)] == 0.5
    assert abs(got[(1, 1)] - float(_kde_q(1, 3))) < 1e-15
    assert abs(got[(1, 71)] - float(_kde_q(1, 3))) < 1e-15


def test_kde_two_sources_sum_exact(spark):
    """Cells (0,0) x=3 and (0,2) x=5 both reach (0,1) at distance 1:
    density there is exactly 3/2 + 5/2 = 4.0 with n_src = 2."""
    from cartwright_spark.spatial.kde import kde_heatmap

    rows = [(-88.0, -178.0)] * 3 + [(-88.0, -168.0)] * 5
    out = kde_heatmap(_pts(spark, rows), cell_deg=5.0, k=1).toPandas()
    mid = out[(out.cell_row == 0) & (out.cell_col == 1)].iloc[0]
    assert mid["n_src"] == 2 and mid["density"] == 4.0


def test_kde_partition_layout_invariant(spark):
    """Decimal terms make the density independent of partitioning."""
    from cartwright_spark.spatial.kde import kde_heatmap

    rng = np.random.default_rng(3)
    rows = [(float(a), float(b))
            for a, b in zip(rng.uniform(-89, 89, 4000),
                            rng.uniform(-179, 179, 4000))]
    pts = _pts(spark, rows)
    a = kde_heatmap(pts.repartition(1), cell_deg=10.0, k=2).toPandas()
    b = kde_heatmap(pts.repartition(37), cell_deg=10.0, k=2).toPandas()
    ka = {(r.cell_row, r.cell_col): r.density for r in a.itertuples()}
    kb = {(r.cell_row, r.cell_col): r.density for r in b.itertuples()}
    assert ka == kb


# ---------------------------------------------------------------------------
# Mann-Kendall emerging-hotspot trend (spatial/trend.py)
# ---------------------------------------------------------------------------

def _traj_pts(spark, rows):
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["ts", "lat", "lon"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf)


def test_mann_kendall_rising_and_falling(spark):
    """Cell A: daily counts 1,2,3 -> S=3, no ties, var=11/3,
    z=2/sqrt(11/3). Cell B: 5,3,1 -> S=-3, z=-2/sqrt(11/3)."""
    import math

    from cartwright_spark.spatial.trend import mann_kendall_trend

    rows = []
    for day, n in [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3)]:
        rows += [(day, 5.0, 5.0)] * n          # cell A
    for day, n in [("2024-01-01", 5), ("2024-01-02", 3), ("2024-01-03", 1)]:
        rows += [(day, 5.0, 55.0)] * n         # cell B
    out = mann_kendall_trend(_traj_pts(spark, rows),
                             cell_deg=10.0).toPandas()
    got = {(r.cell_row, r.cell_col): r for r in out.itertuples()}
    a, b = got[(9, 18)], got[(9, 23)]
    z = 2 / math.sqrt(11 / 3)
    assert a.s_stat == 3 and a.tie_term == 0 and a.n_bins == 3
    assert abs(a.mk_z - z) < 1e-12
    assert b.s_stat == -3 and abs(b.mk_z + z) < 1e-12


def test_mann_kendall_all_tied_is_null(spark):
    """Counts 2,2: S=0 and the tie term cancels var -> mk_z NULL."""
    from cartwright_spark.spatial.trend import mann_kendall_trend

    rows = ([("2024-01-01", 5.0, 5.0)] * 2 + [("2024-01-02", 5.0, 5.0)] * 2)
    out = mann_kendall_trend(_traj_pts(spark, rows),
                             cell_deg=10.0).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["s_stat"] == 0 and r["tie_term"] == 18 and r["n_bins"] == 2
    assert out["mk_z"].isna().all()


def test_mann_kendall_single_bin_is_null(spark):
    from cartwright_spark.spatial.trend import mann_kendall_trend

    out = mann_kendall_trend(_traj_pts(spark, [("2024-01-01", 5.0, 5.0)]),
                             cell_deg=10.0).toPandas()
    assert len(out) == 1 and out["mk_z"].isna().all()


def test_kde_rejects_stencil_wider_than_grid(spark):
    """cell_deg=90 -> 4 columns; k=2's 5-wide stencil would wrap one
    source onto the same target twice — must raise, not double-count."""
    import pytest

    from cartwright_spark.spatial.kde import kde_heatmap

    with pytest.raises(ValueError, match="stencil"):
        kde_heatmap(_pts(spark, [(0.5, 0.5)]), cell_deg=90.0, k=2)


def test_theil_sen_hand_cases(spark):
    """Counts 1,2,4 over days 0-2: slopes {1, 1.5, 2} -> median 1.5.
    Counts 1,2,4,8 over days 0-3: six slopes sorted
    [1, 1.5, 2, 7/3, 3, 4] -> lower median (rank 3) = 2.0."""
    from cartwright_spark.spatial.trend import theil_sen_slope

    rows = []
    for day, n in [("2024-01-01", 1), ("2024-01-02", 2),
                   ("2024-01-03", 4)]:
        rows += [(day, 5.0, 5.0)] * n              # cell (9, 18)
    for day, n in [("2024-01-01", 1), ("2024-01-02", 2),
                   ("2024-01-03", 4), ("2024-01-04", 8)]:
        rows += [(day, 5.0, 55.0)] * n             # cell (9, 23)
    out = theil_sen_slope(_traj_pts(spark, rows), cell_deg=10.0).toPandas()
    got = {(r.cell_row, r.cell_col): r for r in out.itertuples()}
    assert got[(9, 18)].n_pairs == 3 and got[(9, 18)].sen_slope == 1.5
    assert got[(9, 23)].n_pairs == 6 and got[(9, 23)].sen_slope == 2.0


def test_theil_sen_single_bin_empty(spark):
    """One bin -> no pairs -> the cell is absent (no slope exists)."""
    from cartwright_spark.spatial.trend import theil_sen_slope

    out = theil_sen_slope(_traj_pts(spark, [("2024-01-01", 5.0, 5.0)]),
                          cell_deg=10.0).toPandas()
    assert len(out) == 0


# ---------------------------------------------------------------------------
# Colocation lift (spatial/colocation.py)
# ---------------------------------------------------------------------------

def test_colocation_lift_hand_case(spark):
    """4 occupied cells; A in {1,2,3}, B in {1,2}, C in {4}.
    lift(A,B) = (2*4)/(3*2) = 4/3; (A,C) and (B,C) never co-occur."""
    import pandas as pd

    from cartwright_spark.spatial.colocation import colocation_lift

    cellpts = {1: (-88.0, -178.0), 2: (-88.0, -168.0),
               3: (-88.0, -158.0), 4: (-88.0, -148.0)}
    rows = [("A", *cellpts[1]), ("A", *cellpts[2]), ("A", *cellpts[3]),
            ("B", *cellpts[1]), ("B", *cellpts[2]),
            ("C", *cellpts[4]),
            ("A", *cellpts[1])]          # duplicate presence ignored
    pdf = pd.DataFrame(rows, columns=["category", "lat", "lon"])
    out = colocation_lift(spark.createDataFrame(pdf),
                          cell_deg=10.0).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["cat_a"], r["cat_b"]) == ("A", "B")
    assert (r["n_both"], r["n_a"], r["n_b"], r["n_cells"]) == (2, 3, 2, 4)
    assert abs(r["lift"] - 8 / 6) < 1e-15


def test_knox_hand_case(spark):
    """4 points, 2 cells x 2 days: cell A holds both day-1 points and
    one day-2 point; cell B one day-2 point. X = C(2,2 grouping) ->
    (A,d1)=2 gives 1 pair; S = C(3,2)=3; T = C(2,2)+C(2,2)=2;
    P = C(4,2)=6 -> knox = 1*6/(3*2) = 1.0."""
    from cartwright_spark.spatial.colocation import knox_statistic

    rows = [("2024-01-01", 5.0, 5.0), ("2024-01-01", 5.5, 5.5),
            ("2024-01-02", 5.0, 5.0), ("2024-01-02", 5.0, 55.0)]
    out = knox_statistic(_traj_pts(spark, rows), cell_deg=10.0).collect()
    r = out[0]
    assert (r["n"], r["p_pairs"], r["x_pairs"], r["s_pairs"],
            r["t_pairs"]) == (4, 6, 1, 3, 2)
    assert r["knox_ratio"] == 1.0


def test_knox_detects_interaction(spark):
    """Perfect interaction (each day has its own cell) vs independence
    (every (cell, day) combination equally filled): the first scores
    well above 1, the second near 1 (S*T/P is the asymptotic
    expectation — at n=12 the balanced layout gives exactly
    12*66/900 = 0.88)."""
    from cartwright_spark.spatial.colocation import knox_statistic

    inter = []
    for d, day in enumerate(["2024-01-01", "2024-01-02", "2024-01-03"]):
        inter += [(day, 5.0, 5.0 + 10.0 * d)] * 5
    r1 = knox_statistic(_traj_pts(spark, inter), cell_deg=10.0).collect()[0]
    assert r1["knox_ratio"] > 2.0

    indep = []
    for day in ["2024-01-01", "2024-01-02"]:
        for c in range(2):
            indep += [(day, 5.0, 5.0 + 10.0 * c)] * 3
    r2 = knox_statistic(_traj_pts(spark, indep), cell_deg=10.0).collect()[0]
    assert abs(r2["knox_ratio"] - 12 * 66 / 900) < 1e-12
    assert r1["knox_ratio"] > 2.5 * r2["knox_ratio"]


def test_idw_hand_case(spark):
    """One sampled cell (value mean 6.0 from samples 4 and 8), k=1:
    every reached cell estimates ~6.0 (single source -> est = mv up to
    the 1e-12 decimal quantization of num and den: the corner weight
    1/3 rounds, so 2.0/0.333333333333 = 6.000000000006)."""
    import pandas as pd

    from cartwright_spark.spatial.kde import idw_interpolate

    pdf = pd.DataFrame({"lat": [-88.0, -88.0], "lon": [-178.0, -178.0],
                        "value": [4.0, 8.0]})
    out = idw_interpolate(spark.createDataFrame(pdf), "value",
                          cell_deg=5.0, k=1).toPandas()
    assert len(out) == 6 and ((out["est"] - 6.0).abs() < 1e-9).all()


def test_idw_two_sources_weighted(spark):
    """Cells (0,0)=10.0 and (0,2)=20.0, k=2: target (0,1) sees both at
    distance 1 (w=1/2 each) -> est = 15.0 exactly; each sampled cell
    also sees the other at d^2=4 (w=1/5)."""
    import pandas as pd

    from cartwright_spark.spatial.kde import idw_interpolate

    pdf = pd.DataFrame({
        "lat": [-88.0, -88.0], "lon": [-178.0, -168.0],
        "value": [10.0, 20.0]})
    out = idw_interpolate(spark.createDataFrame(pdf), "value",
                          cell_deg=5.0, k=2).toPandas()
    mid = out[(out.cell_row == 0) & (out.cell_col == 1)].iloc[0]
    assert mid["n_src"] == 2 and mid["est"] == 15.0
    corner = out[(out.cell_row == 0) & (out.cell_col == 0)].iloc[0]
    # the sampled cell itself: w(self)=1 vs w(other)=1/5 (d^2=4)
    assert abs(corner["est"] - (10.0 + 20.0 / 5) / (1 + 1 / 5)) < 1e-11


def test_ripley_k_hand_case(spark):
    """2 points in one cell + 1 point two columns away (d2=4), 10-deg
    grid (648 cells): d2=0 ordered pairs = 2 (the co-cell pair both
    ways), d2=4 pairs = 4 (2x1 both directions x ordered), K_hat
    cumulates with area/(n(n-1)) = 648/6 normalization."""
    from cartwright_spark.spatial.autocorr import ripley_k

    rows = [(-85.0, -175.0), (-85.0, -175.0), (-85.0, -155.0)]
    out = ripley_k(_pts(spark, rows), cell_deg=10.0, k=3).toPandas()
    got = {int(r.d2): r for r in out.itertuples()}
    assert got[0].pairs_at == 2 and got[0].cum_pairs == 2
    assert got[4].pairs_at == 4 and got[4].cum_pairs == 6
    assert abs(got[0].k_hat - 648 * 2 / 6) < 1e-12
    assert abs(got[4].k_hat - 648.0) < 1e-12
    # rings with no pairs are absent; cum still monotone over present rings
    assert list(out.sort_values("d2")["cum_pairs"]) == \
        sorted(out["cum_pairs"])


def test_ripley_k_uniform_vs_clustered(spark):
    """K_hat at small radius is far larger for a clustered pattern than
    for a near-uniform one (the classic K-function diagnostic)."""
    from cartwright_spark.spatial.autocorr import ripley_k

    rng = np.random.default_rng(5)
    uni = [(float(a), float(b))
           for a, b in zip(rng.uniform(-85, 85, 2000),
                           rng.uniform(-175, 175, 2000))]
    clu = [(float(a), float(b))
           for a, b in zip(rng.uniform(0, 9, 2000),
                           rng.uniform(0, 9, 2000))]
    ku = ripley_k(_pts(spark, uni), cell_deg=10.0, k=2).toPandas()
    kc = ripley_k(_pts(spark, clu), cell_deg=10.0, k=2).toPandas()
    k0u = ku[ku.d2 == 0]["k_hat"].iloc[0]
    k0c = kc[kc.d2 == 0]["k_hat"].iloc[0]
    assert k0c > 50 * k0u


def _reference_geary(counts, ncols):
    """Direct-definition Geary's C (binary 8-neighbour weights,
    occupied cells, lon wrap) — independent of the moment identity."""
    cells = sorted(counts)
    x = np.array([counts[c] for c in cells], dtype=float)
    m = x.mean()
    num = 0.0
    w_sum = 0
    local = {}
    for i, (r, c) in enumerate(cells):
        li = 0.0
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                if (dr, dc) == (0, 0):
                    continue
                nb = (r + dr, ((c + dc) % ncols + ncols) % ncols)
                if nb in counts:
                    j = cells.index(nb)
                    li += (x[i] - x[j]) ** 2
                    w_sum += 1
        num += li
        local[(r, c)] = li
    den = ((x - m) ** 2).sum()
    m2 = den / len(cells)
    c_stat = ((len(cells) - 1) / (2 * w_sum)) * num / den
    return c_stat, {k: v / m2 for k, v in local.items()}


def test_geary_matches_reference_definition(spark):
    from cartwright_spark.spatial.autocorr import gearys_c
    rng = np.random.default_rng(11)
    lat = rng.uniform(-89.9, 89.9, 400)
    lon = rng.uniform(-179.9, 179.9, 400)
    rows = [(float(a), float(b)) for a, b in zip(lat, lon)]
    out = gearys_c(_pts(spark, rows), cell_deg=30.0).toPandas()
    counts = {}
    for a, b in rows:
        key = (int((a + 90) // 30), int((b + 180) // 30))
        counts[key] = counts.get(key, 0) + 1
    expect_c, expect_local = _reference_geary(counts, ncols=12)
    assert out["gearys_c"].iloc[0] == pytest.approx(expect_c, rel=1e-9)
    assert out["gearys_c"].nunique() == 1
    for _, r in out.iterrows():
        assert r["local_c"] == pytest.approx(
            expect_local[(r["cell_row"], r["cell_col"])], rel=1e-9)


def test_geary_clustered_below_one_dispersed_above(spark):
    from cartwright_spark.spatial.autocorr import gearys_c
    # smooth gradient: neighbours alike -> C < 1
    smooth = [(float(r * 10 - 85 + 0.01 * k), float(c * 10 - 175))
              for r in range(6) for c in range(6)
              for k in range(r + c + 1)]
    # checkerboard: neighbours maximally unlike -> C > 1
    checker = [(float(r * 10 - 85), float(c * 10 - 175))
               for r in range(6) for c in range(6)
               for _ in range(1 + 9 * ((r + c) % 2))]
    c_smooth = gearys_c(_pts(spark, smooth), cell_deg=10.0) \
        .select("gearys_c").head()[0]
    c_checker = gearys_c(_pts(spark, checker), cell_deg=10.0) \
        .select("gearys_c").head()[0]
    assert c_smooth < 1.0 < c_checker


def test_geary_constant_surface_is_null(spark):
    from cartwright_spark.spatial.autocorr import gearys_c
    rows = [(float(r * 10 - 85), float(c * 10 - 175))
            for r in range(3) for c in range(3)]
    out = gearys_c(_pts(spark, rows), cell_deg=10.0).toPandas()
    assert out["gearys_c"].isna().all()  # zero variance -> NULL
