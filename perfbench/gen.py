"""Seeded input generators for the three workloads.

Every input is a pure function of (seed, size), built with numpy's
``default_rng`` on the driver, so one seed always gives the same pages,
tables, points, polygons and regions. The engine only ever receives the
generated inputs; the ground truth each generator also returns stays in
the benchmark and feeds the output checks.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

# (lat0, lon0, lat1, lon1) — the same land boxes the engine's own synthetic
# corpus spreads its non-hot coordinates over
LAND_BOXES = [(-35.0, 10.0, 60.0, 40.0), (25.0, -110.0, 49.0, -70.0),
              (-30.0, 115.0, -12.0, 150.0), (5.0, 70.0, 30.0, 90.0),
              (35.0, -10.0, 60.0, 30.0)]
# spans the antimeridian (lon 170 → 190 ≡ -170), for the wrapped polygons
PACIFIC_BOX = (-25.0, 170.0, -10.0, 190.0)
HOT_SHARE = 0.2          # share of coordinates in the three hot boxes
HOT_HALF_DEG = 0.05      # hot boxes are 0.1° × 0.1°

_LANGS = ["en", "es", "fr", "de", "pt"]
_CATEGORIES = ["news", "blog", "wiki", "shop", "forum"]
_DATE_FMTS = ["%Y-%m-%d", "%m/%d/%Y", "%d %B %Y", "%B %d, %Y", "%Y/%m/%d"]
_PROSE = ["the river runs past the old mill", "markets opened higher today",
          "a recipe for winter stew", "local teams drew at the stadium",
          "notes on distributed query engines", "travel tips for the north"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _wrap_lon(lon: np.ndarray) -> np.ndarray:
    return ((lon + 180.0) % 360.0) - 180.0


def coordinates(rng: np.random.Generator, n: int,
                boxes: list[tuple]) -> tuple[np.ndarray, np.ndarray]:
    """n (lat, lon) pairs, rounded to 6 decimals: HOT_SHARE of them in the
    gazetteer's three hot boxes (hot-cell skew), the rest uniform over
    ``boxes``. Returned as the exact doubles their 6-decimal text parses to."""
    from cartwright_spark.sources.gazetteers import HOT_BOXES
    hot = np.zeros(n, bool)
    hot[rng.permutation(n)[:int(round(n * HOT_SHARE))]] = True
    centers = np.array([(b[1], b[2]) for b in HOT_BOXES])
    k = rng.integers(len(centers), size=n)
    hlat = centers[k, 0] + rng.uniform(-HOT_HALF_DEG, HOT_HALF_DEG, n)
    hlon = centers[k, 1] + rng.uniform(-HOT_HALF_DEG, HOT_HALF_DEG, n)
    b = np.array(boxes)[rng.integers(len(boxes), size=n)]
    blat = b[:, 0] + (b[:, 2] - b[:, 0]) * rng.random(n)
    blon = _wrap_lon(b[:, 1] + (b[:, 3] - b[:, 1]) * rng.random(n))
    lat = np.where(hot, hlat, blat)
    lon = np.where(hot, hlon, blon)
    # the text form is what the engine parses, so the truth is its value
    lat = np.array([float(f"{v:.6f}") for v in lat])
    lon = np.array([float(f"{v:.6f}") for v in lon])
    return lat, lon


# --------------------------------------------------------------------------
# crawl_pipeline: a pages table shaped like the engine's corpus
# --------------------------------------------------------------------------

def pages(seed: int, n: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(pages, truth). pages has the engine's PAGES_SCHEMA columns; each
    page's text carries exactly one "lat, lon" pair, whose value is in
    truth(url, lat, lon). Cities, countries, ISO3 codes and dates ride
    along so the detect stage runs its whole regex and gazetteer bank."""
    from cartwright_spark.sources.gazetteers import cities_pdf, countries_pdf
    rng = _rng(seed, 1)
    lat, lon = coordinates(rng, n, LAND_BOXES)
    cities = cities_pdf()["city"].to_numpy()
    countries = countries_pdf().to_numpy()
    city = cities[rng.integers(len(cities), size=n)]
    ctry = countries[rng.integers(len(countries), size=n)]
    day0 = datetime.datetime(2021, 1, 1)
    dsec = rng.integers(0, 4 * 365 * 86400, size=n)
    # warc timestamps over three years: the year-partitioned tables get 3-4
    # directories of 4 files each. (The engine's own corpus spreads ~31
    # years, 128 files of ~80 KB per table, and deleting one request's
    # outputs then took 0.5-2.6 s on the ext4 + discard disk measured.)
    tsec = rng.integers(0, 3 * 365 * 86400, size=n)
    fmt = rng.integers(len(_DATE_FMTS), size=n)
    prose = rng.integers(len(_PROSE), size=n)
    site = rng.integers(97, size=n)
    reading = rng.integers(997, size=n)
    district = rng.integers(89, size=n)
    urls, htmls, texts, tss, langs = [], [], [], [], []
    ts0 = datetime.datetime(2023, 1, 1)
    for i in range(n):
        date_str = (day0 + datetime.timedelta(seconds=int(dsec[i]))) \
            .strftime(_DATE_FMTS[fmt[i]])
        cname, iso2, iso3 = ctry[i][0], ctry[i][1], ctry[i][2]
        text = (f"{_PROSE[prose[i]]}. Report filed from {city[i]}, {cname} "
                f"({iso3}) on {date_str}. Station at {lat[i]:.6f}, "
                f"{lon[i]:.6f} recorded reading {reading[i] / 10.0}. "
                f"Contact office {iso2} district {district[i]}.")
        url = (f"https://site{site[i]}.example/"
               f"{_CATEGORIES[i % len(_CATEGORIES)]}/{seed}-{i}")
        html = (f"<html><head><title>t{i}</title><meta charset=\"utf-8\"/>"
                f"</head><body><nav>home | about</nav><p>{text}</p>"
                f"<footer>&copy; site{site[i]}</footer></body></html>")
        urls.append(url)
        htmls.append(html.encode("utf-8"))
        texts.append(text)
        tss.append(ts0 + datetime.timedelta(seconds=int(tsec[i])))
        langs.append(_LANGS[i % len(_LANGS)])
    pdf = pd.DataFrame({"url": urls, "warc_ts": tss, "html": htmls,
                        "text": texts, "lang": langs})
    truth = pd.DataFrame({"url": urls, "lat": lat, "lon": lon})
    return pdf, truth


# --------------------------------------------------------------------------
# categorize: uploaded CSV tables with a known label per column
# --------------------------------------------------------------------------

#: (columns, rows) of the tables one categorize cycle profiles: a wide
#: short table (per-column cost), a narrow long one (scan cost) and one
#: between, so the median request of a run falls on a table, not between
#: two cost modes.
TABLE_SHAPES = [(20, 1_000), (6, 20_000), (4, 100_000)]
TINY_TABLE_SHAPES = [(4, 300), (3, 500)]


def profile_labels():
    """The fixed label mix of one cycle: every third registry label in
    priority order, plus latitude and longitude (the spatial-resolution
    pair) — 30 labels across every label kind. A fixed mix keeps
    match_rate comparable between seeds; every validator still runs on
    every column, so the cost does not depend on which labels are in it."""
    from cartwright_spark.taxonomy.registry import ordered_labels
    specs = ordered_labels()
    pick = [sp for i, sp in enumerate(specs) if i % 3 == 0]
    return pick + [sp for sp in specs if sp.label in ("latitude", "longitude")
                   and sp not in pick]


def tables(seed: int, shapes: list[tuple[int, int]]
           ) -> list[tuple[pd.DataFrame, dict]]:
    """[(table, truth)] with truth = {column: (category, subcategory)}.

    The cycle's labels (:func:`profile_labels`, repeated or cut to the
    total width) are dealt to the tables in a fixed order, latitude and
    longitude first so the first table has the spatial-resolution pair:
    every seed gives each table the same labels, so the same resolution
    work, and a table's cost does not move with the seed. The seed orders
    the columns within a table and draws the values, from each label's
    own seeded generator: up to 1,000 distinct values per column,
    resampled to the row count."""
    rng = _rng(seed, 2)
    labels = profile_labels()
    pair = [sp for sp in labels if sp.label in ("latitude", "longitude")]
    labels = pair + [sp for sp in labels if sp not in pair]
    need = sum(w for w, _ in shapes)
    labels = (labels * (need // len(labels) + 1))[:need]
    out, pos = [], 0
    for w, n in shapes:
        specs = labels[pos:pos + w]
        pos += w
        cols, truth = {}, {}
        for j, i in enumerate(rng.permutation(w)):
            sp = specs[i]
            base = np.array(sp.generate(min(n, 1000), rng), dtype=object)
            name = f"col{j:02d}"
            cols[name] = base[rng.integers(len(base), size=n)]
            truth[name] = (sp.category, sp.subcategory)
        out.append((pd.DataFrame(cols), truth))
    return out


# --------------------------------------------------------------------------
# spatial_join: corpus points, admin-style polygons, region queries
# --------------------------------------------------------------------------

def points(seed: int, n: int) -> pd.DataFrame:
    """(url, lat, lon): HOT_SHARE in the hot boxes, the rest over the land
    boxes plus one box that spans the antimeridian."""
    rng = _rng(seed, 3)
    lat, lon = coordinates(rng, n, LAND_BOXES + [PACIFIC_BOX])
    return pd.DataFrame({"url": [f"pt{seed}-{i}" for i in range(n)],
                         "lat": lat, "lon": lon})


def _star_ring(rng, clat, clon, radius, n_vertices):
    """A simple star-shaped ring: sorted angles, jittered radius; longitudes
    re-wrapped to [-180, 180) so rings near 180° cross the antimeridian."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n_vertices))
    r = radius * rng.uniform(0.55, 1.0, n_vertices)
    lat = np.clip(clat + r * np.sin(ang), -85.0, 85.0)
    lon = _wrap_lon(clon + r * np.cos(ang) / max(np.cos(np.radians(clat)), 0.2))
    return lat.tolist(), lon.tolist()


def polygons(seed: int) -> pd.DataFrame:
    """Admin-style polygons (admin_id, ring_lat, ring_lon, hole_lat,
    hole_lon): city-sized ones on the hot boxes, region-sized ones over the
    land boxes, two across the antimeridian; 64-512 vertices each, every
    third with a hole."""
    from cartwright_spark.sources.gazetteers import HOT_BOXES
    rng = _rng(seed, 4)
    specs = [(b[1], b[2], 0.04) for b in HOT_BOXES]
    for la0, lo0, la1, lo1 in LAND_BOXES:
        for _ in range(2):
            specs.append((rng.uniform(la0 + 3, la1 - 3),
                          rng.uniform(lo0 + 3, lo1 - 3),
                          rng.uniform(3.0, 9.0)))
    specs.append((rng.uniform(-22, -13), 179.0 + rng.uniform(0, 1), 4.0))
    specs.append((rng.uniform(-22, -13), -179.0 + rng.uniform(0, 1), 2.5))
    rows = []
    for i, (clat, clon, rad) in enumerate(specs):
        rl, ro = _star_ring(rng, clat, clon, rad, int(rng.integers(64, 513)))
        hl = ho = None
        if i % 3 == 0:
            a, b = _star_ring(rng, clat, clon, rad * 0.3, 32)
            hl, ho = [a], [b]
        rows.append({"admin_id": f"admin{i:02d}", "ring_lat": rl,
                     "ring_lon": ro, "hole_lat": hl, "hole_lon": ho})
    return pd.DataFrame(rows)


POLYGON_SCHEMA = ("admin_id string, ring_lat array<double>, "
                  "ring_lon array<double>, hole_lat array<array<double>>, "
                  "hole_lon array<array<double>>")


def regions(seed: int, n: int) -> list[tuple[str, tuple | None]]:
    """n region queries as (kind, bbox or None for the whole globe) in a
    fixed cycle: the New York hot box (dense hot cells, heavy pruning), the
    Europe land box (a continent: partial pruning) and the globe (no
    pruning). Every cycle asks the same three places, so runs with
    different seeds serve the same mix; the seed jitters each box edge."""
    from cartwright_spark.sources.gazetteers import HOT_BOXES
    rng = _rng(seed, 5)
    _, hla, hlo = HOT_BOXES[0]
    cla0, clo0, cla1, clo1 = LAND_BOXES[4]
    out = []
    for i in range(n):
        kind = ("hot", "continent", "globe")[i % 3]
        if kind == "hot":
            h = 0.25 + 0.05 * rng.random(4)
            out.append((kind, (hla - h[0], hlo - h[1], hla + h[2], hlo + h[3])))
        elif kind == "continent":
            p = rng.uniform(0.0, 1.0, 4)
            out.append((kind, (cla0 - p[0], clo0 - p[1], cla1 + p[2],
                               clo1 + p[3])))
        else:
            out.append((kind, None))
    return out
