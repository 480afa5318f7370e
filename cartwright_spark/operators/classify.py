"""Column classification — the reference's main pipeline, Spark-first.

Reference lifecycle (categorize.py:430-443, SURVEY.md §3 E1): header
skip-pass → all-NaN pruning → 99-value sample per column → LSTM score →
validator cascade → header annotation → assembly. Stages 2-3 are ONE Spark
job; stages 4-5 score its ≤99 values per column on the driver:

    melt (stack: columns → (column, value) rows; nulls and NaNs dropped, so
      an all-NaN column has no rows and is pruned without a count pass)
      → deterministic top-k per column (row_number over a seeded hash;
        planned as WindowGroupLimit Partial below the Exchange, so the
        shuffle carries ≤k rows per column per partition)
      → toPandas (Arrow) → 82-label validator bank + cascade per column

The scan is the only full-data pass; scoring touches ≤99 values per column.
Deliberate deterministic substitutions for reference nondeterminism
(SURVEY.md §3 E1): seeded sampling without replacement (vs unseeded with
replacement, categorize.py:113-124), no 40 s wall-clock timeout (the
``timeout`` category is never emitted), cascade ranked by validator
pass-rate + fixed priority (vs LSTM logits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cartwright_spark.functions.fuzzy import fuzzy_match, ratio
from cartwright_spark.schemas import Classification
from cartwright_spark.taxonomy.registry import LabelSpec, ordered_labels

# reference utils.py:195-204 — classify-and-skip list (ordered; note the
# reference's lng→latitude mapping bug, reproduced verbatim per SURVEY §7.3)
SKIP_KEYWORDS: list[tuple[str, str]] = [
    ("Lat", "latitude"), ("Latitude", "latitude"), ("lng", "latitude"),
    ("lon", "longitude"), ("long", "longitude"), ("Longitude", "longitude"),
    ("ISO2", "ISO2"), ("ISO3", "ISO3"),
]

# reference utils.py:205-241 — classify-if-found annotation list (ordered;
# the reference resets fuzzyColumn on every match, so the LAST matching
# keyword wins — categorize.py:294-305)
ANNOTATE_KEYWORDS: list[str] = [
    "Date", "Datetime", "Timestamp", "Epoch", "Time", "Year", "Month",
    "Lat", "Latitude", "lng", "lon", "long", "Longitude", "Geo",
    "Coordinates", "Location", "West", "South", "East", "North",
    "Country", "CountryName", "CC", "CountryCode", "State", "City", "Town",
    "Region", "Province", "Territory", "Address", "ISO2", "ISO3",
    "ISO_code", "Results",
]
# keyword → fuzzyCategory value (utils.py list maps lng/lon/long → Lat/Lon)
ANNOTATE_VALUES: dict[str, str] = {
    "lng": "Latitude", "lon": "Longitude", "long": "Longitude",
    "Lat": "Latitude",
}

# backfill rules for value-unclassified columns (categorize.py:360-403)
_BACKFILL_TIME = {"Year", "Date", "Datetime", "Timestamp", "Epoch", "Time", "Month"}
_BACKFILL_GEO = {"Geo", "Coordinates", "Location", "Address"}
_BACKFILL_COUNTRY = {"Country", "CountryName", "CountryCode"}
_BACKFILL_PLACE = {"State", "Town", "City", "Region", "Province", "Territory"}


def read_in(spark, path: str) -> DataFrame:
    """S1: source scan (reference read_in_csv, categorize.py:109-111) —
    CSV with header inference, or parquet by extension."""
    if path.endswith((".parquet", ".pq")) or path.rstrip("/").endswith("parquet"):
        return spark.read.parquet(path)
    return spark.read.csv(path, header=True, inferSchema=True)


def header_skip_matches(columns: list[str]) -> list[dict]:
    """reference skip_matched_columns (categorize.py:330-352): fuzzy ratio
    > 90 vs the 8-keyword skip list; every match recorded, last wins."""
    matches = []
    for header in columns:
        for key, value in SKIP_KEYWORDS:
            if fuzzy_match(header, key, 90):
                matches.append({
                    "header": header, "key": key, "value": value,
                    "ratio": ratio(header.lower(), key.lower()),
                })
    return matches


def annotate_fuzzy_column(header: str) -> dict | None:
    """reference fuzzy_match_columns (categorize.py:287-328): ratio > 85 vs
    the 34-keyword list; the reference resets the match list each hit, so
    the last matching keyword is kept."""
    best = None
    for key in ANNOTATE_KEYWORDS:
        if fuzzy_match(header, key, 85):
            best = {
                "matchedKey": key,
                "fuzzyCategory": ANNOTATE_VALUES.get(key, key),
                "ratio": ratio(header.lower(), key.lower()),
            }
    return best


def _melt(df: DataFrame, columns: list[str]) -> DataFrame:
    """columns → (column, value:string) rows; nulls and float-NaNs dropped
    (reference dropna(), categorize.py:122). Built from Column objects (no
    SQL-string interpolation), so quotes/backticks in names are safe."""
    dts = dict(df.dtypes)
    pairs = []
    for c in columns:
        v = F.col(f"`{c.replace('`', '``')}`")
        if dts[c] in ("double", "float"):
            v = F.when(F.isnan(v) | v.isNull(), None).otherwise(v)
        pairs.extend([F.lit(c), v.cast("string")])
    stacked = df.select(
        F.stack(F.lit(len(columns)), *pairs).alias("column", "value"))
    return stacked.where(F.col("value").isNotNull())


def sample_columns(df: DataFrame, columns: list[str], n_samples: int = 99,
                   seed: int = 42) -> DataFrame:
    """Deterministic ≤n_samples non-null values per column as
    (column, value, rk) — seeded hash order (SURVEY.md §4(4))."""
    melted = _melt(df, columns).withColumn(
        "h", F.xxhash64("column", "value", F.lit(seed))
    )
    w = Window.partitionBy("column").orderBy(F.col("h").asc(), F.col("value").asc())
    return (
        melted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n_samples)
        .select("column", "value", "rk")
    )


def _score_group(pdf) -> LabelSpec | None:
    """Run the whole validator bank over one column's sample, apply the
    threshold gate + cascade (reference categorize.py:222-244 +
    CategoryBases.py:95-100) and return the winning label, if any."""
    series = pdf.sort_values("rk")["value"].astype(str).reset_index(drop=True)
    n = len(series)
    best = None
    best_rate = -1.0
    probed: dict = {}  # series-level probe → count (city, city_suffix share one)
    for sp in ordered_labels():
        if sp.series_level:
            if sp.validate_series not in probed:
                probed[sp.validate_series] = sp.valid_count(series)
            cnt = probed[sp.validate_series]
        else:
            cnt = sp.valid_count(series)
        if cnt <= 0 or cnt < n * sp.threshold:
            continue
        rate = cnt / n
        if rate > best_rate + 1e-12:
            best, best_rate = sp, rate
        # equal rate → earlier (lower priority number) spec already kept
    return best


def classify_columns(df: DataFrame, n_samples: int = 99, seed: int = 42,
                     annotate: bool = True) -> list[Classification]:
    """Full E1 pipeline → one Classification per column (in df.columns order)."""
    columns = list(df.columns)

    # stage 1: header skip-pass (driver-side metadata, categorize.py:330-352)
    skip_matches = header_skip_matches(columns)
    skipped_headers = {m["header"] for m in skip_matches}

    # stages 2-5: one Spark job samples every candidate column; an all-NaN
    # column (categorize.py:420-428) has no sampled row and stays unlabelled
    candidates = [c for c in columns if c not in skipped_headers]
    labels: dict[str, LabelSpec | None] = {}
    if candidates:
        sampled = sample_columns(df, candidates, n_samples=n_samples,
                                 seed=seed).toPandas()
        for c, g in sampled.groupby("column", sort=False):
            labels[c] = _score_group(g)

    # stage 6-7: assemble driver-side (metadata scale)
    out: list[Classification] = []
    for c in columns:
        if c in skipped_headers:
            # reference skipped() (categorize.py:40-58): last match wins
            sub = None
            for m in skip_matches:
                if m["header"] == c:
                    sub = m["value"]
            cl = Classification(column=c, category="geo", subcategory=sub,
                                match_type=["fuzzy"])
        elif labels.get(c) is not None:
            sp = labels[c]
            cl = Classification(
                column=c, category=sp.category, subcategory=sp.subcategory,
                format=sp.format, parser=sp.parser, match_type=["LSTM"],
            )
        else:
            cl = Classification(column=c)

        if annotate and c not in skipped_headers:
            fz = annotate_fuzzy_column(c)
            if fz is not None:
                cl.fuzzy_column = fz
                cl.match_type = sorted({*cl.match_type, "fuzzy"})
                if cl.category is None:
                    fc = fz["fuzzyCategory"]
                    if fc in _BACKFILL_TIME:
                        cl.category, cl.subcategory = "time", "date"
                    elif fc in _BACKFILL_GEO:
                        cl.category, cl.subcategory = "geo", None
                    elif fc in _BACKFILL_COUNTRY:
                        cl.category, cl.subcategory = "geo", "country"
                    elif fc in _BACKFILL_PLACE:
                        cl.category, cl.subcategory = "geo", fc.lower()
        out.append(cl)
    return out


def columns_categorized(df: DataFrame, **kw) -> dict:
    """reference columns_categorized (categorize.py:445-463)."""
    result = {}
    for cl in classify_columns(df, **kw):
        result[cl.column] = {
            "category": cl.category,
            "subcategory": cl.subcategory,
            "format": cl.format,
            "time_resolution": None,  # dead coupling kept for shape parity
            "match_type": cl.match_type,
            "fuzzyColumn": cl.fuzzy_column,
        }
    return result


def categorize(df: DataFrame, **kw) -> dict:
    """reference categorize() (categorize.py:465-474) — the README API:
    only classified columns, only {category, subcategory, format}."""
    out = {}
    for cl in classify_columns(df, **kw):
        if cl.category is not None:
            out[cl.column] = {
                "category": cl.category,
                "subcategory": cl.subcategory,
                "format": cl.format,
            }
    return out
