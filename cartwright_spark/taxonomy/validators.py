"""Vectorized validator primitives for the 82-label taxonomy.

Each primitive maps a ``pd.Series`` of strings to a boolean numpy array (one
flag per value) or, for series-level gazetteer probes, to a single count.
They score the ≤99-value column samples that ``classify_columns`` collects
to the driver — never row-at-a-time Python in the Spark plan.

Semantics mirror the reference validators exactly (cited per function);
where the reference is nondeterministic (random gazetteer probes,
geos.py:18-26) we substitute a deterministic seeded equivalent, documented
in SURVEY.md §7.5(5).
"""

from __future__ import annotations

import _strptime
import datetime

import numpy as np
import pandas as pd

from cartwright_spark.functions.fuzzy import any_over_cutoff, fuzzy_match
from cartwright_spark.sources import gazetteers as gz

# reference utils.py:157-194 — note the nonstandard 'tues','thur','sept'
DAYS_A = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]
DAYS_a = ["mon", "tues", "wed", "thur", "fri", "sat", "sun"]
MONTHS_B = ["january", "february", "march", "april", "may", "june", "july",
            "august", "september", "october", "november", "december"]
MONTHS_b = ["jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sept",
            "oct", "nov", "dec"]


def _as_str(s: pd.Series) -> pd.Series:
    return s.astype(str)


# ---------------------------------------------------------------------------
# date formats — strptime semantics (reference CategoryBases.py:148-152)
# ---------------------------------------------------------------------------

def v_strptime(s: pd.Series, fmt: str) -> np.ndarray:
    """Exact ``datetime.strptime(v, fmt)`` success mask.

    strptime raises unless the regex it compiles for ``fmt`` matches the
    whole value, so only values that pass that same regex are parsed; the
    rest (every value of a non-date column) cost one regex match each.
    """
    rx = _strptime._TimeRE_cache.compile(fmt)
    out = np.zeros(len(s), dtype=bool)
    for i, v in enumerate(_as_str(s)):
        m = rx.match(v)
        if m is None or m.end() != len(v):
            continue
        try:
            datetime.datetime.strptime(v, fmt)
            out[i] = True
        except ValueError:
            pass
    return out


def v_unix_time(s: pd.Series) -> np.ndarray:
    """reference dates.py:12-17: int(v) in [-5364601438, 4102506000] and
    len(v) <= 13 (int() tolerates sign/whitespace)."""
    s = _as_str(s)
    is_int = s.str.match(r"^\s*[+-]?\d+\s*$").to_numpy()
    out = np.zeros(len(s), dtype=bool)
    if is_int.any():
        vals = pd.to_numeric(s[is_int].str.strip(), errors="coerce")
        in_range = (vals >= -5364601438) & (vals <= 4102506000)
        out[is_int] = in_range.to_numpy() & (s[is_int].str.len() <= 13).to_numpy()
    return out


def v_member_lower(s: pd.Series, terms: list[str]) -> np.ndarray:
    """value.lower() in constant list (partial_dates.py:45-46,80-81)."""
    return _as_str(s).str.lower().isin(terms).to_numpy()


# ---------------------------------------------------------------------------
# timespans — split + per-part validation (reference timespans.py:7-114)
# ---------------------------------------------------------------------------

def v_timespan_years(s: pd.Series, sep: str) -> np.ndarray:
    """%Y<sep>%Y: every split part strip().isdigit() and 1700<y<2200
    (CategoryBases.py:138-146 validate_years — note strict all-parts rule)."""
    s = _as_str(s)
    out = np.zeros(len(s), dtype=bool)
    for i, v in enumerate(s):
        parts = [p.strip() for p in v.split(sep)]
        out[i] = all(p.isdigit() and 1700 < int(p) < 2200 for p in parts) and len(parts) > 0
    return out


def v_timespan_dates(s: pd.Series, sep: str, fmt: str) -> np.ndarray:
    """<date><sep><date>: every part strptime-valid vs fmt
    (timespans.py:36-114; parts are str.strip()ed)."""
    s = _as_str(s)
    out = np.zeros(len(s), dtype=bool)
    for i, v in enumerate(s):
        parts = v.split(sep)
        try:
            for p in parts:
                datetime.datetime.strptime(p.strip(), fmt)
            out[i] = len(parts) > 0
        except (ValueError, TypeError):
            pass
    return out


# ---------------------------------------------------------------------------
# geo predicates (reference geos.py:100-179)
# ---------------------------------------------------------------------------

def v_latitude(s: pd.Series) -> np.ndarray:
    v = pd.to_numeric(_as_str(s), errors="coerce")
    return ((v >= -90) & (v <= 90)).to_numpy()


def v_longitude(s: pd.Series) -> np.ndarray:
    v = pd.to_numeric(_as_str(s), errors="coerce")
    return ((v >= -180) & (v <= 180)).to_numpy()


def v_latlong(s: pd.Series) -> np.ndarray:
    """split on ',': parts[0]=lat, parts[1]=lon (extra parts ignored, as in
    geos.py:172-178); both ranges must pass."""
    parts = _as_str(s).str.split(",", expand=True)
    if parts.shape[1] < 2:
        return np.zeros(len(s), dtype=bool)
    lat = pd.to_numeric(parts[0].str.strip(), errors="coerce")
    lon = pd.to_numeric(parts[1].str.strip(), errors="coerce")
    return ((lat >= -90) & (lat <= 90) & (lon >= -180) & (lon <= 180)).to_numpy()


def v_iso2(s: pd.Series) -> np.ndarray:
    return _as_str(s).str.upper().isin(gz.iso2_set()).to_numpy()


def v_iso3(s: pd.Series) -> np.ndarray:
    return _as_str(s).str.upper().isin(gz.iso3_set()).to_numpy()


def v_continent(s: pd.Series, threshold: float = 0.85) -> np.ndarray:
    """fuzzy ratio > 100*threshold vs continent names+codes. The reference
    accidentally iterates its lookup DataFrame's *column names*
    (geos.py:130); we implement the intended semantics (SURVEY.md §2.3 J4)."""
    terms = gz.continent_terms()
    s = _as_str(s)
    # exact (case-insensitive) fast path, fuzzy slow path for the remainder
    lower_terms = {t.lower() for t in terms}
    out = s.str.lower().isin(lower_terms).to_numpy()
    for i in np.flatnonzero(~out):
        v = s.iat[i]
        out[i] = any(fuzzy_match(v, t, ratio_=int(100 * threshold)) for t in terms)
    return out


# ---------------------------------------------------------------------------
# series-level gazetteer probes (reference geos.py:11-88): sample up to 6
# values, extractOne(token_sort_ratio) vs gazetteer, >=2 hits >90 => the
# whole series counts as valid. Deterministic: probe the first 6 values of
# the (already seeded-shuffled) sample.
# ---------------------------------------------------------------------------

def probe_gazetteer(series: pd.Series, choices, min_hits: int = 2,
                    probes: int = 6, cutoff: int = 90) -> int:
    # any_over_cutoff ≡ extract_one(...)[1] > cutoff, but prunes the
    # 24k-name city dim with a vectorized bound instead of a full
    # SequenceMatcher scan per probe (functions/fuzzy.py)
    vals = _as_str(series).tolist()
    passed = 0
    for v in vals[:probes]:
        if any_over_cutoff(v, choices, cutoff=cutoff):
            passed += 1
            if passed >= min_hits:
                return len(vals)
    return 0


def v_city_series(series: pd.Series) -> int:
    return probe_gazetteer(series, gz.city_names())


def v_country_series(series: pd.Series) -> int:
    return probe_gazetteer(series, gz.country_names())
