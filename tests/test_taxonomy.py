"""Generate→validate round-trips for the 82-label taxonomy.

Mirrors the reference suites (tests/test_dates.py:64-69,
test_partial_dates.py, test_timespans.py, test_geos.py, test_misc.py):
each label's seeded generator produces values that its own validator
accepts at or above the label's threshold. Reference xfails are asserted
as documented behavior: misc labels and the shadowed country_name always
fail; city_suffix values don't survive the gazetteer probe.
"""

import datetime
from functools import lru_cache

import numpy as np
import pandas as pd
import pytest

from cartwright_spark.functions.fuzzy import (
    _token_sort_prep,
    ratio,
    token_sort_ratio,
)
from cartwright_spark.sources import gazetteers as gz
from cartwright_spark.taxonomy.registry import all_labels, ordered_labels

N = 500
XFAIL_LABELS = {"city_suffix"}  # probe can't match generic suffixes (test_geos.py:31)


def test_label_space_is_82():
    reg = all_labels()
    assert len(reg) == 82
    kinds = pd.Series([sp.kind for sp in reg.values()]).value_counts().to_dict()
    assert kinds["date"] == 47
    assert kinds["partial_date"] == 7
    assert kinds["timespan"] == 6
    assert kinds["geo"] == 8   # 9 − country_name collision
    assert kinds["misc"] == 14


def test_country_name_collision_is_misc():
    # misc loads after geos in the reference registry (category_helpers.py:10)
    sp = all_labels()["country_name"]
    assert sp.kind == "misc"
    assert sp.valid_count(pd.Series(["Germany", "France", "Japan"])) == 0


@pytest.mark.parametrize("label", sorted(all_labels().keys()))
def test_generate_validate_roundtrip(label):
    sp = all_labels()[label]
    rng = np.random.default_rng(123)
    vals = pd.Series(sp.generate(N, rng)).astype(str)
    cnt = sp.valid_count(vals)
    if sp.kind == "misc":
        assert cnt == 0, f"misc decoy {label} must never validate"
    elif label in XFAIL_LABELS:
        assert cnt == 0
    else:
        assert cnt >= N * sp.threshold, f"{label}: {cnt}/{N}"


def test_cascade_self_identification():
    """Each non-decoy label's data, run through the full bank with the
    cascade's (pass-rate, priority) ranking, must come back as itself —
    this is what the LSTM's argmax provided in the reference."""
    rng = np.random.default_rng(7)
    mistakes = []
    for sp in ordered_labels():
        if sp.kind == "misc" or sp.label in XFAIL_LABELS:
            continue
        vals = pd.Series(sp.generate(99, rng)).astype(str)
        n = len(vals)
        best, best_rate = None, -1.0
        for cand in ordered_labels():
            cnt = cand.valid_count(vals)
            if cnt <= 0 or cnt < n * cand.threshold:
                continue
            rate = cnt / n
            if rate > best_rate + 1e-12:
                best, best_rate = cand, rate
        if best is None or best.label != sp.label:
            mistakes.append((sp.label, None if best is None else best.label))
    assert not mistakes, f"cascade misidentified: {mistakes}"


# ---------------------------------------------------------------------------
# differential check: the validator bank's shortcuts against plain scans
# ---------------------------------------------------------------------------
# v_strptime parses only values that fully match strptime's own regex,
# fuzzy_match skips pairs whose lengths cap the ratio, and the city probe
# scans only a length window of the gazetteer. Each reference below scans
# without the shortcut, so a shortcut that drops a match changes a count.

_NON_STRPTIME = {"unix_time", "%b", "%a"}
DIFF_LABELS = [sp for sp in ordered_labels()
               if (sp.kind in ("date", "partial_date")
                   and sp.label not in _NON_STRPTIME)
               or sp.label in ("continent", "city", "city_suffix")]


def _ref_strptime_count(vals, fmt):
    n = 0
    for v in vals:
        try:
            datetime.datetime.strptime(v, fmt)
            n += 1
        except ValueError:
            pass
    return n


@lru_cache(maxsize=None)
def _ref_continent_hit(v):
    return any(ratio(v.lower(), t.lower()) > 85 for t in gz.continent_terms())


@lru_cache(maxsize=1)
def _ref_city_index():
    """Every gazetteer name with its full character counts: difflib's
    quick_ratio bound (shared characters) over the whole list, no
    length window."""
    names = gz.city_names()
    prepped = [_token_sort_prep(c) for c in names]
    vocab = {ch: i for i, ch in enumerate(sorted({ch for p in prepped
                                                  for ch in p}))}
    mat = np.zeros((len(names), len(vocab)), dtype=np.int32)
    for r, p in enumerate(prepped):
        for ch in p:
            mat[r, vocab[ch]] += 1
    lens = np.array([len(p) for p in prepped])
    return names, vocab, mat, lens


@lru_cache(maxsize=None)
def _ref_city_hit(v):
    """extract_one(v, city_names, token_sort_ratio) scores > 90."""
    names, vocab, mat, lens = _ref_city_index()
    q = _token_sort_prep(v)
    qv = np.zeros(len(vocab), dtype=np.int32)
    for ch in q:
        if ch in vocab:
            qv[vocab[ch]] += 1
    shared = np.minimum(mat, qv).sum(axis=1)
    total = lens + len(q)
    bound = np.where(total > 0, 200.0 * shared / np.maximum(total, 1), 100.0)
    return any(token_sort_ratio(v, names[i]) > 90
               for i in np.flatnonzero(bound >= 90.5))


def _ref_count(sp, series):
    vals = series.tolist()
    if sp.label == "continent":
        return sum(_ref_continent_hit(v) for v in vals)
    if sp.series_level:  # city, city_suffix: ≥2 of the first 6 values hit
        hits = sum(_ref_city_hit(v) for v in vals[:6])
        return len(vals) if hits >= 2 else 0
    if sp.gate is not None and not sp.gate(series):
        return 0
    return _ref_strptime_count(vals, sp.format)


def _continent_edges():
    """Continent terms padded or cut across the ratio-85 boundary."""
    vals = []
    for t in gz.continent_terms():
        vals += [t + "x" * k for k in range(1, 4)] + [t[:-k] for k in (1, 2)]
    return vals


def _city_edges():
    """Gazetteer names padded or cut to the last length whose own ratio
    still rounds above 90, and one step past it."""
    vals = []
    names = gz.city_names()
    for i in range(0, len(names), len(names) // 200):
        p = _token_sort_prep(names[i])
        n = len(p)
        pad = [k for k in range(1, n) if round(200 * n / (2 * n + k)) > 90]
        cut = [k for k in range(1, n)
               if round(200 * (n - k) / (2 * n - k)) > 90]
        if pad:
            vals += [p + "x" * pad[-1], p + "x" * (pad[-1] + 1)]
        if cut:
            vals += [p[:-cut[-1]], p[:-cut[-1] - 1]]
    return vals


def _edge_values():
    return [
        "2020-02-30", " 1/ 2/2020", "2020-1-5", "2020-01-05 ", " 2020-01-05",
        "", "nan", "NaN", "None", "0001", "9999", "0001-01-01", "9999-12-31",
        "1/2/0001", "31.12.9999", "JANUARY", "january", "SEPT", "Sep",
        "MONDAY", "monday", "MON", "MONDAY, JANUARY 06, 2020",
        "06 JANUARY 2020", "Mon, 06 JAN 2020", "01/02/20 10:11:12 PM",
        "01/02/20 10:11:12 am", "01/02/20 22:11:12 PM",
        "2020-01-05T10:11:12", "2020-01-05t10:11:12", "29/02/2019",
        "02/29/2020", "2020", "20201", "202013", "13", "00", "1", "01", "31",
        "32", "europe", "EUROPE", "Eurpoe",
    ] + _continent_edges() + _city_edges()


def _generated_columns(seed):
    """Every label's generator, clean and with 20 of 99 values swapped for
    another label's."""
    rng = np.random.default_rng(seed)
    specs = ordered_labels()
    cols = []
    for sp in specs:
        clean = sp.generate(99, rng)
        other = specs[int(rng.integers(len(specs)))].generate(20, rng)
        mixed = list(clean)
        for j, v in zip(rng.choice(99, 20, replace=False), other):
            mixed[int(j)] = v
        cols += [clean, mixed]
    return cols


def _edge_columns():
    # the city probe needs 2 hits in the first 6 values: one column per
    # city edge value, so each single hit decides a count
    return [_edge_values()] + [[v, v] for v in _city_edges()]


def _mismatches(cols):
    out = []
    for c in cols:
        series = pd.Series(c).astype(str)
        for sp in DIFF_LABELS:
            got, want = sp.valid_count(series), _ref_count(sp, series)
            if got != want:
                out.append((sp.label, series.tolist()[:6], got, want))
    return out


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bank_shortcuts_match_reference_scans(seed):
    bad = _mismatches(_generated_columns(seed))
    assert not bad, bad[:5]


def test_bank_shortcuts_match_reference_scans_on_edges():
    bad = _mismatches(_edge_columns())
    assert not bad, bad[:5]


def test_edge_values_reach_the_shortcut_boundaries():
    """Some edge values only just clear their cutoffs and some only just
    miss; some pass strptime's regex yet fail strptime — otherwise the
    differential test could not see a shortcut drop a match."""
    city = [_ref_city_hit(v) for v in _city_edges()]
    assert sum(city) >= 20 and not all(city)
    continent = [_ref_continent_hit(v) for v in _continent_edges()]
    assert sum(continent) >= 5 and not all(continent)
    assert _ref_strptime_count(["2020-02-30"], "%Y-%m-%d") == 0
    assert _ref_strptime_count(["MONDAY, JANUARY 06, 2020"],
                               "%A, %B %d, %Y") == 1
