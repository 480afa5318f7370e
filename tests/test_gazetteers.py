"""Gazetteer scale parity + fuzzy-probe fast-path equivalence."""

import numpy as np
import pandas as pd

from cartwright_spark.functions.fuzzy import (
    any_over_cutoff,
    extract_one,
    token_sort_ratio,
)
from cartwright_spark.sources import gazetteers as gz


def test_reference_row_counts():
    """Reference CategoryBases.py:24-51 — 246 countries / 24,534 cities /
    72 states / 7 continents (BASELINE.md table)."""
    assert len(gz.countries_pdf()) == 246
    assert len(gz.cities_pdf()) == 24534
    assert len(gz.states_pdf()) == 72
    assert len(gz.continents_pdf()) == 7


def test_city_names_unique_and_detectable():
    cities = gz.cities_pdf()
    assert cities["city"].is_unique
    # synthetic fill names are ≤3 alphabetic-start words so the
    # capitalized-gram scan (max_words=3) can match every one of them
    synth = cities["city"].iloc[236:]
    assert (synth.str.split().str.len() <= 3).all()
    # bounded coordinates
    assert cities["lat"].between(-90, 90).all()
    assert cities["lon"].between(-180, 180).all()


def test_any_over_cutoff_matches_extract_one():
    """The vectorized probe bound is boolean-identical to the naive
    extract_one scan on exact names, typos, and junk."""
    names = gz.city_names()
    rng = np.random.default_rng(77)
    sample_idx = rng.integers(0, len(names), 30)
    probes = [names[i] for i in sample_idx]                       # exact
    probes += [names[i][:-1] for i in sample_idx[:10]]            # truncated
    probes += [names[i].replace("a", "e", 1) for i in sample_idx[10:20]]
    probes += ["zzzz", "not a city at all", "", "123", "Q"]       # junk
    for p in probes:
        naive = extract_one(p, names, scorer=token_sort_ratio)[1] > 90
        assert any_over_cutoff(p, names, cutoff=90) == naive, p


def test_length_window_keeps_every_possible_match():
    """Every (query, choice) length pair whose length bound allows a
    ratio above the cutoff lies inside any_over_cutoff's length window."""
    from cartwright_spark.functions.fuzzy import length_window
    for cutoff in (85, 90, 95):
        for lq in range(0, 120):
            lo, hi = length_window(lq, cutoff)
            for lc in range(0, 160):
                if lq + lc == 0:
                    continue
                best = round(100 * (2.0 * min(lq, lc) / (lq + lc)))
                if best > cutoff:
                    assert lo <= lc <= hi, (cutoff, lq, lc, lo, hi)


def test_probe_gazetteer_city_column():
    """A column of real city names passes the series probe; random strings
    do not (the 24k synthetic dim must not absorb junk)."""
    from cartwright_spark.taxonomy.validators import v_city_series
    cities = pd.Series(list(gz.city_names()[:6]))
    assert v_city_series(cities) == 6
    junk = pd.Series(["qwjv 9881", "zzz yy xx", "0xdeadbeef",
                      "lorem ipsum dolor", "!!!", "kkkkkkkk"])
    assert v_city_series(junk) == 0
