"""Seed determinism of the generated inputs and of the query sample."""

from __future__ import annotations

import json
import os

import pandas as pd

import datagen
import pytest

from workloads import BANDS, QueriesShort, load_bands, stratified_sample

K = QueriesShort.SAMPLE


def test_wave_is_a_function_of_seed_and_wave():
    a = datagen.wave_events(7, 3, 500, 1500)
    b = datagen.wave_events(7, 3, 500, 1500)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(datagen.wave_events(8, 3, 500, 1500))
    assert not a["user_id"].equals(datagen.wave_events(7, 4, 500, 1500)["user_id"])
    assert a["event_id"].tolist() == list(range(1500, 2000))


def test_wave_keys_are_skewed_and_items_fit_the_summary():
    ev = datagen.wave_events(1, 1, 5000, 0)
    counts = ev["user_id"].value_counts()
    # Zipf: the hottest key alone outweighs the median key many times over
    assert counts.iloc[0] > 20 * counts.median()
    assert ev["props"].nunique() <= datagen.WAVE_ITEMS < 50


def test_fixture_is_deterministic_and_has_the_documented_schema():
    a = datagen.fixture_tables(scale=0.01)
    b = datagen.fixture_tables(scale=0.01)
    assert sorted(a) == sorted(
        ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"]
    )
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert list(a["lineitem"].columns) == [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    ]
    docs = a["documents"]
    assert (docs["text"].str.len() == docs["n_chars"]).all()


def _band():
    with open(BANDS) as f:
        return json.load(f)["short"]


def test_query_sample_is_seeded():
    band = _band()
    assert stratified_sample(band, K, 5) == stratified_sample(band, K, 5)
    assert stratified_sample(band, K, 5) != stratified_sample(band, K, 6)


def test_query_sample_takes_one_name_per_stratum():
    band = _band()
    ranked = sorted(
        band, key=lambda n: (sum(band[n]["build_s"]) + sum(band[n]["exec_s"]), n)
    )
    for seed in range(5):
        picks = stratified_sample(band, K, seed)
        assert len(set(picks)) == K
        ranks = sorted(ranked.index(n) for n in picks)
        for i, r in enumerate(ranks):
            lo, hi = round(i * len(ranked) / K), round((i + 1) * len(ranked) / K)
            assert lo <= r < hi


def test_bands_are_disjoint_and_respect_the_rule():
    with open(BANDS) as f:
        bands = json.load(f)
    assert not set(bands["short"]) & set(bands["heavy"])
    for rec in bands["short"].values():
        assert max(b + e for b, e in zip(rec["build_s"], rec["exec_s"])) < 0.8
    for rec in bands["heavy"].values():
        assert min(b + e for b, e in zip(rec["build_s"], rec["exec_s"])) >= 1.5
    assert os.path.basename(BANDS) == "bands.json"


def test_a_listed_name_leaving_the_registry_fails_loudly():
    with open(BANDS) as f:
        bands = json.load(f)
    registry = set(bands["short"]) | set(bands["heavy"])
    assert load_bands(registry)["short"] == bands["short"]
    gone = sorted(bands["heavy"])[0]
    with pytest.raises(RuntimeError, match=gone):
        load_bands(registry - {gone})
