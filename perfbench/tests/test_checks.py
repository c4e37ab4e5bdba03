"""The output checks catch deliberately corrupted results."""

from __future__ import annotations

import json

import duckdb
import pandas as pd

import datagen
from workloads import (
    bad_sink_waves,
    heavy_hitter_mismatches,
    load_oracle_module,
    lookup_matches,
    oracle_matches,
)


def _waves():
    return [(i, datagen.wave_events(3, i, 200, i * 200)) for i in (1, 2, 3)]


def _sink(waves):
    ev = pd.concat([w for _, w in waves], ignore_index=True)
    return pd.DataFrame(
        {
            "event_id": ev["event_id"],
            "result": [json.dumps({"etype": t.upper()}) for t in ev["event_type"]],
        }
    )


def test_sink_check_passes_a_correct_sink():
    waves = _waves()
    assert bad_sink_waves(_sink(waves), waves) == []


def test_sink_check_catches_wrong_missing_and_duplicate_rows():
    waves = _waves()
    sink = _sink(waves)
    wrong = sink.copy()
    wrong.loc[250, "result"] = json.dumps({"etype": "BOGUS"})  # event 450
    assert bad_sink_waves(wrong, waves) == [2]
    missing = sink.drop(index=[450])
    assert bad_sink_waves(missing, waves) == [3]
    dup = pd.concat([sink, sink.iloc[[10]]], ignore_index=True)
    assert bad_sink_waves(dup, waves) == [1]


def _top(events):
    keys = "user:" + events["user_id"].astype(str)
    out = {}
    for key in keys.unique():
        c = events.loc[keys == key, "props"].value_counts()
        out[key] = [(c.index[0], int(c.iloc[0]))]
    return out


def test_heavy_hitter_check():
    events = pd.concat([w for _, w in _waves()], ignore_index=True)
    top = _top(events)
    assert heavy_hitter_mismatches(events, top, 3) == 0
    hot = ("user:" + events["user_id"].astype(str)).value_counts().index[0]
    item, n = top[hot][0]
    top[hot] = [(item, n - 1)]
    assert heavy_hitter_mismatches(events, top, 3) == 1


def test_lookup_check():
    cust = datagen.fixture_tables(scale=0.01)["customer"].set_index("c_custkey")
    row = [4] + cust.loc[4].tolist()
    assert lookup_matches([row], 4, cust)
    assert not lookup_matches([], 4, cust)
    assert not lookup_matches([row, row], 4, cust)
    assert not lookup_matches([[5] + row[1:]], 4, cust)
    bad = list(row)
    bad[3] += 0.01  # c_acctbal
    assert not lookup_matches([bad], 4, cust)


class _Frame:
    """Stands in for a Spark DataFrame: ``compare`` only calls toPandas."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def test_oracle_check_catches_a_corrupted_query_result():
    oracle = load_oracle_module()
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT * FROM range(5) r(k)")
    sql = "SELECT k, k * 2 AS v FROM t"
    good = con.sql(sql).df()
    assert oracle_matches(oracle, _Frame(good), con, sql, "t")
    bad = good.copy()
    bad.loc[2, "v"] = 99
    assert not oracle_matches(oracle, _Frame(bad), con, sql, "t")
    assert not oracle_matches(oracle, _Frame(good.iloc[:4]), con, sql, "t")
