"""The event-log and progress summarisers on canned inputs."""

from __future__ import annotations

import os

import pytest

from tracing import commit_time, parse_event_log, per_query, phase_totals, summarise_progress

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.json")


def _groups():
    with open(LOG) as f:
        return parse_event_log(f)


def test_event_log_per_group_counts():
    g = _groups()
    assert g["rg:q1:build"]["jobs"] == 1
    assert g["rg:q1:build"]["tasks"] == 1
    q1 = g["rg:q1:exec"]
    assert (q1["jobs"], q1["stages"], q1["tasks"], q1["empty_tasks"]) == (1, 2, 3, 1)
    assert q1["task_s"] == pytest.approx(0.4)
    assert q1["gc_s"] == pytest.approx(0.02)
    assert q1["input_bytes"] == 5000
    assert q1["shuffle_read_bytes"] == 300
    assert q1["shuffle_write_bytes"] == 300
    assert q1["spill_bytes"] == 80


def test_skipped_stage_stays_with_the_job_that_ran_it():
    g = _groups()
    q2 = g["rg:q2:exec"]
    assert (q2["jobs"], q2["stages"], q2["tasks"]) == (1, 1, 1)
    assert g[""]["tasks"] == 1


def test_phase_and_query_rollups():
    g = _groups()
    ex = phase_totals(g, "exec")
    assert (ex["jobs"], ex["tasks"], ex["empty_tasks"]) == (2, 4, 1)
    pq = per_query(g)
    assert set(pq) == {"q1", "q2"}
    assert set(pq["q1"]) == {"build", "exec"}


def _progress(batch, rows, ts, trigger_ms, state=None):
    rec = {
        "batchId": batch,
        "numInputRows": rows,
        "timestamp": ts,
        "durationMs": {"addBatch": 10 * batch, "triggerExecution": trigger_ms,
                       "walCommit": 3, "queryPlanning": 2},
    }
    if state:
        rec["stateOperators"] = [state]
    return rec


def test_commit_time_is_trigger_start_plus_execution():
    rec = _progress(1, 5, "2026-01-01T00:00:00.250Z", 1500)
    assert commit_time(rec) == pytest.approx(1767225601.75)


def test_progress_summary_skips_idle_epochs():
    state = {"numRowsTotal": 7, "memoryUsedBytes": 2000, "numShufflePartitions": 1,
             "allUpdatesTimeMs": 4, "commitTimeMs": 6}
    recs = [
        _progress(1, 5, "2026-01-01T00:00:00Z", 100, state),
        _progress(2, 0, "2026-01-01T00:00:01Z", 1, state),
        _progress(3, 7, "2026-01-01T00:00:02Z", 100, dict(state, numRowsTotal=9)),
    ]
    s = summarise_progress(recs)
    assert s["batches"] == 2 and s["input_rows"] == 12
    assert s["addBatch"] == 20.0
    assert s["state_rows"] == 9 and s["state_partitions"] == 1
    assert s["state_commit_ms"] == 6
