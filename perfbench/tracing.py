"""Tracing for the benchmark's traced run (``--trace 1``).

* Spans: one per layer call the benchmark makes (a query's build and
  exec, each table open or scratch write inside a build, each TFCALL,
  each wave), kept in memory and written out when the run ends.
* Job groups: each query runs under ``rg:<name>:build`` and
  ``rg:<name>:exec``; source calls inside a build run under
  ``rg:<name>:open`` / ``rg:<name>:scratch``. Job counts come from the
  status tracker, read right after each call.
* Event log: Spark's event log (on only in the traced run) is summarised
  per job group: stages, tasks, empty tasks, task and GC seconds, input,
  shuffle and spill bytes.
* Streaming progress: each consumer's progress records, one per epoch,
  summarised into per-phase times and state size.

With tracing off every hook is a no-op and the sources are not wrapped.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

from stats import median

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        # spans are recorded only while the measured loop runs
        self.active = False
        self.spans: list[dict] = []
        self._stack = threading.local()
        self.sc = None
        self.op = ""

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a layer call; with ``group`` also run it under that job
        group and count the jobs it launched."""
        if not (self.enabled and self.active):
            yield
            return
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        rec = {
            "name": name,
            "op": self.op,
            "parent": stack[-1]["id"] if stack else None,
            "id": len(self.spans),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        stack.append(rec)
        prev = None
        before = 0
        if group is not None:
            prev = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setJobGroup(group, self.op)
            before = self._jobs(group)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            if group is not None:
                rec["group"] = group
                rec["jobs"] = self._jobs(group) - before
                if prev is None:
                    self.sc._jsc.clearJobGroup()
                else:
                    self.sc.setJobGroup(prev, self.op)
            stack.pop()

    def _jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, name: str) -> tuple[int, float, int]:
        """(calls, seconds, jobs) summed over spans called ``name``."""
        sel = [s for s in self.spans if s["name"] == name and "end" in s]
        return (
            len(sel),
            sum(s["end"] - s["start"] for s in sel),
            sum(s.get("jobs", 0) for s in sel),
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- source wrappers ----------------------------------------------------


def wrap_sources(tracer: Tracer) -> None:
    """Wrap ``load_table`` and ``scratch_parquet`` in spans, then rebind
    every module-level reference to them. Operator modules bind these
    names at import (``from ...keyspace import load_table``), so the
    wrappers are installed before the operators are imported and the
    rebind sweep catches modules that were imported earlier (the package
    ``__init__`` imports the engine)."""
    import sys

    from redisgears_spark.sources import keyspace

    orig_load, orig_scratch = keyspace.load_table, keyspace.scratch_parquet

    def load_table(spark, sf_dir, name):
        with tracer.span("sources.open", f"rg:{tracer.op}:open"):
            return orig_load(spark, sf_dir, name)

    def scratch_parquet(df, label="idx"):
        with tracer.span("sources.scratch", f"rg:{tracer.op}:scratch"):
            return orig_scratch(df, label)

    swap = {id(orig_load): load_table, id(orig_scratch): scratch_parquet}
    keyspace.load_table, keyspace.scratch_parquet = load_table, scratch_parquet
    import redisgears_spark.operators  # noqa: F401  (binds the wrappers)
    import redisgears_spark.streaming  # noqa: F401

    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("redisgears_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in swap:
                setattr(mod, attr, swap[id(val)])


# -- event log ----------------------------------------------------------

_FIELDS = (
    "jobs", "stages", "tasks", "empty_tasks", "task_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def parse_event_log(lines) -> dict[str, dict]:
    """Per job group: job, stage and task counts and task metrics from
    Spark's JSON event log. Jobs without a group are keyed ``""``. A stage
    belongs to the first job that lists it (later jobs list it only as
    skipped). A task is empty when it read no input or shuffle records."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(_FIELDS, 0))
    stages_seen: set[tuple[str, int]] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP) or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            m = ev.get("Task Metrics") or {}
            rec = out[group]
            if (group, ev["Stage ID"]) not in stages_seen:
                stages_seen.add((group, ev["Stage ID"]))
                rec["stages"] += 1
            rec["tasks"] += 1
            inp = m.get("Input Metrics") or {}
            shr = m.get("Shuffle Read Metrics") or {}
            shw = m.get("Shuffle Write Metrics") or {}
            if inp.get("Records Read", 0) + shr.get("Total Records Read", 0) == 0:
                rec["empty_tasks"] += 1
            rec["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            rec["input_bytes"] += inp.get("Bytes Read", 0)
            rec["shuffle_read_bytes"] += shr.get("Remote Bytes Read", 0) + shr.get(
                "Local Bytes Read", 0
            )
            rec["shuffle_write_bytes"] += shw.get("Shuffle Bytes Written", 0)
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return dict(out)


def read_event_logs(log_dir: str) -> dict[str, dict]:
    merged: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress") or os.path.isdir(path):
            continue
        with open(path) as f:
            for group, rec in parse_event_log(f).items():
                acc = merged.setdefault(group, dict.fromkeys(_FIELDS, 0))
                for k in _FIELDS:
                    acc[k] += rec[k]
    return merged


def phase_totals(groups: dict[str, dict], phase: str) -> dict:
    """Sum the event-log records of every ``rg:<name>:<phase>`` group."""
    acc = dict.fromkeys(_FIELDS, 0)
    for group, rec in groups.items():
        if group.startswith("rg:") and group.endswith(f":{phase}"):
            for k in _FIELDS:
                acc[k] += rec[k]
    return acc


def per_query(groups: dict[str, dict]) -> dict[str, dict]:
    """Event-log records keyed by query name, then phase."""
    out: dict[str, dict] = defaultdict(dict)
    for group, rec in groups.items():
        parts = group.split(":")
        if len(parts) == 3 and parts[0] == "rg":
            out[parts[1]][parts[2]] = rec
    return dict(out)


# -- streaming progress -------------------------------------------------

PHASES = (
    "addBatch", "queryPlanning", "latestOffset", "walCommit",
    "commitOffsets", "getBatch", "triggerExecution",
)


def commit_time(progress: dict) -> float:
    """Epoch seconds at which a micro-batch committed: the trigger's
    start timestamp plus its ``triggerExecution`` duration."""
    from datetime import datetime

    ts = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return ts.timestamp() + progress["durationMs"].get("triggerExecution", 0) / 1000.0


def summarise_progress(records: list[dict]) -> dict:
    """Per-epoch phase medians (ms), epoch count, input rows and the last
    epoch's state size, over the epochs that read input."""
    busy = [r for r in records if r.get("numInputRows", 0) > 0]
    out = {"batches": len(busy), "input_rows": sum(r["numInputRows"] for r in busy)}
    for ph in PHASES:
        vals = [r["durationMs"].get(ph, 0) for r in busy]
        out[ph] = median(vals) if vals else 0.0
    ops = [r["stateOperators"][0] for r in busy if r.get("stateOperators")]
    if ops:
        last = ops[-1]
        out["state_rows"] = last.get("numRowsTotal", 0)
        out["state_bytes"] = last.get("memoryUsedBytes", 0)
        out["state_partitions"] = last.get("numShufflePartitions", 0)
        out["state_update_ms"] = median([o.get("allUpdatesTimeMs", 0) for o in ops])
        out["state_commit_ms"] = median([o.get("commitTimeMs", 0) for o in ops])
    return out
