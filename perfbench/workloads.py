"""The benchmark's workloads. Each is one closed-loop client in the
benchmark process: it sends its next request only after the previous one
has returned.

``queries_short``
    Registry queries from the frozen ``short`` band, in a seeded order:
    the per-query fixed floor (schema inference, planning, job launch).
    One operation = build the query and run its plan to the no-op sink.

``gears_live``
    The RedisGears surface: one library with a Python stream trigger, a
    keyspace trigger, the functions ``noop`` and ``lookup``, and a
    ``StreamingHeavyHittersRuntime`` on the same stream. Each wave appends
    a seeded file of stream events and the matching keyspace changes,
    waits until every consumer has committed it, then issues lookup
    TFCALLs and a block of noop TFCALLs. One operation = one lookup.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import random
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
import harness
from stats import median
from tracing import commit_time, summarise_progress

BANDS = os.path.join(harness.HERE, "bands.json")


def load_bands(registry) -> dict:
    """The frozen band lists; every listed name must still be registered."""
    with open(BANDS) as f:
        bands = json.load(f)
    gone = sorted(
        n for band in ("short", "heavy") for n in bands[band] if n not in registry
    )
    if gone:
        raise RuntimeError(
            f"frozen band names no longer in the registry: {gone}; "
            "re-run perfbench/calibrate.py and review the new lists"
        )
    return bands


def stratified_sample(band: dict, k: int, seed: int) -> list[str]:
    """``k`` names, one from each of ``k`` equal strata of the band sorted
    by calibrated time, in a seeded order. Every seed gets the same spread
    of query costs, so the seed moves which queries run, not how heavy
    the run is."""
    ranked = sorted(
        band, key=lambda n: (sum(band[n]["build_s"]) + sum(band[n]["exec_s"]), n)
    )
    rng = random.Random(seed)
    edges = [round(i * len(ranked) / k) for i in range(k + 1)]
    picks = [rng.choice(ranked[edges[i]:edges[i + 1]]) for i in range(k)]
    rng.shuffle(picks)
    return picks


def load_oracle_module():
    """``tests/oracle.py`` of the checkout, imported read-only by path."""
    path = os.path.join(harness.ROOT, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_matches(oracle, df, con, sql: str, name: str) -> bool:
    """``tests/oracle.py``'s exact comparison of a query against its
    DuckDB oracle, as a verdict."""
    try:
        oracle.compare(df, con, sql, name)
    except AssertionError as exc:
        harness.log(f"oracle mismatch: {exc}")
        return False
    return True


def keep_measuring(
    t0: float, seconds: float, min_ops: int, ok: int, failed: int
) -> bool:
    """The measure loops' stop rule: go on until ``seconds`` have passed
    and ``min_ops`` operations have succeeded, but stop once ``min_ops``
    have failed, so a broken program ends the run with its failures
    counted instead of hanging it."""
    if failed >= min_ops:
        return False
    return time.perf_counter() - t0 < seconds or ok < min_ops


class QueriesShort:
    name = "queries_short"
    SAMPLE = 15
    VERIFY = 2

    def __init__(self, spark, sf_dir, run_dir, seed, tracer):
        from redisgears_spark.operators import ORACLES, QUERIES

        self.spark, self.sf_dir, self.seed, self.tracer = spark, sf_dir, seed, tracer
        self.queries, self.oracles = QUERIES, ORACLES
        self.names = stratified_sample(
            load_bands(QUERIES)["short"], self.SAMPLE, seed
        )
        self.ops: list[dict] = []
        self.failed = 0
        self.checks = 0

    def prepare(self) -> None:
        pass

    def prime(self) -> None:
        """Untimed: one pass over the sample. The measured passes then time
        each query's repeat invocation, as a long-running engine serves it,
        not its first run in a young JVM (which costs each name a
        different, name-specific amount of JIT, codegen and Python worker
        warm-up)."""
        for name in self.names:
            harness.run_noop(self.queries[name](self.spark, self.sf_dir))

    def measure(self, seconds: float, min_ops: int) -> None:
        """Whole passes over the sample, so every name weighs the same,
        until ``seconds`` have passed and ``min_ops`` queries have
        succeeded, or ``min_ops`` have failed."""
        tr = self.tracer
        t0 = time.perf_counter()
        while keep_measuring(
            t0, seconds, min_ops, len(self.ops) - self.failed, self.failed
        ):
            for name in self.names:
                tr.op = name
                a = time.perf_counter()
                try:
                    with tr.span("operators.build", f"rg:{name}:build"):
                        df = self.queries[name](self.spark, self.sf_dir)
                    with tr.span("exec", f"rg:{name}:exec"):
                        harness.run_noop(df)
                    ok = True
                except Exception as exc:
                    harness.log(f"{name} failed: {exc}")
                    ok = False
                self.failed += not ok
                self.ops.append(
                    {"name": name, "ok": ok, "s": time.perf_counter() - a}
                )

    def verify(self) -> None:
        """DuckDB oracle parity on a seeded subset of the names this run
        executed (outside the timed region)."""
        oracle = load_oracle_module()
        con = oracle.duckdb_conn(self.sf_dir)
        ran = sorted(
            {o["name"] for o in self.ops if o["ok"] and o["name"] in self.oracles}
        )
        pick = random.Random(self.seed + 1).sample(ran, min(self.VERIFY, len(ran)))
        for name in pick:
            self.checks += 1
            df = self.queries[name](self.spark, self.sf_dir)
            if not oracle_matches(oracle, df, con, self.oracles[name], name):
                self.failed += 1
        con.close()

    def latencies_ms(self) -> list[float]:
        """Every attempted query's time, failed ones included."""
        return [1000.0 * o["s"] for o in self.ops]

    def throughput(self) -> float:
        """Successful queries per second of client time."""
        return sum(o["ok"] for o in self.ops) / sum(o["s"] for o in self.ops)

    def attempted(self) -> int:
        return len(self.ops) + self.checks

    def layer_extra(self) -> dict:
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------- gears


def _events_table(pdf: pd.DataFrame) -> pa.Table:
    """Raw stream events in the fixture ``events`` layout."""
    return pa.table(
        {
            "event_id": pa.array(pdf["event_id"], pa.int64()),
            "ts": pa.array(pdf["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(pdf["user_id"], pa.int64()),
            "event_type": pa.array(pdf["event_type"], pa.string()),
            "value": pa.array(pdf["value"], pa.float64()),
            "props": pa.array(pdf["props"], pa.string()),
        }
    )


def _changes_table(pdf: pd.DataFrame) -> pa.Table:
    """Keyspace SET changes in the trigger runtime's ``changes`` layout."""
    snap = [
        list(zip(("event_type", "value"), (et, f"{v}")))
        for et, v in zip(pdf["event_type"], pdf["value"])
    ]
    return pa.table(
        {
            "seq": pa.array(pdf["event_id"], pa.int64()),
            "event": pa.array(["set"] * len(pdf), pa.string()),
            "key": pa.array("user:" + pdf["user_id"].astype(str), pa.string()),
            "ts": pa.array(pdf["ts"], pa.timestamp("us", tz="UTC")),
            "origin": pa.array(["client"] * len(pdf), pa.string()),
            "snapshot": pa.array(snap, pa.map_(pa.string(), pa.string())),
        }
    )


def _publish(table: pa.Table, directory: str, name: str) -> float:
    """Write under a hidden name, rename into place; return the time the
    file became visible to the stream source."""
    hidden = os.path.join(directory, f".{name}")
    pq.write_table(table, hidden)
    os.rename(hidden, os.path.join(directory, name))
    return time.time()


def _etype(d):
    return {"etype": d["fields"].get("event_type", "").upper()}


def _ks_etype(d):
    return {"etype": d["snapshot"].get("event_type", "").upper()}


def bad_sink_waves(sink: pd.DataFrame, waves) -> list[int]:
    """Waves whose rows in a trigger sink (``event_id``, JSON ``result``)
    are missing, duplicated, or not ``upper(event_type)``."""
    got = sink.set_index("event_id")["result"].map(lambda s: json.loads(s)["etype"])
    bad = []
    for idx, ev in waves:
        sel = got[got.index.isin(ev["event_id"])]
        want = ev.set_index("event_id")["event_type"].str.upper()
        if len(sel) != len(ev) or not sel.index.is_unique or not sel.sort_index().equals(
            want.sort_index().rename(sel.name)
        ):
            bad.append(idx)
    return bad


def heavy_hitter_mismatches(events: pd.DataFrame, top: dict, hot_keys: int) -> int:
    """Recount the ``props`` items of the hottest stream keys and compare
    each key's reported top item and count with the recount."""
    keys = "user:" + events["user_id"].astype(str)
    bad = 0
    for key in keys.value_counts().index[:hot_keys]:
        counts = events.loc[keys == key, "props"].value_counts()
        item, est = (top.get(key) or [("", -1)])[0]
        if est != counts.max() or counts.get(item) != counts.max():
            harness.log(
                f"heavy hitters wrong for {key}: {(item, est)} "
                f"vs {counts.head(3).to_dict()}"
            )
            bad += 1
    return bad


def lookup_matches(rows, key: int, customer: pd.DataFrame) -> bool:
    """A lookup replies with exactly the ``customer`` row of its key (the
    TFCALL reply shapes each row as a list in column order)."""
    want = [key] + customer.loc[key].tolist()
    ok = len(rows) == 1 and list(rows[0]) == want
    if not ok:
        harness.log(f"lookup {key} returned {rows}, want {want}")
    return ok


class GearsLive:
    name = "gears_live"
    WAVE_EVENTS = 1000
    WARM_EVENTS = 500
    LOOKUPS_PER_WAVE = 10
    NOOP_CALLS = 2000
    HOT_KEYS = 3
    COMMIT_TIMEOUT_S = 120.0

    def __init__(self, spark, sf_dir, run_dir, seed, tracer):
        self.spark, self.sf_dir, self.run_dir = spark, sf_dir, run_dir
        self.seed, self.tracer = seed, tracer
        self.waves: list[dict] = []
        self.lookups: list[dict] = []
        self.noop_rates: list[float] = []
        self.progress: dict[str, list[dict]] = {}
        self.failed = 0
        self.checks = 0
        self.calls_failed = 0
        self.next_id = 0
        self.customer = pd.read_parquet(os.path.join(sf_dir, "customer.parquet"))

    def prepare(self) -> None:
        from redisgears_spark.engine import NO_WRITES, GearsEngine
        from redisgears_spark.streaming import (
            KeyspaceTriggerRuntime,
            StreamTriggerRuntime,
            events_to_stream,
        )
        from redisgears_spark.streaming.stateful import (
            StreamingHeavyHittersRuntime,
        )

        d = self.run_dir
        self.spool = os.path.join(d, "spool")
        self.changes = os.path.join(d, "changes")
        os.makedirs(self.spool, exist_ok=True)
        os.makedirs(self.changes, exist_ok=True)
        self.engine = GearsEngine(self.spark, self.sf_dir)

        def setup(lib):
            lib.register_function("noop", lambda client: 1)
            lib.register_function(
                "lookup",
                lambda client, k: client.lookup("customer", int(k)).collect(),
                flags={NO_WRITES},
            )
            lib.register_stream_trigger(
                "etype", prefix="user:", fn=_etype, window=10**9
            )
            lib.register_keyspace_trigger("kset", prefix="user:", fn=_ks_etype)

        self.lib = self.engine.load_library(setup, name="live")
        self.st = StreamTriggerRuntime(
            self.engine, self.spool, os.path.join(d, "st"),
            source_adapter=events_to_stream,
        )
        self.kt = KeyspaceTriggerRuntime(
            self.engine, self.changes, os.path.join(d, "kt")
        )
        self.hh = StreamingHeavyHittersRuntime(
            self.engine, self.spool, os.path.join(d, "hh"),
            source_adapter=events_to_stream, field="props",
        )
        self.consumers = {
            "stream": self.st.start_trigger(self.lib, "etype"),
            "keyspace": self.kt.start_trigger(self.lib, "kset"),
            "stateful": self.hh.start(prefix="user:"),
        }
        self.progress = {k: [] for k in self.consumers}
        # the first epoch of each consumer and the first lookup pay codegen
        # and Python worker start; they run here, untimed
        self._wave(warm=True)
        self.engine.call("live", "lookup", 0)
        self.warm_batches = {k: len(v) for k, v in self.progress.items()}

    def prime(self) -> None:
        """Untimed: one block of lookups. The first calls after set-up run
        ~1.5x slower while the JVM compiles the lookup path."""
        for k in range(self.LOOKUPS_PER_WAVE):
            self.engine.call("live", "lookup", k)

    # -- one wave ------------------------------------------------------

    def _wave(self, warm: bool = False) -> dict:
        idx = len(self.waves) + (0 if warm else 1)
        n = self.WARM_EVENTS if warm else self.WAVE_EVENTS
        ev = datagen.wave_events(self.seed, idx, n, self.next_id)
        self.next_id += len(ev)
        t0 = time.time()
        with self.tracer.span("wave.publish"):
            vis_ev = _publish(_events_table(ev), self.spool, f"wave-{idx:05d}.parquet")
            vis_ch = _publish(_changes_table(ev), self.changes, f"chg-{idx:05d}.parquet")
        visible = {"stream": vis_ev, "keyspace": vis_ch, "stateful": vis_ev}
        with self.tracer.span("wave.wait"):
            commits = self._await_commits()
        wave = {
            "idx": idx,
            "events": ev,
            "lag_s": {k: commits[k] - visible[k] for k in commits},
            "wave_s": max(commits.values()) - t0,
        }
        if warm:
            self.warm_events = ev
        else:
            self.waves.append(wave)
        return wave

    def _await_commits(self) -> dict[str, float]:
        """Block until every consumer has committed all input so far;
        return each consumer's commit time from its progress records."""
        deadline = time.time() + self.COMMIT_TIMEOUT_S
        done: dict[str, float] = {}
        while len(done) < len(self.consumers):
            for k, q in self.consumers.items():
                if k in done:
                    continue
                if q.exception() is not None:
                    raise RuntimeError(f"consumer {k} died: {q.exception()}")
                seen = {r["batchId"] for r in self.progress[k]}
                for p in q.recentProgress:
                    r = json.loads(p.json)
                    if r["batchId"] not in seen and r["numInputRows"] > 0:
                        self.progress[k].append(r)
                        seen.add(r["batchId"])
                rows = sum(r["numInputRows"] for r in self.progress[k])
                if rows >= self.next_id:
                    done[k] = commit_time(self.progress[k][-1])
            if time.time() > deadline:
                raise RuntimeError(f"consumers did not commit in time: {sorted(done)}")
            time.sleep(0.01)
        return done

    # -- the loop ------------------------------------------------------

    def measure(self, seconds: float, min_ops: int) -> None:
        tr = self.tracer
        t0 = time.perf_counter()
        while keep_measuring(
            t0, seconds, min_ops, len(self.lookups) - self.calls_failed,
            self.calls_failed,
        ):
            wave = self._wave()
            rng = np.random.default_rng([self.seed, wave["idx"], 2])
            keys = rng.integers(0, len(self.customer), self.LOOKUPS_PER_WAVE)
            tr.op = "lookup"
            for k in keys:
                a = time.perf_counter()
                try:
                    with tr.span("engine.call", "rg:lookup:exec"):
                        rows = self.engine.call("live", "lookup", int(k))
                except Exception as exc:
                    harness.log(f"lookup {k} failed: {exc}")
                    rows = None
                    self.calls_failed += 1
                    self.failed += 1
                self.lookups.append(
                    {"key": int(k), "rows": rows, "s": time.perf_counter() - a}
                )
            tr.op = "noop"
            a = time.perf_counter()
            with tr.span("engine.noop_block"):
                for _ in range(self.NOOP_CALLS):
                    self.engine.call("live", "noop")
            self.noop_rates.append(self.NOOP_CALLS / (time.perf_counter() - a))
            harness.log(
                f"wave {wave['idx']}: {wave['wave_s']:.2f} s, lag "
                + ", ".join(f"{k} {v:.2f}" for k, v in wave["lag_s"].items())
                + f"; lookups {[round(lk['s'] * 1000) for lk in self.lookups[-len(keys):]]} ms"
            )

    # -- checks --------------------------------------------------------

    def verify(self) -> None:
        """Check every consumer's sink against the generated waves, the
        heavy-hitter summary of the hottest keys against a pandas recount,
        and each lookup row against the ``customer`` table."""
        waves = [(w["idx"], w["events"]) for w in self.waves]
        sinks = {
            "stream": self.st.read_sink("live", "etype").select(
                F.col("id").alias("event_id"), "result"
            ),
            "keyspace": self.kt.read_sink("live", "kset").select(
                F.col("seq").alias("event_id"), "result"
            ),
        }
        for consumer, sink in sinks.items():
            self.checks += len(waves)
            bad = bad_sink_waves(sink.toPandas(), waves)
            for idx in bad:
                harness.log(f"{consumer} sink wrong for wave {idx}")
            self.failed += len(bad)
        events = pd.concat(
            [self.warm_events] + [ev for _, ev in waves], ignore_index=True
        )
        self.checks += self.HOT_KEYS
        self.failed += heavy_hitter_mismatches(events, self.hh.top(), self.HOT_KEYS)
        cust = self.customer.set_index("c_custkey")
        # a lookup that raised is already counted as failed
        self.failed += sum(
            not lookup_matches(lk["rows"], lk["key"], cust)
            for lk in self.lookups
            if lk["rows"] is not None
        )

    # -- reports -------------------------------------------------------

    def latencies_ms(self) -> list[float]:
        """Every attempted lookup's time, failed ones included."""
        return [1000.0 * lk["s"] for lk in self.lookups]

    def throughput(self) -> float:
        """Stream events per second through every consumer."""
        return sum(len(w["events"]) for w in self.waves) / sum(
            w["wave_s"] for w in self.waves
        )

    def attempted(self) -> int:
        """Lookups (each checked against ``customer``) plus the sink and
        heavy-hitter checks."""
        return len(self.lookups) + self.checks

    def layer_extra(self) -> dict:
        def lag(k):
            return median([w["lag_s"][k] for w in self.waves])

        st, ks, hh = (
            summarise_progress(self.progress[k][self.warm_batches[k]:])
            for k in ("stream", "keyspace", "stateful")
        )

        def files(d):
            return len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))

        dead = glob.glob(os.path.join(self.run_dir, "st", "errors", "**", "*.parquet"),
                         recursive=True)
        return {
            "engine.noop_per_s": median(self.noop_rates),
            "triggers.stream_lag_p50_s": lag("stream"),
            "triggers.keyspace_lag_p50_s": lag("keyspace"),
            "triggers.batches": st["batches"] + ks["batches"],
            "triggers.input_rows": st["input_rows"] + ks["input_rows"],
            "triggers.add_batch_ms": median([st["addBatch"], ks["addBatch"]]),
            "triggers.query_planning_ms": median(
                [st["queryPlanning"], ks["queryPlanning"]]
            ),
            "triggers.latest_offset_ms": median(
                [st["latestOffset"], ks["latestOffset"]]
            ),
            "triggers.wal_commit_ms": median([st["walCommit"], ks["walCommit"]]),
            "triggers.commit_offsets_ms": median(
                [st["commitOffsets"], ks["commitOffsets"]]
            ),
            "triggers.sink_files": files(os.path.join(self.run_dir, "st", "sink"))
            + files(os.path.join(self.run_dir, "kt", "cdc_sink")),
            "triggers.dead_letters": sum(
                pq.ParquetFile(p).metadata.num_rows for p in dead
            ),
            "stateful.lag_p50_s": lag("stateful"),
            "stateful.batches": hh["batches"],
            "stateful.add_batch_ms": hh["addBatch"],
            "stateful.state_rows": hh.get("state_rows", 0),
            "stateful.state_mb": hh.get("state_bytes", 0) / 1e6,
            "stateful.state_update_ms": hh.get("state_update_ms", 0.0),
            "stateful.state_commit_ms": hh.get("state_commit_ms", 0.0),
            "stateful.state_partitions": hh.get("state_partitions", 0),
            "stateful.sink_files": files(self.hh.sink_dir),
        }

    def close(self) -> None:
        for rt in (self.st, self.kt):
            rt.stop_all()
        self.hh.stop()


WORKLOADS = {w.name: w for w in (QueriesShort, GearsLive)}
