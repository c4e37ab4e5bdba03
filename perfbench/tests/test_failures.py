"""Operations that raise are counted as failed and timed like the others,
and a run whose operations all fail ends instead of hanging."""

from __future__ import annotations

import pytest

import datagen
import harness
from run import MIN_OPS
from tracing import Tracer
from workloads import GearsLive, QueriesShort


class _Engine:
    """Stands in for ``GearsEngine``: ``noop`` returns 1, and every
    ``fail_every``-th lookup raises; the others reply with the row."""

    def __init__(self, customer, fail_every: int):
        self.customer = customer.set_index("c_custkey")
        self.fail_every = fail_every
        self.lookups = 0

    def call(self, lib, fn, *args):
        if fn == "noop":
            return 1
        self.lookups += 1
        if self.lookups % self.fail_every == 0:
            raise RuntimeError("lookup broke")
        k = int(args[0])
        return [[k] + self.customer.loc[k].tolist()]


def _gears(tmp_path, fail_every: int) -> GearsLive:
    cust = datagen.fixture_tables(scale=0.01)["customer"]
    cust.to_parquet(tmp_path / "customer.parquet")
    wl = GearsLive(None, str(tmp_path), str(tmp_path), 1, Tracer(False))
    wl.engine = _Engine(cust, fail_every)
    idx = iter(range(1, 10**6))
    # waves are not under test: each "wave" commits at once
    wl._wave = lambda: {"idx": next(idx), "wave_s": 1.0, "lag_s": {}}
    wl.NOOP_CALLS = 10
    return wl


def test_a_lookup_that_raises_is_a_failed_operation(tmp_path):
    wl = _gears(tmp_path, fail_every=3)
    wl.measure(0.0, MIN_OPS)
    raised = sum(lk["rows"] is None for lk in wl.lookups)
    assert raised > 0
    assert wl.failed == wl.calls_failed == raised
    assert len(wl.latencies_ms()) == len(wl.lookups) == wl.attempted()
    assert len(wl.lookups) - raised >= MIN_OPS


def test_gears_run_ends_when_every_lookup_raises(tmp_path):
    wl = _gears(tmp_path, fail_every=1)
    wl.measure(0.0, MIN_OPS)
    assert wl.failed == len(wl.lookups) >= MIN_OPS
    assert len(wl.latencies_ms()) >= MIN_OPS


@pytest.fixture
def queries(monkeypatch):
    monkeypatch.setattr(harness, "run_noop", lambda df: None)
    wl = QueriesShort(None, "unused", "unused", 1, Tracer(False))
    return wl


def _broken(spark, sf_dir):
    raise RuntimeError("builder broke")


def test_a_query_that_raises_is_a_failed_operation(queries):
    wl = queries
    wl.queries = {n: (lambda s, d: object()) for n in wl.names}
    wl.queries[wl.names[0]] = _broken
    wl.measure(0.0, MIN_OPS)
    passes = len(wl.ops) // len(wl.names)
    assert wl.failed == passes == sum(not o["ok"] for o in wl.ops)
    assert len(wl.latencies_ms()) == len(wl.ops) == wl.attempted()
    assert sum(o["ok"] for o in wl.ops) >= MIN_OPS


def test_queries_run_ends_when_every_query_raises(queries):
    wl = queries
    wl.queries = {n: _broken for n in wl.names}
    wl.measure(0.0, MIN_OPS)
    assert wl.failed == len(wl.ops) >= MIN_OPS
    assert wl.throughput() == 0.0
