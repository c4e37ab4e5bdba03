"""sparkgears benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload queries_short --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds the fixture (once per
checkout), sets the engine up ``SETUP_REPS`` times (``setup_s`` is the
median of those set-ups; with two it is their mean), primes the last
set-up untimed, drives the workload's closed-loop client on it for
``--seconds`` and at least ``MIN_OPS`` successful operations (so the named
tail percentile has ten samples beyond it; the loop stops early once
``MIN_OPS`` operations have failed), checks the outputs outside the timed
region, and prints the result as the last line of stdout:

* ``--trace 0``: the end-to-end metrics, with tracing off;
* ``--trace 1``: the per-layer metrics, from job groups, Spark's event log
  and streaming progress; this run also writes its spans to
  ``.perfbench/trace-<workload>.json``.

Exit status is non-zero, with no result line, when the checkout does not
hold the program or when the run itself breaks.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from stats import median, min_samples, percentile  # noqa: E402

SETUP_REPS = 2
TAIL_P = 66.0
MIN_OPS = min_samples(TAIL_P)


def declared_metrics() -> dict[str, dict[str, str]]:
    """Metric name -> unit for ``end_to_end`` and ``per_layer``, as
    ``BENCHMARK.json`` at the checkout root declares them."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        kind: {m["name"]: m["unit"] for m in bench[kind]}
        for kind in ("end_to_end", "per_layer")
    }


def layer_metrics(wl, tracer, groups: dict, setup: list[dict], names) -> dict:
    """Per-layer numbers of one traced run. Counts and seconds are per
    operation: per query on ``queries_short``, per lookup on
    ``gears_live``. Layers a workload does not touch read 0."""
    from tracing import phase_totals

    n = max(1, len(wl.latencies_ms()))
    opens, open_s, open_jobs = tracer.totals("sources.open")
    scr, scr_s, scr_jobs = tracer.totals("sources.scratch")
    builds, build_s, build_jobs = tracer.totals("operators.build")
    _, query_exec_s, query_exec_jobs = tracer.totals("exec")
    calls, call_s, call_jobs = tracer.totals("engine.call")
    # self times: source spans nest in builds (queries) or in calls (lookups)
    if builds:
        build_s -= open_s + scr_s
    exec_s = query_exec_s + (call_s - open_s - scr_s if calls else 0.0)
    exec_jobs = query_exec_jobs + call_jobs
    ex = phase_totals(groups, "exec")
    m = dict.fromkeys(names, 0.0)
    m.update(
        {
            "session.start_s": median([s["start_s"] for s in setup]),
            "session.warmup_s": median([s["warmup_s"] for s in setup]),
            "sources.opens": opens / n,
            "sources.open_s": open_s / n,
            "sources.open_jobs": open_jobs / n,
            "sources.scratch_writes": scr / n,
            "sources.scratch_s": scr_s / n,
            "sources.scratch_jobs": scr_jobs / n,
            "operators.build_s": build_s / n,
            "operators.build_jobs": build_jobs / n,
            "operators.build_share": build_s / (build_s + exec_s),
            "exec.s": exec_s / n,
            "exec.jobs": exec_jobs / n,
            "exec.stages": ex["stages"] / n,
            "exec.tasks": ex["tasks"] / n,
            "exec.empty_task_ratio": ex["empty_tasks"] / max(1, ex["tasks"]),
            "exec.task_s": ex["task_s"] / n,
            "exec.core_busy": ex["task_s"] / (exec_s * harness.cpus()),
            "exec.gc_s": ex["gc_s"] / n,
            "exec.input_mb": ex["input_bytes"] / 1e6 / n,
            "exec.shuffle_read_mb": ex["shuffle_read_bytes"] / 1e6 / n,
            "exec.shuffle_write_mb": ex["shuffle_write_bytes"] / 1e6 / n,
            "exec.spill_mb": ex["spill_bytes"] / 1e6 / n,
            "trace.op_p50_ms": median(wl.latencies_ms()),
            "trace.spans": len(tracer.spans),
        }
    )
    m.update(wl.layer_extra())
    if calls:
        m["engine.calls"] = calls + len(wl.noop_rates) * wl.NOOP_CALLS
        m["engine.call_failed"] = wl.calls_failed
        m["engine.dispatch_us"] = 1e6 / m["engine.noop_per_s"]
        m["engine.lookup_jobs"] = (open_jobs + call_jobs) / n
    undeclared = set(m) - set(names)
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    return m


def run_workload(args, sf_dir: str, run_dir: str, tracer, event_dir):
    """Set up ``SETUP_REPS`` times, measure on the last set-up, check the
    outputs, stop Spark. Returns the workload, the set-up timings and the
    end-to-end metrics."""
    from workloads import WORKLOADS

    setup: list[dict] = []
    for rep in range(SETUP_REPS):
        last = rep == SETUP_REPS - 1
        rep_dir = os.path.join(run_dir, f"rep{rep}")
        os.makedirs(rep_dir)
        t0 = time.perf_counter()
        spark = harness.start_session(run_dir, event_dir if last else None)
        t1 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, sf_dir, rep_dir, args.seed, tracer)
        wl.prepare()
        t2 = time.perf_counter()
        setup.append({"start_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t2 - t0})
        if not last:
            wl.close()
            spark.stop()

    t0 = time.perf_counter()
    wl.prime()
    t_prime = time.perf_counter() - t0
    tracer.attach(spark)
    tracer.active = True
    t0 = time.perf_counter()
    wl.measure(args.seconds, MIN_OPS)
    tracer.active = False
    t1 = time.perf_counter()
    rss_mb = harness.peak_rss_mb()
    wl.verify()
    harness.log(
        f"set-up {[round(s['total_s'], 2) for s in setup]} s, primed "
        f"{t_prime:.1f} s, measured "
        f"{t1 - t0:.1f} s, checks {time.perf_counter() - t1:.1f} s"
    )
    lat = wl.latencies_ms()
    e2e = {
        "setup_s": median([s["total_s"] for s in setup]),
        "driver_rss_mb": rss_mb,
        "op_p50_ms": median(lat),
        "op_p66_ms": percentile(lat, TAIL_P),
        "throughput_per_s": wl.throughput(),
    }
    wl.close()
    spark.stop()
    return wl, setup, e2e


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    harness.require_program()
    declared = declared_metrics()
    sf_dir = harness.fixture_dir()
    run_dir = harness.make_run_dir(args.workload)
    from tracing import Tracer, per_query, read_event_logs, wrap_sources

    tracer = Tracer(bool(args.trace))
    if tracer.enabled:
        wrap_sources(tracer)
    event_dir = os.path.join(run_dir, "eventlog") if tracer.enabled else None

    try:
        wl, setup, result_e2e = run_workload(args, sf_dir, run_dir, tracer, event_dir)
        if tracer.enabled:
            groups = read_event_logs(event_dir)
            units = declared["per_layer"]
            values = layer_metrics(wl, tracer, groups, setup, units)
            tracer.dump(os.path.join(harness.WORK_ROOT, f"trace-{args.workload}.json"))
            with open(
                os.path.join(harness.WORK_ROOT, f"eventlog-{args.workload}.json"), "w"
            ) as f:
                json.dump(per_query(groups), f, indent=1)
        else:
            values, units = result_e2e, declared["end_to_end"]
    finally:
        harness.stop_jvm()
        harness.remove_run_dir(run_dir)

    out = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted(),
        "failed": wl.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except harness.MissingProgram as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(2)
