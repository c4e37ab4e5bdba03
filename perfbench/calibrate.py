"""Re-derive the frozen query bands (``bands.json``).

Runs every registry query twice on the benchmark fixture,
each under the job groups ``rg:<name>:build`` (the builder call) and
``rg:<name>:exec`` (running the returned plan to the no-op sink), and
records per name the build and exec seconds and job counts.

Band rule: a name is ``short`` when every pass took under 0.8 s, and
``heavy`` when every pass took at least 1.5 s. Names in between, or that
cross a boundary between passes, belong to neither band, so run-to-run
noise cannot move a name from one list to the other.

    python3 perfbench/calibrate.py            # writes perfbench/bands.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

SHORT_MAX_S = 0.8
HEAVY_MIN_S = 1.5
PASSES = 2


def band_of(totals: list[float]) -> str | None:
    if max(totals) < SHORT_MAX_S:
        return "short"
    if min(totals) >= HEAVY_MIN_S:
        return "heavy"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(harness.HERE, "bands.json"))
    args = ap.parse_args()

    harness.require_program()
    sf_dir = harness.fixture_dir()
    run_dir = harness.make_run_dir("calibrate")
    spark = harness.start_session(run_dir)
    from redisgears_spark.operators import QUERIES

    harness.warm_up(spark, sf_dir)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    names = sorted(QUERIES)
    rec: dict[str, dict] = {n: {"build_s": [], "exec_s": [], "jobs": []} for n in names}
    for p in range(PASSES):
        for name in names:
            r = rec[name]
            try:
                sc.setJobGroup(f"rg:{name}:build:{p}", name)
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(f"rg:{name}:exec:{p}", name)
                harness.run_noop(df)
                t2 = time.perf_counter()
            except Exception as e:  # a failing name joins no band
                r["error"] = f"{type(e).__name__}: {str(e)[:200]}"
                print(name, "ERROR", r["error"], flush=True)
                continue
            finally:
                sc._jsc.clearJobGroup()
            r["build_s"].append(round(t1 - t0, 3))
            r["exec_s"].append(round(t2 - t1, 3))
            r["jobs"].append(
                [
                    len(tracker.getJobIdsForGroup(f"rg:{name}:build:{p}")),
                    len(tracker.getJobIdsForGroup(f"rg:{name}:exec:{p}")),
                ]
            )
            print(name, r["build_s"][-1], r["exec_s"][-1], r["jobs"][-1], flush=True)
    spark.stop()
    harness.remove_run_dir(run_dir)

    bands: dict[str, dict] = {"short": {}, "heavy": {}}
    for name, r in rec.items():
        if "error" in r:
            continue
        totals = [b + e for b, e in zip(r["build_s"], r["exec_s"])]
        band = band_of(totals)
        if band is not None:
            bands[band][name] = {
                "build_s": r["build_s"],
                "exec_s": r["exec_s"],
                "build_jobs": r["jobs"][0][0],
                "exec_jobs": r["jobs"][0][1],
            }
    doc = {
        "rule": (
            f"short: every pass < {SHORT_MAX_S} s; heavy: every pass >= "
            f"{HEAVY_MIN_S} s (build + exec, noop sink, local[{harness.cpus()}], "
            f"{PASSES} passes); names between the bounds are in neither list"
        ),
        "registry_size": len(QUERIES),
        "short": bands["short"],
        "heavy": bands["heavy"],
    }
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(f"short={len(bands['short'])} heavy={len(bands['heavy'])} -> {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
