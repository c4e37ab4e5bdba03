#!/usr/bin/env python
"""Cross-build checkpoint-resume check for the stateful runtimes.

A checkpoint and sink written by one build must resume under another:
directory names, query names, state schemas and sink rows are on-disk
contracts. For StatefulStatsRuntime, StreamingHeavyHittersRuntime and
StreamingWordFreqRuntime this tool

  1. drains spool part 1 with the OLD build (`--old`, a plain checkout
     of the earlier commit, e.g. made with `git clone` + `git checkout`);
  2. appends part 2 and resumes from that checkpoint with THIS checkout;
  3. runs both parts on a fresh work dir with THIS checkout (clean run);
  4. compares every sink row (epoch included) and the read APIs
     (`latest()`, `top()`, `word_freq()`) of the resumed and clean runs.

Each phase runs in its own Python process, so each build imports only
its own package. Exit status 0 means every runtime matched.

Usage:
    python tools/stateful_resume_check.py --old /path/to/old/checkout \\
        --work /tmp/resume-check
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORDS = ["alpha", "beta", "gamma", "delta", "eps"]


def _parts() -> dict[str, tuple[str, dict, list[list[tuple]]]]:
    """runtime name -> (class, constructor kwargs, [part 1 rows, part 2
    rows]); a row is (stream_key, id, fields)."""
    wf = [
        [
            (f"doc:{d}", d, {
                "doc_id": str(d),
                "text": " ".join(_WORDS[(d + j) % 5] for j in range(d % 4 + 1)),
            })
            for d in range(p * 30, p * 30 + 30)
        ]
        for p in (0, 1)
    ]
    # part 2 re-delivers doc 3 and deletes doc 5 (replace and delete paths)
    wf[1] += [
        ("doc:3", 100, {"doc_id": "3", "text": "zeta zeta"}),
        ("doc:5", 101, {"doc_id": "5", "__ctl__": "del"}),
    ]
    return {
        "stats": ("StatefulStatsRuntime", {}, [
            [(f"s:{i % 3}", i, {"value": f"{i}.25"})
             for i in range(p * 20, p * 20 + 20)]
            for p in (0, 1)
        ]),
        "hh": ("StreamingHeavyHittersRuntime",
               {"field": "item", "cap": 4, "topk": 3}, [
            [(f"k:{i % 2}", i, {"item": f"i{(i * i) % 7}"})
             for i in range(p * 50, p * 50 + 50)]
            for p in (0, 1)
        ]),
        "wf": ("StreamingWordFreqRuntime", {}, wf),
    }


def _phase(phase: int, work: str) -> None:
    """Run one phase with the package found first on sys.path."""
    import pandas as pd

    import redisgears_spark.streaming as streaming
    from redisgears_spark.engine import GearsEngine
    from redisgears_spark.session import get_spark

    spark = get_spark("stateful-resume-check", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    engine = GearsEngine(spark)
    out = {}
    for name, (cls_name, kwargs, parts) in _parts().items():
        spool = os.path.join(work, name, "spool")
        pdf = pd.DataFrame([
            {"stream_key": k, "id": i, "id_ts": pd.Timestamp("2024-01-01"),
             "fields": f, "record": None}
            for k, i, f in parts[phase - 1]
        ])
        spark.createDataFrame(pdf, streaming.STREAM_SCHEMA).coalesce(
            1).write.mode("append").parquet(spool)
        rt = getattr(streaming, cls_name)(
            engine, spool, os.path.join(work, name, "work"), **kwargs
        )
        rt.start()
        rt.process_available()
        rt.stop()
        if phase == 1:
            continue
        sink = sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
            for r in spark.read.parquet(rt.sink_dir).collect()
        )
        if name == "stats":
            api = rt.latest()
        elif name == "hh":
            api = rt.top()
        else:
            api = sorted(
                (r["word"], r["freq"]) for r in rt.word_freq().collect()
            )
        out[name] = {"sink": sink, "api": json.loads(json.dumps(api))}
    if phase == 2:
        with open(os.path.join(work, "result.json"), "w") as fh:
            json.dump(out, fh, sort_keys=True)
    spark.stop()


def _run(code_root: str, phase: int, work: str) -> None:
    env = dict(os.environ, PYTHONPATH=code_root)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__),
         "--phase", str(phase), "--work", work],
        cwd=code_root, env=env, check=True,
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", help="checkout of the build that writes part 1")
    ap.add_argument("--work", required=True)
    ap.add_argument("--phase", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.phase:
        sys.path.insert(0, os.getcwd())
        _phase(args.phase, args.work)
        return 0
    if not args.old:
        ap.error("--old is required")
    resumed = os.path.join(args.work, "resumed")
    clean = os.path.join(args.work, "clean")
    for d in (resumed, clean):
        shutil.rmtree(d, ignore_errors=True)
    _run(os.path.abspath(args.old), 1, resumed)
    _run(HERE, 2, resumed)
    _run(HERE, 1, clean)
    _run(HERE, 2, clean)
    with open(os.path.join(resumed, "result.json")) as fh:
        got = json.load(fh)
    with open(os.path.join(clean, "result.json")) as fh:
        want = json.load(fh)
    ok = True
    for name in want:
        same = got[name] == want[name]
        ok &= same
        print(
            f"{name}: {len(got[name]['sink'])} sink rows, "
            f"{'equal' if same else 'DIFFERENT'} to the clean run"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
