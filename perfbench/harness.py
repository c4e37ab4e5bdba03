"""Process set-up shared by the benchmark and its calibration tool.

Everything the benchmark writes lives under one work directory inside the
checkout (``.perfbench/``): the generated fixture, Spark's local and
warehouse dirs, Python/JVM temp files, spools, sinks and the event log.
"""

from __future__ import annotations

import hashlib
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench")


class MissingProgram(RuntimeError):
    """The checkout does not hold the program the benchmark measures."""


def require_program() -> None:
    """Fail unless the working directory is a checkout of the repository
    (the package and the DuckDB oracle module the checks import)."""
    need = [
        os.path.join(ROOT, "redisgears_spark", "__init__.py"),
        os.path.join(ROOT, "tests", "oracle.py"),
    ]
    missing = [p for p in need if not os.path.isfile(p)]
    if missing:
        raise MissingProgram(
            "run from the root of a sparkgears checkout; missing: "
            + ", ".join(os.path.relpath(p, ROOT) for p in missing)
        )


def fixture_dir() -> str:
    """Build the fixture once per checkout and datagen version, in a child
    process so that building it does not count in this process's peak
    RSS."""
    src = os.path.join(HERE, "datagen.py")
    with open(src, "rb") as f:
        tag = hashlib.sha1(f.read()).hexdigest()[:12]
    dest = os.path.join(WORK_ROOT, f"fixture-{tag}")
    if not os.path.exists(os.path.join(dest, "_COMPLETE")):
        subprocess.run([sys.executable, src, dest], check=True)
    return dest


def make_run_dir(label: str) -> str:
    """A fresh per-run directory; temp files of this process and of the
    Spark workers it starts go there too."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{label}-", dir=WORK_ROOT)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import the package and the benchmark's own modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return run_dir


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(run_dir: str, event_log_dir: str | None = None) -> dict:
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the JVM's perf-data file goes to /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
        ),
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(run_dir: str, event_log_dir: str | None = None):
    from redisgears_spark.session import get_spark

    spark = get_spark(
        "perfbench", cpus=cpus(), extra_conf=session_conf(run_dir, event_log_dir)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_noop(df) -> None:
    """Execute a query to the no-op sink, as bench.py does."""
    df.write.mode("overwrite").format("noop").save()


def _noop_pandas(batches):
    for pdf in batches:
        yield pdf


def warm_up(spark, sf_dir: str) -> None:
    """bench.py's warm-up for queries: scan + shuffle + codegen, then one
    Arrow stage so the Python worker pool exists before anything is
    timed."""
    from redisgears_spark.operators import QUERIES
    from redisgears_spark.sources.keyspace import load_table

    run_noop(QUERIES["q06_agg_stats"](spark, sf_dir))
    run_noop(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .mapInPandas(_noop_pandas, "doc_id long")
    )


def _stat(pid) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name; [] if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return []


def _alive(pid: int) -> bool:
    state = _stat(pid)
    return bool(state) and state[0] != "Z"


def _descendants(pid: int) -> list[int]:
    """Process ids below ``pid`` (Linux ``/proc``)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        fields = _stat(d) if d.isdigit() else []
        if fields:
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_jvm() -> None:
    """Stop the SparkContext, if any, and the JVM this process launched,
    and wait until the JVM and the Python workers it started have exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline and any(_alive(pid) for pid in workers):
        time.sleep(0.05)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def peak_rss_mb() -> float:
    """Peak resident set of this Python process, in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
