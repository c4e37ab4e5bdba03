"""Streaming shingle-index runtime — bit-parity with the batch
incremental dedup.

The contract under test (streaming/dedupindex.py): a corpus ingested
through the bucketed stateful stream builds EXACTLY the inverted shingle
index the batch dedup_incremental_batch path consumes, and
screen(new_batch) over the live index returns BIT-IDENTICAL rows (pairs,
exact integer intersections/sizes, IEEE jaccard/containment) to the
batch operator — whether the corpus arrives in one batch, in increments,
or with replayed records — and a `del` tombstone removes a document
exactly (the screen thereafter matches a batch over corpus-minus-doc).
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from redisgears_spark.engine import GearsEngine
from redisgears_spark.sources.keyspace import load_table
from redisgears_spark.streaming import StreamingShingleIndexRuntime

_INCR = ("src18", "src19")


def _write_spool(spark, sf_dir, spool, only_ids=None, exclude_ids=None):
    """base-corpus documents → STREAM_SCHEMA records (same rendering as
    the registered dedup_incremental_streamed operator)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        ~F.col("source").isin(list(_INCR))
    )
    if only_ids is not None:
        docs = docs.filter(F.col("doc_id").isin(list(only_ids)))
    if exclude_ids is not None:
        docs = docs.filter(~F.col("doc_id").isin(list(exclude_ids)))
    docs.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias(
            "stream_key"
        ),
        F.col("doc_id").cast("long").alias("id"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("id_ts"),
        F.create_map(
            F.lit("doc_id"),
            F.col("doc_id").cast("string"),
            F.lit("text"),
            F.col("text"),
        ).alias("fields"),
        F.lit(None)
        .cast("array<struct<field:string,value:string>>")
        .alias("record"),
    ).write.mode("append").parquet(spool)


def _increment(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin(list(_INCR)))
        .select("doc_id", "text")
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _runtime(spark, sf_dir, tmp_path, name="work"):
    return StreamingShingleIndexRuntime(
        GearsEngine(spark, sf_dir=sf_dir),
        str(tmp_path / "spool"),
        str(tmp_path / name),
    )


@pytest.fixture()
def batch_pairs(spark, sf_dir):
    from redisgears_spark.operators.dedup import dedup_incremental_batch

    return _rows(dedup_incremental_batch(spark, sf_dir))


def test_streamed_screen_bit_equals_batch(
    spark, sf_dir, tmp_path, batch_pairs
):
    """One-shot ingest of the base corpus → screen(increment) bit-equal
    to batch dedup_incremental_batch: same pairs, exact integers,
    IEEE-identical jaccard/containment."""
    _write_spool(spark, sf_dir, str(tmp_path / "spool"))
    rt = _runtime(spark, sf_dir, tmp_path)
    rt.start()
    rt.process_available()
    rt.stop()
    got = _rows(rt.screen(_increment(spark, sf_dir)))
    assert got == batch_pairs
    assert len(got) > 0  # the fixture plants near-dup pairs


def test_chunked_ingest_matches_one_shot(
    spark, sf_dir, tmp_path, batch_pairs
):
    """The index is fold-order-independent: the base corpus arriving in
    two increments (with a drain between them) reaches the same index
    and the same screen as a one-shot build."""
    docs = load_table(spark, sf_dir, "documents").filter(
        ~F.col("source").isin(list(_INCR))
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    first = set(ids[: len(ids) // 2])
    spool = str(tmp_path / "spool")
    rt = _runtime(spark, sf_dir, tmp_path)
    _write_spool(spark, sf_dir, spool, only_ids=first)
    rt.start()
    rt.process_available()
    _write_spool(spark, sf_dir, spool, exclude_ids=first)
    rt.process_available()
    rt.stop()
    assert _rows(rt.screen(_increment(spark, sf_dir))) == batch_pairs


def test_replay_is_idempotent(spark, sf_dir, tmp_path, batch_pairs):
    """Re-delivering the whole corpus (exactly-once replay after a
    crash) leaves the index unchanged: posting lists are sets, the size
    table a dict."""
    spool = str(tmp_path / "spool")
    _write_spool(spark, sf_dir, spool)
    rt = _runtime(spark, sf_dir, tmp_path)
    rt.start()
    rt.process_available()
    _write_spool(spark, sf_dir, spool)  # full replay
    rt.process_available()
    rt.stop()
    assert _rows(rt.screen(_increment(spark, sf_dir))) == batch_pairs
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(~F.col("source").isin(list(_INCR)))
        .count()
    )
    assert rt.doc_sizes().count() == n_docs  # no duplicate size rows


def test_delete_tombstone_removes_document(spark, sf_dir, tmp_path):
    """A `del` tombstone removes a base document exactly: the screen
    thereafter bit-matches a batch screen over corpus-minus-doc (pairs
    involving the deleted doc vanish, everything else untouched)."""
    from redisgears_spark.operators.dedup import dedup_incremental_batch
    from redisgears_spark.streaming.stateful import _CTL_DELETE, _CTL_FIELD
    from redisgears_spark.streaming.triggers import STREAM_SCHEMA

    # pick a base doc that participates in at least one pair
    pairs = dedup_incremental_batch(spark, sf_dir).collect()
    victim = min(r["base_id"] for r in pairs)
    spool = str(tmp_path / "spool")
    _write_spool(spark, sf_dir, spool)
    rt = _runtime(spark, sf_dir, tmp_path)
    rt.start()
    rt.process_available()
    text = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == victim)
        .select("text")
        .collect()[0]["text"]
    )
    spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "stream_key": f"doc:{victim}",
                    "id": 10**9,  # after the ingest records
                    "id_ts": pd.Timestamp("2024-01-02"),
                    "fields": {
                        _CTL_FIELD: _CTL_DELETE,
                        "doc_id": str(victim),
                        "text": text,
                    },
                    "record": None,
                }
            ]
        ),
        STREAM_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(spool)
    rt.process_available()
    rt.stop()
    got = _rows(rt.screen(_increment(spark, sf_dir)))
    want = [
        tuple(r)
        for r in sorted(map(tuple, pairs))
        if r[1] != victim  # base_id column
    ]
    assert got == want
    assert len(got) < len(pairs)
    assert (
        rt.doc_sizes().filter(F.col("doc_id") == victim).count() == 0
    )


def test_random_corpus_pin(spark, tmp_path):
    """Constructed-corpus pin, independent of the parquet fixtures: a
    seeded random word corpus streamed in, screened against a random new
    batch, must match a pure-Python reference (set Jaccard over word
    3-grams) exactly."""
    from redisgears_spark.operators.dedup import _shingles_py
    from redisgears_spark.streaming.triggers import STREAM_SCHEMA

    rng = random.Random(0xD5D0)
    vocab = [f"w{i}" for i in range(40)]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30)))

    base = {i: doc() for i in range(60)}
    # plant partial copies so jaccard>=0.2 pairs exist
    new = {1000 + i: doc() for i in range(20)}
    for i in range(8):
        words = base[i].split()
        keep = words[: max(3, len(words) * 3 // 4)]
        new[2000 + i] = " ".join(keep + [rng.choice(vocab)])

    spool = str(tmp_path / "spool")
    spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "stream_key": f"doc:{i}",
                    "id": i,
                    "id_ts": pd.Timestamp("2024-01-01"),
                    "fields": {"doc_id": str(i), "text": t},
                    "record": None,
                }
                for i, t in base.items()
            ]
        ),
        STREAM_SCHEMA,
    ).write.parquet(spool)
    rt = StreamingShingleIndexRuntime(
        GearsEngine(spark, sf_dir="/root/testdata/sf0.001"),
        spool,
        str(tmp_path / "work"),
        n_buckets=7,  # deliberately tiny: many shingles per bucket
    )
    rt.start()
    rt.process_available()
    rt.stop()
    new_df = spark.createDataFrame(
        pd.DataFrame(
            [{"doc_id": i, "text": t} for i, t in new.items()]
        ),
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["base_id"]): (
            r["inter"],
            r["union_n"],
            r["jaccard"],
            r["containment"],
        )
        for r in rt.screen(new_df).collect()
    }
    want = {}
    base_sh = {i: set(_shingles_py(t)) for i, t in base.items()}
    for ni, nt in new.items():
        ns = set(_shingles_py(nt))
        for bi, bs in base_sh.items():
            inter = len(ns & bs)
            if inter == 0:
                continue
            union = len(ns) + len(bs) - inter
            if inter / union >= 0.2:
                want[(ni, bi)] = (
                    inter,
                    union,
                    inter / union,
                    inter / min(len(ns), len(bs)),
                )
    assert len(want) >= 8  # every planted copy survives the threshold
    assert got == want


def test_screen_plan_shape(spark, sf_dir, tmp_path):
    """Plan pin for screen(): the pairs come from one shingle equi-join
    (no cartesian product, no broadcast of the corpus-sized postings
    side) and the index explode stays JVM-side."""
    _write_spool(spark, sf_dir, str(tmp_path / "spool"))
    rt = _runtime(spark, sf_dir, tmp_path)
    rt.start()
    rt.process_available()
    rt.stop()
    plan = rt.screen(_increment(spark, sf_dir))._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan  # JVM-side postings explode


def test_live_minhash_bands_match_batch_band_table(spark, sf_dir, tmp_path):
    """The INCREMENTAL.md scale-path claim, pinned: a document's
    shingles streamed through StreamingMinHashRuntime produce EXACTLY
    the band hashes the batch _sketched_docs table assigns the same
    document — so live signatures can equi-join the saved band table as
    the banded candidate generator (dedup_incremental_lsh's candidate
    join, served from streaming state)."""
    from redisgears_spark.operators.dedup import _sketched_docs
    from redisgears_spark.streaming import StreamingMinHashRuntime
    from redisgears_spark.streaming.triggers import STREAM_SCHEMA

    want = {
        r["doc_id"]: [b["band_hash"] for b in r["bands"]]
        for r in _sketched_docs(spark, sf_dir)
        .join(
            load_table(spark, sf_dir, "documents")
            .filter(F.col("source").isin(list(_INCR)))
            .select("doc_id"),
            "doc_id",
        )
        .collect()
    }
    sh = {
        r["doc_id"]: r["sh"]
        for r in _sketched_docs(spark, sf_dir)
        .filter(F.col("doc_id").isin(list(want)))
        .select("doc_id", "sh")
        .collect()
    }
    rows = []
    i = 0
    for doc_id, shingles in sh.items():
        for s in shingles:
            rows.append(
                {
                    "stream_key": f"doc:{doc_id}",
                    "id": i,
                    "id_ts": pd.Timestamp("2024-01-01"),
                    "fields": {"u": s},
                    "record": None,
                }
            )
            i += 1
    spool = str(tmp_path / "spool")
    spark.createDataFrame(pd.DataFrame(rows), STREAM_SCHEMA).write.parquet(
        spool
    )
    rt = StreamingMinHashRuntime(
        GearsEngine(spark, sf_dir=sf_dir),
        spool,
        str(tmp_path / "work"),
        field="u",
    )
    rt.start()
    rt.process_available()
    rt.stop()
    got = {
        int(k.split(":", 1)[1]): v["bands"]
        for k, v in rt.signatures().items()
    }
    assert got == want  # live bands == batch band table, hash for hash
    assert len(got) > 0


def test_degenerate_documents_match_python_reference(spark, tmp_path):
    """Edge pin: short (<3 words), empty, and whitespace-only documents
    stream through the index exactly as the batch shingle kernel treats
    them (all collapse to the sentinel [''] shingle, so every
    degenerate doc pairs with every other at jaccard 1.0) — screened
    against a pure-Python _shingles_py reference."""
    from redisgears_spark.operators.dedup import _shingles_py
    from redisgears_spark.streaming.triggers import STREAM_SCHEMA

    base = {0: "a b", 1: "", 2: "   ", 3: "x y z w v u t s"}
    new = {100: "q r", 101: "x y z w v q", 102: "only two"}
    spool = str(tmp_path / "spool")
    spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "stream_key": f"doc:{i}",
                    "id": i,
                    "id_ts": pd.Timestamp("2024-01-01"),
                    "fields": {"doc_id": str(i), "text": t},
                    "record": None,
                }
                for i, t in base.items()
            ]
        ),
        STREAM_SCHEMA,
    ).write.parquet(spool)
    rt = StreamingShingleIndexRuntime(
        GearsEngine(spark, sf_dir="/root/testdata/sf0.001"),
        spool,
        str(tmp_path / "work"),
        n_buckets=3,
    )
    rt.start()
    rt.process_available()
    rt.stop()
    new_df = spark.createDataFrame(
        pd.DataFrame([{"doc_id": i, "text": t} for i, t in new.items()]),
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["base_id"]): (r["inter"], r["jaccard"])
        for r in rt.screen(new_df).collect()
    }
    want = {}
    base_sh = {i: set(_shingles_py(t)) for i, t in base.items()}
    for ni, nt in new.items():
        ns = set(_shingles_py(nt))
        for bi, bs in base_sh.items():
            inter = len(ns & bs)
            if inter == 0:
                continue
            union = len(ns) + len(bs) - inter
            if inter / union >= 0.2:
                want[(ni, bi)] = (inter, inter / union)
    assert got == want
    # the degenerate docs DID pair: every <3-word doc shares ['']
    assert (100, 0) in got and got[(100, 0)] == (1, 1.0)
    assert (100, 1) in got and (100, 2) in got and (102, 0) in got


def test_compact_sink_shingle_index_screen_unchanged(
    spark, sf_dir, tmp_path, batch_pairs
):
    """compact_sink() on the shingle index (bucket-keyed sink): the
    screen is bit-unchanged after compaction and the sink shrinks to
    one row per touched bucket."""
    docs = load_table(spark, sf_dir, "documents").filter(
        ~F.col("source").isin(list(_INCR))
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    first = set(ids[: len(ids) // 2])
    spool = str(tmp_path / "spool")
    rt = _runtime(spark, sf_dir, tmp_path)
    _write_spool(spark, sf_dir, spool, only_ids=first)
    rt.start()
    rt.process_available()
    _write_spool(spark, sf_dir, spool, exclude_ids=first)
    rt.process_available()
    rt.stop()
    before = spark.read.parquet(rt.sink_dir).count()
    after = rt.compact_sink()
    assert after < before
    assert after <= rt.n_buckets
    assert _rows(rt.screen(_increment(spark, sf_dir))) == batch_pairs


def test_compact_sink_stream_key_runtime(spark, sf_dir, tmp_path):
    """compact_sink() on a stream_key-keyed runtime (the default group
    key): MinHash signatures are unchanged after compaction."""
    from redisgears_spark.streaming import StreamingMinHashRuntime
    from redisgears_spark.streaming.triggers import STREAM_SCHEMA

    spool = str(tmp_path / "spool")

    def write_chunk(chunk):
        spark.createDataFrame(
            pd.DataFrame(
                [
                    {
                        "stream_key": f"k:{i % 3}",
                        "id": i,
                        "id_ts": pd.Timestamp("2024-01-01"),
                        "fields": {"u": f"v{i % 17}"},
                        "record": None,
                    }
                    for i in chunk
                ]
            ),
            STREAM_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(spool)

    write_chunk(range(0, 40))
    rt = StreamingMinHashRuntime(
        GearsEngine(spark, sf_dir=sf_dir),
        spool,
        str(tmp_path / "work"),
        field="u",
    )
    rt.start()
    rt.process_available()
    write_chunk(range(40, 80))  # second epoch — keys re-emit
    rt.process_available()
    rt.stop()
    before = spark.read.parquet(rt.sink_dir).count()
    snapshot = rt.signatures()
    after = rt.compact_sink()
    assert after == 3 < before  # one row per stream_key
    assert rt.signatures() == snapshot


def test_state_shuffle_width_sized_by_spool_bytes(spark, sf_dir, tmp_path):
    """r14 state-shuffle sizing: the stateful ingest plans its state
    tasks from the SPOOL BYTES (clamped by cores and the bucket count),
    not from the session's core-count shuffle width — the r13 driver
    measured the streamed twins slower at 32 cores than 8 because every
    micro-batch opened 32 near-empty state stores. Pins (a) the derived
    width for the fixture spool, (b) that the session conf is restored
    after start() (the stream plans on a clone), and (c) that the
    checkpoint recorded the pinned width, i.e. the stream really ran at
    it."""
    import glob as _glob
    import json as _json
    import os as _os

    _write_spool(spark, sf_dir, str(tmp_path / "spool"))
    rt = _runtime(spark, sf_dir, tmp_path)
    want = rt._state_partitions()
    assert 1 <= want <= min(
        spark.sparkContext.defaultParallelism, rt.n_buckets
    )
    # the fixture spool is dimension-sized: the width must undercut a
    # 32-core session's default fan-out
    assert want < 32
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    rt.start()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    rt.process_available()
    rt.stop()
    offs = sorted(
        p
        for p in _glob.glob(_os.path.join(rt._ckpt_dir, "offsets", "*"))
        if not _os.path.basename(p).startswith(".")
    )
    with open(offs[0]) as fh:
        meta = _json.loads(fh.read().splitlines()[1])
    assert meta["conf"]["spark.sql.shuffle.partitions"] == str(want)
