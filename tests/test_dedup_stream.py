"""Streaming incremental MinHash dedup (streaming/dedup_stream.py):
arriving micro-batches deduplicate against everything accepted so far.

Checked here:
1. injected near-verbatim copies (first token dropped — the
   dedup_decontaminate leak recipe) of earlier-batch docs are rejected;
2. cross-batch band-disjointness: no accepted doc shares an LSH band
   with an accepted doc from an earlier batch;
3. within-batch clusters keep exactly their min-id member;
4. replaying a batch (restart-without-checkpoint) leaves state and
   output unchanged — the idempotency claim;
5. the run is deterministic end-to-end (same batches -> same accepted
   set on a fresh state).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from binance_etl_spark.catalog import load
from binance_etl_spark.streaming.dedup_stream import (
    batch_bands,
    foreach_batch_minhash_dedup,
)


def _batches(spark, sf_dir):
    """Two arrival batches: 40 base docs, then 40 more of which 10 are
    near-copies of batch-0 docs (ids offset by 10_000)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = d.where(F.col("doc_id") < 40)
    leaks = (
        d.where(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    b1 = d.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 70)).unionByName(leaks)
    return b0, b1


def _run(spark, sf_dir, root):
    state = os.path.join(root, "state")
    out = os.path.join(root, "out")
    apply = foreach_batch_minhash_dedup(state, out)
    b0, b1 = _batches(spark, sf_dir)
    apply(b0, 0)
    apply(b1, 1)
    accepted = spark.read.parquet(out)  # reads all batch=* dirs
    return state, out, apply, b1, sorted(
        r["doc_id"] for r in accepted.select("doc_id").collect()
    )


def test_stream_dedup_rejects_cross_batch_near_dups(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="besk_sdedup_")
    state, out, _, _, acc = _run(spark, sf_dir, root)

    # every injected near-copy (>= 10_000) must be rejected: its source
    # doc was accepted in batch 0 (unless that source itself was a
    # within-batch dup — then the copy collides with the kept member)
    assert not [i for i in acc if i >= 10_000]

    # cross-batch band-disjointness of the accepted set
    docs = spark.read.parquet(out).select("doc_id", "text")
    bands = batch_bands(docs, "doc_id", "text")
    a, b = bands.alias("a"), bands.alias("b")
    clash = a.join(
        b,
        (F.col("a.band_no") == F.col("b.band_no"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    # accepted docs from DIFFERENT batches never collide; same-batch
    # collisions cannot exist either (CC kept one member per cluster)
    assert clash.count() == 0

    # state holds exactly the accepted docs' bands
    st = spark.read.parquet(state)
    assert sorted(
        r["doc_id"] for r in st.select("doc_id").distinct().collect()
    ) == acc


def test_stream_dedup_replay_is_idempotent(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="besk_sdedup_")
    state, out, apply, b1, acc = _run(spark, sf_dir, root)
    st_before = sorted(map(tuple, spark.read.parquet(state).collect()))
    apply(b1, 1)  # replayed micro-batch after a simulated restart
    st_after = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert st_before == st_after
    acc_after = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert acc_after == acc


def test_stream_dedup_is_deterministic(spark, sf_dir):
    acc1 = _run(spark, sf_dir, tempfile.mkdtemp(prefix="besk_sdedup_"))[4]
    acc2 = _run(spark, sf_dir, tempfile.mkdtemp(prefix="besk_sdedup_"))[4]
    assert acc1 == acc2
    assert len(acc1) > 0


def test_stream_dedup_via_writestream(spark, sf_dir):
    """The same foreachBatch body driven by a REAL file-source stream
    (one parquet file per trigger), end to end."""
    root = tempfile.mkdtemp(prefix="besk_sdedup_ws_")
    src = os.path.join(root, "src")
    b0, b1 = _batches(spark, sf_dir)
    b0.coalesce(1).write.parquet(os.path.join(src, "f0"))
    b1.coalesce(1).write.parquet(os.path.join(src, "f1"))
    state = os.path.join(root, "state")
    out = os.path.join(root, "out")
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(foreach_batch_minhash_dedup(state, out))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    acc = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert acc and not [i for i in acc if i >= 10_000]
    st_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(state).select("doc_id").distinct().collect()
    )
    assert st_ids == acc


def test_swap_write_stages_under_swept_prefix(spark, tmp_path):
    """The dedup state swap (sinks._swap_state) must stage under the
    one `.__staging_` prefix `sinks.recover_state` sweeps (ADVICE r5: a
    crash during the side-directory write previously leaked an unswept
    `.__swap_*` dir per attempt — unbounded disk growth under repeated
    failures)."""
    import glob

    from binance_etl_spark.streaming.sinks import _swap_state

    state = str(tmp_path / "state")
    # a prior crashed attempt's orphan staging dir
    orphan = state + ".__staging_deadbeef"
    os.makedirs(orphan)
    _swap_state(spark.range(5), state)
    _swap_state(spark.range(7), state)
    assert spark.read.parquet(state).count() == 7
    # no leaked siblings: the orphan was swept, no .__swap_* ever made
    leftovers = [
        p
        for p in glob.glob(state + ".*")
        if p != state
    ]
    assert leftovers == [], f"leaked staging dirs: {leftovers}"
