"""Streaming incremental near-dup dedup: deduplicate ARRIVING document
micro-batches against everything accepted so far — the crawl-shard
pipeline (new shards must not re-add near-copies of corpus docs, and
near-copies within a shard must collapse) run as a Structured
Streaming foreachBatch sink.

Semantics (greedy by arrival, the standard for streaming dedup):
1. a batch doc whose LSH band collides with any ACCEPTED doc's band is
   rejected (near-dup of the existing corpus);
2. surviving batch docs form within-batch near-dup clusters (band
   collision edges -> connected components); the min-id member of each
   cluster is accepted, the rest rejected;
3. accepted docs' bands join the state; accepted rows append to the
   output corpus.

First-seen-wins is deliberately order-dependent — that is what
"streaming dedup" means; clusters that only become connected through
docs arriving in LATER batches are not retro-merged (run the batch
`dedup_cluster_cc` pipeline periodically for transitive compaction).

Scale shape: state is (doc, band_no, band_val) — 3 small rows per
accepted doc, equi-joined per batch on (band_no, band_val); candidate
generation is never all-pairs (same banding as dedup_minhash_lsh). The
swap-write state update is idempotent (distinct union), so a replayed
micro-batch after a restart reproduces identical state — the docs it
accepted now self-collide and append nothing new.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from binance_etl_spark.operators.dedup import (
    connected_components,
    lsh_bands,
    minhash_signature,
    shingles,
)


def batch_bands(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, band_no, band_val) LSH bands for a batch of documents."""
    sh = docs.select(id_col, shingles(F.col(text_col)).alias("sh"))
    sig = minhash_signature(sh, id_col, "sh")
    return lsh_bands(sig, id_col)


def foreach_batch_minhash_dedup(
    state_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch body implementing the greedy streaming dedup above.

    `state_path`: parquet (id, band_no, band_val) of accepted docs.
    `out_path`: accepted rows land in `out_path/batch=<id>/` with
    overwrite — a replayed batch rewrites its own directory instead of
    double-appending (exactly-once output without a transactional
    table format).
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from binance_etl_spark.streaming.sinks import _swap_state, recover_state

        recover_state(state_path)
        spark = batch_df.sparkSession
        docs = batch_df.where(F.col(text_col).isNotNull())
        if not docs.take(1):
            return
        bands = batch_bands(docs, id_col, text_col).localCheckpoint(eager=True)

        if os.path.isdir(state_path):
            state = spark.read.parquet(state_path)
            colliding = (
                bands.join(state, ["band_no", "band_val"])
                .select(bands[id_col].alias(id_col))
                .distinct()
            )
            fresh_bands = bands.join(colliding, id_col, "left_anti")
        else:
            state = None
            fresh_bands = bands

        # within-batch near-dup clusters among the fresh docs
        pairs = fresh_bands.alias("a").join(
            fresh_bands.alias("b"),
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        edges = pairs.select(
            F.col(f"a.{id_col}").alias("src"), F.col(f"b.{id_col}").alias("dst")
        ).distinct()
        nodes = fresh_bands.select(id_col).distinct()
        labels = connected_components(edges, nodes=nodes)
        keep = labels.where(F.col("cluster_id") == F.col("node")).select(
            F.col("node").alias(id_col)
        )

        accepted_bands = fresh_bands.join(keep, id_col, "left_semi")
        new_state = (
            state.unionByName(accepted_bands).distinct()
            if state is not None
            else accepted_bands.distinct()
        )
        # Materialize BEFORE the swap: new_state's plan reads the old
        # state directory, which the swap is about to replace.
        new_state = new_state.localCheckpoint(eager=True)
        # rename-aside swap staged under the `.__staging_` prefix that
        # sinks.recover_state sweeps, so a crashed write leaks no dir
        _swap_state(new_state, state_path)
        # Output = this batch's docs that are in the accepted state —
        # NOT `keep`: on a replayed batch the docs it accepted last time
        # self-collide (keep is empty), but they ARE in state, so the
        # overwrite reproduces the same directory instead of emptying it.
        accepted_ids = new_state.select(id_col).distinct()
        docs.join(accepted_ids, id_col, "left_semi").write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch={batch_id}")
        )

    return apply
