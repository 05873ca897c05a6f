"""Futures order-book sync (streaming/book_sync.py, market
"usdm_futures"): the pu-continuity protocol for the two market ids the reference stubs
(factory.py:26-29). Scenario beats mirror the spot golden suite:
stale drop (u < lastUpdateId), bridge (U <= lastUpdateId <= u) with
snapshot-first emission, pu-gap flagging, post-gap recovery,
batch/stream equivalence, and pre-snapshot buffering in state."""

from __future__ import annotations

from binance_etl_spark.sources import fixtures as FX
from binance_etl_spark.sources.replay import read_replay, stream_replay
from binance_etl_spark.streaming.book_sync import (
    book_sync_batch,
    book_sync_stream,
    book_sync_stream_tws,
)
from binance_etl_spark.streaming.parse import parse_depth_updates

MARKET = "usdm_futures"


def _norm(rows):
    return sorted(
        (
            r.symbol, r.timestamp, r.local_timestamp, r.side,
            str(float(r.price)), str(float(r.quantity)),
            r.is_snapshot, r.update_id, r.gap,
        )
        for r in rows
    )


def _batch_rows(spark, fx_paths):
    updates = parse_depth_updates(read_replay(spark, fx_paths["futures_depth"]), MARKET)
    return book_sync_batch(
        updates, {FX.FUT_SYMBOL: FX.futures_snapshot()}, MARKET
    ).collect()


def test_futures_sync_semantics(spark, tmp_path):
    rows = _batch_rows(spark, FX.write_fixtures(str(tmp_path)))
    by_uid = {}
    for r in rows:
        by_uid.setdefault(r.update_id, []).append(r)

    # stale frame (u=199 < 200) contributed nothing
    assert 199 not in by_uid
    # snapshot rows first: update_id = lastUpdateId, is_snapshot, and
    # timestamped 1ms before the bridge's local time
    snap_rows = by_uid[200]
    assert all(r.is_snapshot for r in snap_rows)
    assert len(snap_rows) == 4  # 2 bids + 2 asks
    assert {r.timestamp for r in snap_rows} == {FX.T0 + 155 - 1}
    # bridge frame emitted, not flagged
    assert all(not r.gap and not r.is_snapshot for r in by_uid[203])
    # steady frame: pu matches -> no gap
    assert all(not r.gap for r in by_uid[207])
    # pu mismatch (pu=210 != 207) -> flagged, stream continues
    assert all(r.gap for r in by_uid[214])
    # recovery: pu=214 == prev u -> clean again
    assert all(not r.gap for r in by_uid[218])
    # malformed frame contributed nothing; total = 4 snap + deltas
    n_delta_rows = sum(len(v) for k, v in by_uid.items() if k != 200)
    assert len(rows) == 4 + n_delta_rows


def test_futures_stream_equals_batch(spark, tmp_path):
    fx = FX.write_fixtures(str(tmp_path))
    got_batch = _norm(_batch_rows(spark, fx))

    updates = parse_depth_updates(
        stream_replay(spark, fx["futures_depth"], 2), MARKET  # several micro-batches
    )
    sdf = book_sync_stream(updates, {FX.FUT_SYMBOL: FX.futures_snapshot()}, market=MARKET)
    q = (
        sdf.writeStream.format("memory")
        .queryName("mem_fut_sync")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got_stream = _norm(spark.table("mem_fut_sync").collect())
    assert got_stream == got_batch, "state must survive micro-batch boundaries"


def test_futures_late_snapshot_buffers(spark, tmp_path):
    """Snapshot unavailable for the first micro-batches: deltas buffer
    in state and replay once it appears — same guarantee as spot."""
    fx = FX.write_fixtures(str(tmp_path))
    got_all = _norm(_batch_rows(spark, fx))

    updates = parse_depth_updates(stream_replay(spark, fx["futures_depth"], 2), MARKET)
    sdf = book_sync_stream(
        updates,
        {FX.FUT_SYMBOL: FX.futures_snapshot()},
        available_after_ms=FX.T0 + 250,
        market=MARKET,
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("mem_fut_late")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got_late = _norm(spark.table("mem_fut_late").collect())
    # the buffered replay reaches the same final row set, except the
    # snapshot emission is anchored to the delta that triggered sync
    assert len(got_late) == len(got_all)
    assert {r for r in got_late if not r[6]} == {r for r in got_all if not r[6]}, (
        "every delta row identical; only snapshot anchoring may differ"
    )


def test_futures_runner_end_to_end(spark, tmp_path):
    """binance.usdm_futures.*.depth boots as a real checkpointed
    streaming job through the config runner (the reference raises
    here, factory.py:26-29)."""
    import os

    from binance_etl_spark.runner import start_jobs
    from binance_etl_spark.streaming.pipelines import stop_all

    fx = FX.write_fixtures(str(tmp_path))
    out = str(tmp_path / "out")
    config = {
        "events": [f"binance.usdm_futures.{FX.FUT_SYMBOL.lower()}.depth"],
        "storage": {"output_path": out},
        "sources": {f"{FX.FUT_SYMBOL.lower()}.depth": fx["futures_depth"]},
        "snapshots": {FX.FUT_SYMBOL: FX.futures_snapshot()},
        "max_frames": 100,
    }
    queries = start_jobs(spark, config)
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        stop_all(spark)
    table = os.path.join(out, "usdm_futures", FX.FUT_SYMBOL.lower(), "depth")
    got = spark.read.parquet(table)
    assert got.count() >= 10
    assert got.where("is_snapshot").count() == 4
    assert got.where("gap").count() > 0  # the pu-gap frame flagged through


def _protobuf_available() -> bool:
    try:
        from binance_etl_spark.session import ensure_protobuf

        ensure_protobuf()
        return True
    except Exception:
        return False


def test_futures_tws_matches_aipws(spark, tmp_path):
    """Both stateful APIs must produce the identical futures sync
    output across micro-batch boundaries (the same equivalence pin the
    spot sync carries in tests/test_tws_book_sync.py)."""
    import pytest as _pytest

    if not _protobuf_available():
        _pytest.skip("no protobuf and shim failed")

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    prior = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    try:
        fx = FX.write_fixtures(str(tmp_path))
        snap = {FX.FUT_SYMBOL: FX.futures_snapshot()}

        def run(sdf, name):
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            return _norm(spark.table(name).collect())

        got_aip = run(
            book_sync_stream(
                parse_depth_updates(stream_replay(spark, fx["futures_depth"], 2), MARKET),
                snap,
                market=MARKET,
            ),
            "mem_fut_aip",
        )
        got_tws = run(
            book_sync_stream_tws(
                parse_depth_updates(stream_replay(spark, fx["futures_depth"], 2), MARKET),
                snap,
                market=MARKET,
            ),
            "mem_fut_tws",
        )
        assert got_tws == got_aip
        assert len(got_tws) == 11  # golden row count
    finally:
        if prior is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prior)
