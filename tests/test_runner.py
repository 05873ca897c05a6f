"""Config-driven runner smoke (reference boot path twin, main.py:25-33)
and DLQ quarantine stream."""

from __future__ import annotations

import tempfile

import pytest

from binance_etl_spark.runner import parse_event_id, start_jobs
from binance_etl_spark.sources import fixtures as FX
from binance_etl_spark.streaming.pipelines import quarantine_stream, stop_all


def test_parse_event_id():
    spec = parse_event_id("binance.spot.bnbusdt.trade")
    assert (spec.exchange, spec.market, spec.symbol, spec.event_type) == (
        "binance", "spot", "bnbusdt", "trade",
    )
    # the reference STUBS these exact market ids (factory.py:26-29
    # falls through to a raise); the engine implements them — the
    # futures depth path runs the futures rule of the one book-sync
    # state machine (streaming/book_sync.py,
    # tests/test_book_sync_futures.py)
    fut = parse_event_id("binance.usdm_futures.btcusdt.trade")
    assert fut.market == "usdm_futures"
    assert parse_event_id("binance.coinm_futures.btcusd_perp.depth").market == (
        "coinm_futures"
    )
    with pytest.raises(ValueError):
        parse_event_id("binance.spot.btcusdt.klines")
    with pytest.raises(ValueError):
        parse_event_id("not-an-event-id")


def test_runner_end_to_end(spark):
    d = tempfile.mkdtemp(prefix="besk_runner_")
    paths = FX.write_fixtures(d)
    out = d + "/out"
    config = {
        "events": [
            f"binance.spot.{FX.SYMBOL.lower()}.trade",
            f"binance.spot.{FX.SYMBOL.lower()}.depth",
        ],
        "storage": {"format": "parquet", "output_path": out},
        "sources": {
            f"{FX.SYMBOL.lower()}.trade": paths["trades"],
            f"{FX.SYMBOL.lower()}.depth": paths["depth"],
        },
        "snapshots": {FX.SYMBOL: FX.snapshot()},
    }
    queries = start_jobs(spark, config)
    assert len(queries) == 2
    for q in queries:
        q.processAllAvailable()
    stop_all(spark)
    sym = FX.SYMBOL.lower()
    trades = spark.read.parquet(f"{out}/spot/{sym}/trades")
    depth = spark.read.parquet(f"{out}/spot/{sym}/depth")
    assert trades.count() == 10
    assert depth.count() == 16
    assert depth.where("is_snapshot").count() == 6


def test_runner_two_symbols_no_shared_sink_loss(spark):
    # Two symbols on the same event type must NOT share a sink: a
    # shared FileStreamSink _spark_metadata log would make the second
    # query see its batch 0 as already committed and silently drop its
    # data (round-1 advisory). Per-symbol sink paths make each query's
    # commit log private.
    d = tempfile.mkdtemp(prefix="besk_runner2_")
    paths = FX.write_fixtures(d)
    out = d + "/out"
    config = {
        "events": ["binance.spot.aaausdt.trade", "binance.spot.bbbusdt.trade"],
        "storage": {"format": "parquet", "output_path": out},
        "sources": {
            "aaausdt.trade": paths["trades"],
            "bbbusdt.trade": paths["trades"],
        },
    }
    queries = start_jobs(spark, config)
    assert len(queries) == 2
    for q in queries:
        q.processAllAvailable()
    stop_all(spark)
    a = spark.read.parquet(out + "/spot/aaausdt/trades")
    b = spark.read.parquet(out + "/spot/bbbusdt/trades")
    assert a.count() == 10  # both symbols keep ALL their rows
    assert b.count() == 10


def test_quarantine_stream(spark):
    d = tempfile.mkdtemp(prefix="besk_dlq_")
    paths = FX.write_fixtures(d)
    dlq = quarantine_stream(spark, paths["trades"], max_frames=100)
    q = dlq.writeStream.format("memory").queryName("mem_dlq").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    rows = spark.table("mem_dlq").collect()
    # trades fixture: 1 subscribe ack (valid JSON, no event type) +
    # 1 malformed frame -> both quarantined, none lost
    assert len(rows) == 2
    frames = sorted(r.frame for r in rows)
    assert any("result" in f for f in frames)  # the ack
    assert any(not f.endswith("}") for f in frames)  # the truncated frame


def test_progress_monitor_collects_batches(spark):
    from binance_etl_spark.streaming import monitor as M
    from binance_etl_spark.streaming.pipelines import trades_stream

    d = tempfile.mkdtemp(prefix="besk_mon_")
    paths = FX.write_fixtures(d)
    mon = M.attach(spark)
    try:
        df = trades_stream(spark, paths["trades"], max_frames=100)
        q = (
            df.writeStream.format("memory")
            .queryName("mem_mon")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(10)
        assert mon.wait_for_batches(1)  # listener bus delivers async
    finally:
        M.detach(spark, mon)
    hist = mon.snapshot(spark)
    rows = hist.collect()
    assert len(rows) >= 1  # at least one micro-batch progressed
    assert sum(r.num_input_rows for r in rows) >= 10  # all fixture trades seen
    assert str(mon.started) != "[]"


def test_runner_snapshot_storage_provider(spark):
    """storage.format='snapshot': the runner lands each micro-batch as
    a VERSION of a snapshot-log table — same rows as the parquet sink,
    plus time travel / metadata counts / exactly-once batch tokens on
    the live ingestion table."""
    from binance_etl_spark.operators import snapshots as SNAP

    d = tempfile.mkdtemp(prefix="besk_runner_snap_")
    paths = FX.write_fixtures(d)
    out = d + "/out"
    config = {
        "events": [f"binance.spot.{FX.SYMBOL.lower()}.trade"],
        "storage": {"format": "snapshot", "output_path": out},
        "sources": {f"{FX.SYMBOL.lower()}.trade": paths["trades"]},
    }
    queries = start_jobs(spark, config)
    for q in queries:
        q.processAllAvailable()
    stop_all(spark)
    table = f"{out}/spot/{FX.SYMBOL.lower()}/trades"
    got = SNAP.read_version(spark, table)
    assert got.count() == 10
    assert SNAP.count_rows(table) == 10  # metadata-only
    vs = SNAP.versions(table)
    assert vs, "at least one committed version"
    m = SNAP._load_manifest(table, vs[0])
    assert "batch_id" in m  # exactly-once replay token recorded
