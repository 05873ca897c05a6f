"""Batch analogs of the streaming surface (SURVEY.md §2.10), driven by
the deterministic replay fixtures:

- src_replay_trades / src_replay_depth: the replay DataSource scanned in
  batch mode through the same parse used by the streams; the DuckDB
  oracle re-parses the identical frames from inline VALUES.
- book_sync_replay: the book-sync state machine over the depth fixture;
  the oracle is a HAND-WRITTEN golden table (independently derived from
  the reference's semantics, book_utils.py:17-51 +
  spot_depth_etl.py:114-123) — not generated from the implementation.

Streaming twins (same code paths under Structured Streaming, including
checkpoint restart) are exercised in tests/test_streaming.py.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binance_etl_spark.sources import fixtures as FX
from binance_etl_spark.sources.replay import read_replay
from binance_etl_spark.plans.registry import register
from binance_etl_spark.streaming.book_sync import book_sync_batch
from binance_etl_spark.streaming.parse import (
    explode_depth_rows,
    parse_depth_updates,
    parse_trades,
)


def _fixture_dir() -> dict[str, str]:
    return FX.write_fixtures(tempfile.mkdtemp(prefix="besk_fx_q_"))


def _sql_frame_values(frames: list[tuple[str, int]]) -> str:
    rows = ",\n      ".join(
        "({}, {})".format("'" + f.replace("'", "''") + "'", a) for f, a in frames
    )
    return f"(VALUES\n      {rows})"


_TRADES_ORACLE = f"""
    WITH frames(frame, arrival_ms) AS {_sql_frame_values(FX.trade_frames())},
    ok AS (
      SELECT CASE WHEN json_valid(frame) THEN frame END AS f, arrival_ms FROM frames
    )
    SELECT json_extract_string(f, '$.s') AS symbol,
           CAST(json_extract(f, '$.E') AS BIGINT) AS "timestamp",
           arrival_ms AS local_timestamp,
           CAST(json_extract(f, '$.t') AS BIGINT) AS id,
           CASE WHEN CAST(json_extract(f, '$.m') AS BOOLEAN)
                THEN 'sell' ELSE 'buy' END AS side,
           CAST(json_extract_string(f, '$.p') AS DOUBLE) AS price,
           CAST(json_extract_string(f, '$.q') AS DOUBLE) AS quantity
    FROM ok WHERE json_extract_string(f, '$.e') = 'trade'
"""


@register(
    "src_replay_trades",
    oracle=_TRADES_ORACLE,
    doc="Replay DataSource (batch mode) -> trade parse: the reference's "
    "trade path (spot_trades_etl.py:38-58) as from_json + select. "
    "Subscribe-ack and malformed frames drop; decimal strings land as "
    "DECIMAL(38,18). Streaming twin: tests/test_streaming.py.",
    tags=("source", "streaming-analog"),
)
def src_replay_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = _fixture_dir()
    parsed = parse_trades(read_replay(spark, paths["trades"]))
    # Internal schema stays DECIMAL(38,18) (the engine money type); the
    # registered OUTPUT is double so the driver's hasher normalizes
    # identically across engines. Narrow to scale 8 first (exact for
    # Binance 8-dp strings): small unscaled values make the double cast
    # correctly rounded, matching DuckDB's strtod on the raw string.
    return parsed.withColumn(
        "price", F.col("price").cast("decimal(27,8)").cast("double")
    ).withColumn("quantity", F.col("quantity").cast("decimal(27,8)").cast("double"))


_DEPTH_ORACLE = f"""
    WITH frames(frame, arrival_ms) AS {_sql_frame_values(FX.depth_frames())},
    ok AS (
      SELECT frame, arrival_ms FROM frames
      WHERE json_valid(frame)
        AND json_extract_string(frame, '$.e') = 'depthUpdate'
    ), sides AS (
      SELECT frame, arrival_ms, 'bid' AS side, '$.b' AS p FROM ok
      UNION ALL
      SELECT frame, arrival_ms, 'ask' AS side, '$.a' AS p FROM ok
    ), ex AS (
      SELECT frame, arrival_ms, side, p,
             UNNEST(generate_series(0, CAST(json_array_length(frame, p) AS INT) - 1)) AS i
      FROM sides
    )
    SELECT json_extract_string(frame, '$.s') AS symbol,
           CAST(json_extract(frame, '$.E') AS BIGINT) AS "timestamp",
           arrival_ms AS local_timestamp,
           side,
           CAST(json_extract_string(frame, p || '[' || i || '][0]') AS DOUBLE) AS price,
           CAST(json_extract_string(frame, p || '[' || i || '][1]') AS DOUBLE) AS quantity,
           CAST(json_extract(frame, '$.u') AS BIGINT) AS last_update_id
    FROM ex
"""


@register(
    "src_replay_depth",
    oracle=_DEPTH_ORACLE,
    doc="Replay DataSource -> depth parse -> level explode (pre-sync): "
    "the reference's _save_update flattening (spot_depth_etl.py:92-112) "
    "— each [price, qty] pair becomes one typed row.",
    tags=("source", "streaming-analog", "explode"),
)
def src_replay_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = _fixture_dir()
    rows = explode_depth_rows(parse_depth_updates(read_replay(spark, paths["depth"])))
    return rows.withColumn(
        "price", F.col("price").cast("decimal(27,8)").cast("double")
    ).withColumn("quantity", F.col("quantity").cast("decimal(27,8)").cast("double"))


# Golden depth table after book sync, hand-derived from the fixture
# design (binance_etl_spark/sources/fixtures.py) + the reference's
# semantics: snapshot rows first (ts = local-1, is_snapshot),
# stale frame dropped, bridge + steady deltas, gap flagged on the
# 115-117 jump, recovery unflagged.
_T0 = FX.T0
_GOLDEN_ROWS = [
    # (timestamp, local, side, price, qty, is_snapshot, update_id, gap)
    (_T0 + 154, _T0 + 155, "bid", "598.00000000", "1.00000000", True, 102, False),
    (_T0 + 154, _T0 + 155, "bid", "597.90000000", "2.50000000", True, 102, False),
    (_T0 + 154, _T0 + 155, "bid", "597.80000000", "0.75000000", True, 102, False),
    (_T0 + 154, _T0 + 155, "ask", "598.10000000", "1.20000000", True, 102, False),
    (_T0 + 154, _T0 + 155, "ask", "598.20000000", "3.00000000", True, 102, False),
    (_T0 + 154, _T0 + 155, "ask", "598.30000000", "0.50000000", True, 102, False),
    (_T0 + 150, _T0 + 155, "bid", "598.00000000", "1.50000000", False, 103, False),
    (_T0 + 150, _T0 + 155, "bid", "597.90000000", "0.00000000", False, 103, False),
    (_T0 + 150, _T0 + 155, "ask", "598.10000000", "2.00000000", False, 103, False),
    (_T0 + 250, _T0 + 255, "bid", "597.90000000", "0.80000000", False, 106, False),
    (_T0 + 250, _T0 + 255, "ask", "598.20000000", "1.10000000", False, 106, False),
    (_T0 + 350, _T0 + 355, "ask", "598.10000000", "0.00000000", False, 110, False),
    (_T0 + 350, _T0 + 355, "ask", "598.30000000", "4.00000000", False, 110, False),
    (_T0 + 450, _T0 + 455, "bid", "598.00000000", "2.20000000", False, 117, True),
    (_T0 + 550, _T0 + 555, "bid", "597.70000000", "0.50000000", False, 120, False),
    (_T0 + 550, _T0 + 555, "ask", "598.40000000", "0.90000000", False, 120, False),
]

_GOLDEN_VALUES = ",\n      ".join(
    f"('{FX.SYMBOL}', {ts}, {lc}, '{side}', '{p}', '{q}', {str(sn).upper()}, {uid}, "
    f"{str(gap).upper()})"
    for ts, lc, side, p, q, sn, uid, gap in _GOLDEN_ROWS
)

_BOOK_SYNC_ORACLE = f"""
    WITH golden(symbol, "timestamp", local_timestamp, side, price_s, quantity_s,
                is_snapshot, update_id, gap) AS (VALUES
      {_GOLDEN_VALUES})
    SELECT symbol, "timestamp", local_timestamp, side,
           CAST(price_s AS DOUBLE) AS price,
           CAST(quantity_s AS DOUBLE) AS quantity,
           is_snapshot, update_id, gap
    FROM golden
"""


@register(
    "book_sync_replay",
    oracle=_BOOK_SYNC_ORACLE,
    doc="Order-book synchronization over the depth replay fixture "
    "(reference book_utils.py:17-51): buffered/stale/bridge handling, "
    "snapshot-first emission with ts = local-1 (spot_depth_etl.py:"
    "114-123), gap flagged not raised. Oracle = hand-written golden "
    "table. Streaming twin (applyInPandasWithState + checkpoint "
    "restart): tests/test_streaming.py.",
    tags=("streaming-analog", "stateful"),
)
def book_sync_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = _fixture_dir()
    updates = parse_depth_updates(read_replay(spark, paths["depth"]))
    synced = book_sync_batch(updates, {FX.SYMBOL: FX.snapshot()})
    return synced.withColumn(
        "price", F.col("price").cast("decimal(27,8)").cast("double")
    ).withColumn("quantity", F.col("quantity").cast("decimal(27,8)").cast("double"))


_MARKET_E2E_ORACLE = f"""
    WITH frames(frame, arrival_ms) AS {_sql_frame_values(FX.trade_frames())},
    ok AS (
      SELECT CASE WHEN json_valid(frame) THEN frame END AS f FROM frames
    ), trades AS (
      SELECT json_extract_string(f, '$.s') AS symbol,
             CASE WHEN CAST(json_extract(f, '$.m') AS BOOLEAN)
                  THEN 'sell' ELSE 'buy' END AS side,
             CAST(json_extract(f, '$.E') AS BIGINT) AS ts_ms,
             CAST(json_extract(f, '$.t') AS BIGINT) AS id,
             CAST(json_extract_string(f, '$.p') AS DECIMAL(19,8)) AS price,
             CAST(json_extract_string(f, '$.q') AS DECIMAL(19,8)) AS quantity
      FROM ok WHERE json_extract_string(f, '$.e') = 'trade'
    ), ranked AS (
      SELECT symbol, side, ts_ms // 60000 * 60000 AS bar_ms, price, quantity,
             row_number() OVER (PARTITION BY symbol, side, ts_ms // 60000
                                ORDER BY ts_ms, id) AS rn_open,
             row_number() OVER (PARTITION BY symbol, side, ts_ms // 60000
                                ORDER BY ts_ms DESC, id DESC) AS rn_close
      FROM trades
    )
    SELECT symbol, side, bar_ms,
           CAST(MAX(CASE WHEN rn_open = 1 THEN price END) AS DOUBLE) AS open,
           CAST(MAX(price) AS DOUBLE) AS high,
           CAST(MIN(price) AS DOUBLE) AS low,
           CAST(MAX(CASE WHEN rn_close = 1 THEN price END) AS DOUBLE) AS close,
           CAST(SUM(quantity) AS DOUBLE) AS volume,
           CAST(SUM(CAST(price * quantity AS DECIMAL(38,16))) AS DOUBLE)
             / CAST(SUM(quantity) AS DOUBLE) AS vwap,
           COUNT(*) AS n_trades
    FROM ranked GROUP BY symbol, side, bar_ms
"""


@register(
    "market_e2e",
    oracle=_MARKET_E2E_ORACLE,
    doc="The market-data path END TO END as one Catalyst plan: replay "
    "DataSource -> frame validation -> trade parse (reference "
    "spot_trades_etl.py:38-58) -> per-(symbol, side, minute) OHLCV "
    "bars with exact-decimal VWAP — the composition the ETL's output "
    "tables exist to serve, the market twin of curate_corpus_e2e. "
    "One keyed window sort + one agg shuffle downstream of the "
    "source; decimal accumulation keeps VWAP order-independent.",
    tags=("streaming-analog", "market", "agg", "e2e"),
)
def market_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = _fixture_dir()
    t = parse_trades(read_replay(spark, paths["trades"]))
    p8 = F.col("price").cast("decimal(19,8)")
    q8 = F.col("quantity").cast("decimal(19,8)")
    bars = t.select(
        "symbol",
        "side",
        (F.col("timestamp") - F.col("timestamp") % 60000).alias("bar_ms"),
        p8.alias("price"),
        q8.alias("quantity"),
        F.col("timestamp").alias("ts_ms"),
        "id",
    )
    w_open = Window.partitionBy("symbol", "side", "bar_ms").orderBy("ts_ms", "id")
    w_close = Window.partitionBy("symbol", "side", "bar_ms").orderBy(
        F.col("ts_ms").desc(), F.col("id").desc()
    )
    ranked = bars.select(
        "symbol",
        "side",
        "bar_ms",
        "price",
        "quantity",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    turnover = F.sum((F.col("price") * F.col("quantity")).cast("decimal(38,16)"))
    volume = F.sum("quantity")
    return ranked.groupBy("symbol", "side", "bar_ms").agg(
        F.max(F.when(F.col("rn_open") == 1, F.col("price")))
        .cast("double")
        .alias("open"),
        F.max("price").cast("double").alias("high"),
        F.min("price").cast("double").alias("low"),
        F.max(F.when(F.col("rn_close") == 1, F.col("price")))
        .cast("double")
        .alias("close"),
        volume.cast("double").alias("volume"),
        (turnover.cast("double") / volume.cast("double")).alias("vwap"),
        F.count(F.lit(1)).alias("n_trades"),
    )


_SS_JOIN_ORACLE = f"""
    WITH tf(frame, arrival_ms) AS {_sql_frame_values(FX.trade_frames())},
    t AS (
      SELECT json_extract_string(frame, '$.s') AS symbol,
             CAST(json_extract(frame, '$.E') AS BIGINT) AS t_ms,
             CAST(json_extract(frame, '$.t') AS BIGINT) AS trade_id
      FROM tf
      WHERE json_valid(frame) AND json_extract_string(frame, '$.e') = 'trade'
    ),
    df(frame, arrival_ms) AS {_sql_frame_values(FX.depth_frames())},
    d AS (
      SELECT json_extract_string(frame, '$.s') AS symbol,
             CAST(json_extract(frame, '$.E') AS BIGINT) AS d_ms,
             CAST(json_extract(frame, '$.u') AS BIGINT) AS last_update_id
      FROM df
      WHERE json_valid(frame) AND json_extract_string(frame, '$.e') = 'depthUpdate'
    )
    SELECT t.symbol, t.trade_id, t.t_ms, d.last_update_id, d.d_ms
    FROM t JOIN d
      ON d.symbol = t.symbol
     AND d.d_ms BETWEEN t.t_ms - 1000 AND t.t_ms + 1000
"""


@register(
    "join_stream_stream",
    oracle=_SS_JOIN_ORACLE,
    doc="Batch twin of the stream-stream interval join (SURVEY §2.5): "
    "trades x depth updates of the same symbol within ±1s of event "
    "time, over the SAME replay fixtures and the SAME join predicate "
    "as the Structured Streaming version "
    "(tests/test_streaming.py::test_stream_stream_interval_join, "
    "which also asserts stream == this batch result). In streaming, "
    "watermarks on both sides bound the state retention; they do not "
    "change which in-window pairs an inner join emits — so the batch "
    "plan IS the semantic oracle for the stream. At scale both sides "
    "shuffle once on symbol; the time predicate prunes within "
    "co-partitioned ranges.",
    tags=("join", "streaming-analog"),
)
def join_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = _fixture_dir()
    trades = parse_trades(read_replay(spark, paths["trades"])).select(
        "symbol", F.col("timestamp").alias("t_ms"), F.col("id").alias("trade_id")
    )
    depth = parse_depth_updates(read_replay(spark, paths["depth"])).select(
        F.col("symbol").alias("d_symbol"),
        F.col("timestamp").alias("d_ms"),
        "last_update_id",
    )
    joined = trades.join(
        depth,
        (trades.symbol == depth.d_symbol)
        & (depth.d_ms >= trades.t_ms - 1000)
        & (depth.d_ms <= trades.t_ms + 1000),
        "inner",
    )
    return joined.select("symbol", "trade_id", "t_ms", "last_update_id", "d_ms")


# Golden futures depth table, hand-derived from the fixture design
# (fixtures.futures_depth_frames) + the PUBLIC futures protocol the
# reference stubs (factory.py:26-29): stale u<lastUpdateId dropped,
# bridge U<=lastUpdateId<=u emits the snapshot first (ts = local-1),
# pu-discontinuity flagged (214's pu=210 != 207), recovery clean.
_FUT_GOLDEN_ROWS = [
    # (timestamp, local, side, price, qty, is_snapshot, update_id, gap)
    (_T0 + 154, _T0 + 155, "bid", "60100.00000000", "5.00000000", True, 200, False),
    (_T0 + 154, _T0 + 155, "bid", "60099.00000000", "2.00000000", True, 200, False),
    (_T0 + 154, _T0 + 155, "ask", "60101.00000000", "4.00000000", True, 200, False),
    (_T0 + 154, _T0 + 155, "ask", "60102.00000000", "1.00000000", True, 200, False),
    (_T0 + 150, _T0 + 155, "bid", "60100.50000000", "2.00000000", False, 203, False),
    (_T0 + 150, _T0 + 155, "bid", "60100.00000000", "0.00000000", False, 203, False),
    (_T0 + 150, _T0 + 155, "ask", "60101.00000000", "1.50000000", False, 203, False),
    (_T0 + 250, _T0 + 255, "bid", "60099.50000000", "0.40000000", False, 207, False),
    (_T0 + 250, _T0 + 255, "ask", "60101.50000000", "2.20000000", False, 207, False),
    (_T0 + 350, _T0 + 355, "ask", "60102.00000000", "3.00000000", False, 214, True),
    (_T0 + 450, _T0 + 455, "bid", "60098.00000000", "1.10000000", False, 218, False),
]

_FUT_GOLDEN_VALUES = ",\n      ".join(
    f"('{FX.FUT_SYMBOL}', {ts}, {lc}, '{side}', '{p}', '{q}', {str(sn).upper()}, "
    f"{uid}, {str(gap).upper()})"
    for ts, lc, side, p, q, sn, uid, gap in _FUT_GOLDEN_ROWS
)

_FUT_BOOK_SYNC_ORACLE = f"""
    WITH golden(symbol, "timestamp", local_timestamp, side, price_s, quantity_s,
                is_snapshot, update_id, gap) AS (VALUES
      {_FUT_GOLDEN_VALUES})
    SELECT symbol, "timestamp", local_timestamp, side,
           CAST(price_s AS DOUBLE) AS price,
           CAST(quantity_s AS DOUBLE) AS quantity,
           is_snapshot, update_id, gap
    FROM golden
"""


@register(
    "book_sync_futures_replay",
    oracle=_FUT_BOOK_SYNC_ORACLE,
    doc="FUTURES order-book sync over the futures depth fixture by the "
    "one state machine (streaming/book_sync.py) under the futures rule "
    "(bridge id b = lastUpdateId, pu == prev u; spot: b = "
    "lastUpdateId+1, U == prev u + 1). Stale iff u < b, bridge iff "
    "U <= b <= u in both. usdm/coinm are the markets the reference "
    "recognizes but stubs (factory.py:26-29); the rules follow the "
    "public Binance futures local-order-book protocol. Oracle = "
    "hand-written golden table. "
    "Per-symbol keyed state, no shuffle beyond the key partitioning; "
    "streaming twins + runner e2e: tests/test_book_sync_futures.py.",
    tags=("streaming-analog", "stateful", "market"),
)
def book_sync_futures_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = _fixture_dir()
    updates = parse_depth_updates(
        read_replay(spark, paths["futures_depth"]), "usdm_futures"
    )
    synced = book_sync_batch(
        updates, {FX.FUT_SYMBOL: FX.futures_snapshot()}, "usdm_futures"
    )
    return synced.withColumn(
        "price", F.col("price").cast("decimal(27,8)").cast("double")
    ).withColumn("quantity", F.col("quantity").cast("decimal(27,8)").cast("double"))
