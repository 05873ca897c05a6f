"""Frame parsing: raw JSON frames -> typed trade / depth rows.

The engine twin of the reference's deserializers
(spot_trades_etl.py:38-58, spot_depth_etl.py:56-76), expressed as ONE
`try_parse_json` per frame + case-sensitive `variant_get` extraction,
so it runs identically in batch and streaming and stays inside JVM
codegen. Variant beats the previous from_json + get_json_object mix
for two reasons: (a) Binance frames carry case-colliding keys ('e'
event type vs 'E' event ms, 'u'/'U' update ids) that a case-
insensitive struct schema cannot hold, which forced EXTRA whole-frame
get_json_object parses per colliding field — variant paths are case
sensitive, so the frame is parsed exactly once; (b) `try_parse_json`
returns NULL for malformed frames, giving the corrupt-record drop
(reference warns+drops, spot_trades_etl.py:56-58) without a PERMISSIVE
corrupt column. `try_variant_get` nulls (not errors) on a type
mismatch, matching PERMISSIVE's partial-null behavior for frames that
parse but carry an unexpected shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from binance_etl_spark.schemas import DECIMAL
from binance_etl_spark.streaming.book_sync import market_rule


def parse_trades(frames: DataFrame) -> DataFrame:
    """frames(frame, arrival_ms, seq) -> trades table rows
    (reference output schema, README.md:70-77)."""
    df = frames.select(
        F.try_parse_json("frame").alias("v"), "arrival_ms", "seq"
    )
    return df.where(
        F.col("v").isNotNull()
        & (F.try_variant_get("v", "$.e", "string") == "trade")
    ).select(
        F.try_variant_get("v", "$.s", "string").alias("symbol"),
        F.try_variant_get("v", "$.E", "bigint").alias("timestamp"),
        F.col("arrival_ms").alias("local_timestamp"),
        F.try_variant_get("v", "$.t", "bigint").alias("id"),
        F.when(F.try_variant_get("v", "$.m", "boolean"), "sell")
        .otherwise("buy")
        .alias("side"),
        F.try_variant_get("v", "$.p", "string").cast(DECIMAL).alias("price"),
        F.try_variant_get("v", "$.q", "string").cast(DECIMAL).alias("quantity"),
    )


def parse_depth_updates(frames: DataFrame, market: str = "spot") -> DataFrame:
    """frames -> one row per diff-depth update in the market's delta
    schema (streaming/book_sync.py `MarketRule`; futures rows also carry
    `pu`), levels kept as JSON strings (flat schema: required for
    list-state buffering in the stateful sync operator)."""
    df = frames.select(
        F.try_parse_json("frame").alias("v"), "arrival_ms", "seq"
    )

    def get(path: str, type_: str) -> Column:
        return F.try_variant_get("v", path, type_)

    fields = {
        "symbol": get("$.s", "string"),
        "timestamp": get("$.E", "bigint"),
        "local_timestamp": F.col("arrival_ms"),
        "first_update_id": get("$.U", "bigint"),
        "last_update_id": get("$.u", "bigint"),
        "prev_final_id": get("$.pu", "bigint"),
        "bids_json": F.to_json(get("$.b", "array<array<string>>")),
        "asks_json": F.to_json(get("$.a", "array<array<string>>")),
        "seq": F.col("seq"),
    }
    return df.where(
        F.col("v").isNotNull() & (get("$.e", "string") == "depthUpdate")
    ).select(*(fields[c].alias(c) for c in market_rule(market).delta_cols))


def explode_depth_rows(updates: DataFrame) -> DataFrame:
    """Pre-sync flattening (the reference's _save_update explode,
    spot_depth_etl.py:92-112): one row per (side, price, quantity)."""
    lvl_schema = "array<array<string>>"
    with_arrays = updates.select(
        "symbol",
        "timestamp",
        "local_timestamp",
        "last_update_id",
        F.from_json("bids_json", lvl_schema).alias("bids"),
        F.from_json("asks_json", lvl_schema).alias("asks"),
    )
    sides = with_arrays.select(
        "symbol",
        "timestamp",
        "local_timestamp",
        "last_update_id",
        F.explode(
            F.array(
                F.struct(F.lit("bid").alias("side"), F.col("bids").alias("levels")),
                F.struct(F.lit("ask").alias("side"), F.col("asks").alias("levels")),
            )
        ).alias("s"),
    )
    return sides.select(
        "symbol",
        "timestamp",
        "local_timestamp",
        "last_update_id",
        F.col("s.side").alias("side"),
        F.explode("s.levels").alias("lvl"),
    ).select(
        "symbol",
        "timestamp",
        "local_timestamp",
        "side",
        F.element_at("lvl", 1).cast(DECIMAL).alias("price"),
        F.element_at("lvl", 2).cast(DECIMAL).alias("quantity"),
        "last_update_id",
    )
