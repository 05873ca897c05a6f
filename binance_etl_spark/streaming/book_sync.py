"""Stateful order-book synchronization (SURVEY.md hard-part 1) for every
market the runner accepts.

Reproduces the reference's sync state machine (book_utils.py:17-51 +
spot_depth_etl.py:35-54) with Spark-native semantics:

- deltas arriving before the snapshot is available are BUFFERED
  (list state; reference buffers in a Python list, book_utils.py:24);
- once the snapshot is known, with bridge id b derived from its
  lastUpdateId: stale deltas (u < b) are dropped (book_utils.py:34-38),
  the bridging delta satisfies U <= b <= u (book_utils.py:40-47),
  snapshot rows are emitted first with timestamp = local_timestamp - 1
  and is_snapshot = true (spot_depth_etl.py:114-123), then buffered
  deltas replay in order (spot_depth_etl.py:50-52);
- continuity breaks are FLAGGED on the row, not raised (the reference
  crashes the stream, spot_depth_etl.py:41-42 — the engine routes to a
  DLQ filter instead).

The public Binance diff-depth protocols of spot and of the futures
markets the reference stubs (factory.py:26-29: `usdm_futures` /
`coinm_futures`, which share one protocol) differ in exactly two facts,
held per market in a `MarketRule`:

    market    bridge id b         continuity after an event ending at prev_u
    spot      lastUpdateId + 1    U == prev_u + 1
    futures   lastUpdateId        pu == prev_u  (pu = previous event's u)

Futures events carry `pu`, so their delta schema has one more column.

One pure-Python core (`_sync_step`) and one per-key body (`_KeySync`)
are shared by:
- `book_sync_batch`    — groupBy(symbol).applyInPandas (batch twin),
- `book_sync_stream`   — applyInPandasWithState (streaming),
- `BookSyncProcessor`  — transformWithStateInPandas (streaming),
so batch/stream equivalence is structural, not coincidental.

Scale: state per key is O(1) after sync (synced flag + prev_u); the
buffer exists only during the sync window. Keys are (symbol) — 1000s
of symbols spread across executors; Arrow batches amortize the
Python boundary.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql.streaming.state import GroupStateTimeout

# Flat processor I/O schemas (list-state friendly: primitives only).
# A delta schema is also the tWS buffer schema of its market, so both
# stay byte-stable for existing checkpoints.
DELTA_SCHEMA = (
    "symbol STRING, timestamp BIGINT, local_timestamp BIGINT, "
    "first_update_id BIGINT, last_update_id BIGINT, "
    "bids_json STRING, asks_json STRING, seq BIGINT"
)
FUT_DELTA_SCHEMA = (
    "symbol STRING, timestamp BIGINT, local_timestamp BIGINT, "
    "first_update_id BIGINT, last_update_id BIGINT, prev_final_id BIGINT, "
    "bids_json STRING, asks_json STRING, seq BIGINT"
)
SYNC_OUT_SCHEMA = (
    "symbol STRING, timestamp BIGINT, local_timestamp BIGINT, side STRING, "
    "price STRING, quantity STRING, is_snapshot BOOLEAN, "
    "update_id BIGINT, gap BOOLEAN"
)
OUT_COLS = [
    "symbol",
    "timestamp",
    "local_timestamp",
    "side",
    "price",
    "quantity",
    "is_snapshot",
    "update_id",
    "gap",
]
STATE_SCHEMA = "synced BOOLEAN, prev_u BIGINT, buffer_json STRING"


@dataclass(frozen=True)
class MarketRule:
    """One market's diff-depth protocol. The bridge id is
    b = lastUpdateId + bridge_offset; once synced, a delta continues the
    book iff delta[link_col] == prev_u + link_offset."""

    bridge_offset: int
    link_col: str
    link_offset: int
    delta_schema: str

    @property
    def delta_cols(self) -> list[str]:
        return [f.split()[0] for f in self.delta_schema.split(", ")]


SPOT = MarketRule(1, "first_update_id", 1, DELTA_SCHEMA)
FUTURES = MarketRule(0, "prev_final_id", 0, FUT_DELTA_SCHEMA)
RULES = {"spot": SPOT, "usdm_futures": FUTURES, "coinm_futures": FUTURES}


def market_rule(market: str) -> MarketRule:
    """The sync rule of a runner market id (runner.parse_event_id)."""
    try:
        return RULES[market]
    except KeyError:
        raise ValueError(f"no depth sync rule for market {market!r}") from None


@dataclass
class SyncState:
    synced: bool = False
    prev_u: int = -1
    buffer: list[dict] = field(default_factory=list)


def _emit_levels(out: list, symbol: str, ts: int, local: int, side: str, levels, is_snap: bool, uid: int, gap: bool) -> None:
    for price, qty in levels:
        out.append((symbol, ts, local, side, price, qty, is_snap, uid, gap))


def _emit_delta(out: list, d: dict, gap: bool) -> None:
    _emit_levels(out, d["symbol"], d["timestamp"], d["local_timestamp"], "bid",
                 json.loads(d["bids_json"]), False, d["last_update_id"], gap)
    _emit_levels(out, d["symbol"], d["timestamp"], d["local_timestamp"], "ask",
                 json.loads(d["asks_json"]), False, d["last_update_id"], gap)


def _sync_step(state: SyncState, deltas: list[dict], snapshot: dict | None, rule: MarketRule = SPOT) -> list[tuple]:
    """Advance the state machine over in-order deltas; returns emitted
    rows. `snapshot` is None while the REST snapshot is not yet
    available (deltas buffer), a dict afterwards."""
    out: list[tuple] = []
    for d in deltas:
        if not state.synced and snapshot is None:
            state.buffer.append(d)  # reference book_utils.py:24
            continue
        # synced, or snapshot known: drain buffer + current delta
        pending, state.buffer = [*state.buffer, d], []
        for p in pending:
            if state.synced:
                gap = p[rule.link_col] != state.prev_u + rule.link_offset
            else:
                last_id = snapshot["lastUpdateId"]
                b = last_id + rule.bridge_offset
                if p["last_update_id"] < b:
                    continue  # stale (book_utils.py:34-38)
                if p["first_update_id"] > b:
                    # non-bridging post-snapshot delta before sync —
                    # reference warns and keeps waiting (book_utils.py:46)
                    continue
                # bridge found (book_utils.py:40-47): snapshot first,
                # timestamped 1ms before its local time
                # (spot_depth_etl.py:114-123)
                local = p["local_timestamp"]
                _emit_levels(out, p["symbol"], local - 1, local, "bid",
                             snapshot["bids"], True, last_id, False)
                _emit_levels(out, p["symbol"], local - 1, local, "ask",
                             snapshot["asks"], True, last_id, False)
                state.synced, gap = True, False
            _emit_delta(out, p, gap)
            state.prev_u = p["last_update_id"]
    return out


def _rows_to_pdf(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=OUT_COLS)


def _records(pdf: pd.DataFrame, cols: list[str]) -> list[dict]:
    """pdf (a delta schema) -> list of plain-builtin dicts. Column-wise
    `.tolist()` both converts numpy scalars to JSON-able builtins and
    is ~4x faster than row-wise `to_dict("records")` + per-field
    casts (measured on the 20k-frame bench slab)."""
    return [dict(zip(cols, t)) for t in zip(*(pdf[c].tolist() for c in cols))]


@dataclass(frozen=True)
class _KeySync:
    """The per-key body every operator runs: collect the key's deltas,
    sort by seq, load state, step, save state. The snapshot provider is
    a pure function symbol -> snapshot|None; replay tests inject fixture
    snapshots, a live deployment injects the REST fetch
    (book_utils.py:26-33)."""

    rule: MarketRule
    snapshot_for: dict[str, dict]
    available_after_ms: int = 0

    def __call__(self, key, pdfs, load, save) -> list[tuple]:
        cols = self.rule.delta_cols
        deltas = [d for pdf in pdfs for d in _records(pdf, cols)]
        deltas.sort(key=lambda d: d["seq"])
        snapshot = self.snapshot_for.get(key[0])
        if snapshot is not None and self.available_after_ms:
            # simulate late snapshot arrival: buffer until a delta at or
            # past the availability time shows up
            if all(d["local_timestamp"] < self.available_after_ms for d in deltas):
                snapshot = None
        st = load()
        rows = _sync_step(st, deltas, snapshot, self.rule)
        save(st)
        return rows


def book_sync_batch(updates, snapshot_for: dict[str, dict], market: str = "spot"):
    """`updates` in the market's delta schema; snapshot_for maps symbol
    -> snapshot dict (the static side of the reference's stream-static
    join)."""
    sync = _KeySync(market_rule(market), snapshot_for)

    def run(key, pdf):
        return _rows_to_pdf(sync(key, [pdf], SyncState, lambda st: None))

    return updates.groupBy("symbol").applyInPandas(run, schema=SYNC_OUT_SCHEMA)


# ---------------------------------------------------------------------------
# Streaming
#
# Two operators over the same per-key body:
# - applyInPandasWithState (book_sync_stream): GroupState holds
#   (synced, prev_u, buffer_json) — works on any state-store backend.
# - transformWithStateInPandas (BookSyncProcessor): the Spark 4
#   successor with typed value/list state. Requires protobuf (the
#   engine vendors a minimal runtime, session.ensure_protobuf) and a
#   multi-column-family state store (RocksDB). Equivalence to the
#   default path is pinned in tests/test_tws_book_sync.py (spot) and
#   tests/test_book_sync_futures.py (futures).
# ---------------------------------------------------------------------------


def book_sync_stream(updates, snapshot_for: dict[str, dict], available_after_ms: int = 0, market: str = "spot"):
    """updates: streaming DataFrame in the market's delta schema, keyed
    by symbol. State per key: (synced flag, last update id, pre-sync
    buffer)."""
    sync = _KeySync(market_rule(market), snapshot_for, available_after_ms)

    def fn(key, pdf_iter, state):
        def load() -> SyncState:
            if not state.exists:
                return SyncState()
            synced, prev_u, buffer_json = state.get
            return SyncState(bool(synced), int(prev_u), json.loads(buffer_json))

        def save(st: SyncState) -> None:
            state.update((st.synced, st.prev_u, json.dumps(st.buffer)))

        rows = sync(key, pdf_iter, load, save)
        if rows:
            yield _rows_to_pdf(rows)

    return updates.groupBy("symbol").applyInPandasWithState(
        fn, SYNC_OUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )


try:
    from binance_etl_spark.session import ensure_protobuf

    ensure_protobuf()
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
except ImportError:  # pragma: no cover - only if even the shim fails
    StatefulProcessor = object  # type: ignore[assignment,misc]
    StatefulProcessorHandle = object  # type: ignore[assignment,misc]


class BookSyncProcessor(StatefulProcessor):
    """Keyed by symbol. Value state `sync` (synced, prev_u) + list state
    `buffer` (pre-sync deltas in the market's delta schema)."""

    def __init__(self, snapshot_for: dict[str, dict], available_after_ms: int = 0, market: str = "spot"):
        self._key_sync = _KeySync(market_rule(market), snapshot_for, available_after_ms)

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._sync = handle.getValueState("sync", "synced BOOLEAN, prev_u BIGINT")
        self._buffer = handle.getListState("buffer", self._key_sync.rule.delta_schema)

    def _load_state(self) -> SyncState:
        st = SyncState()
        if self._sync.exists():
            synced, prev_u = self._sync.get()
            st.synced, st.prev_u = bool(synced), int(prev_u)
        cols = self._key_sync.rule.delta_cols
        st.buffer = [dict(zip(cols, row)) for row in self._buffer.get()]
        return st

    def _save_state(self, st: SyncState) -> None:
        self._sync.update((st.synced, st.prev_u))
        self._buffer.clear()
        if st.buffer:
            cols = self._key_sync.rule.delta_cols
            self._buffer.appendList([tuple(d[c] for c in cols) for d in st.buffer])

    def handleInputRows(self, key, rows, timerValues):
        out = self._key_sync(key, rows, self._load_state, self._save_state)
        if out:
            yield _rows_to_pdf(out)

    def close(self) -> None:
        pass


def book_sync_stream_tws(updates, snapshot_for: dict[str, dict], available_after_ms: int = 0, market: str = "spot"):
    """transformWithStateInPandas variant (needs protobuf at runtime)."""
    return updates.groupBy("symbol").transformWithStateInPandas(
        statefulProcessor=BookSyncProcessor(snapshot_for, available_after_ms, market),
        outputStructType=SYNC_OUT_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )
