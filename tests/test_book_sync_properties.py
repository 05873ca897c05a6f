"""Hypothesis property tests for the book-sync state machine core
(SURVEY.md §5.2 item 4), for the spot and the futures market rule.
Pure-Python `_sync_step` — no Spark session — so hundreds of generated
streams run in milliseconds.

Invariants (reference semantics, book_utils.py:17-51, and the public
Binance futures local-order-book protocol), checked against a replay
oracle that spells out each protocol's stale / bridge / continuity
rules as published (`PROTOCOLS`), not the engine's `MarketRule`:
1. no stale delta is ever emitted;
2. snapshot rows precede every delta row, carry is_snapshot=True and
   timestamp = local_timestamp - 1;
3. sync happens iff some delta bridges the snapshot;
4. the gap flag on each emitted delta equals "not continuous with the
   previously emitted update";
5. level-count conservation: emitted delta rows = sum of levels of
   emitted updates; buffering without a snapshot emits nothing and
   keeps every delta.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from binance_etl_spark.streaming.book_sync import SyncState, _sync_step, market_rule

# market -> (stale(d, L), bridges(d, L), continuous(d, prev_u)), where
# L = snapshot lastUpdateId, U/u = first/last update id, pu = prev_final_id
PROTOCOLS = {
    "spot": (
        lambda d, L: d["last_update_id"] <= L,  # u <= lastUpdateId
        lambda d, L: d["first_update_id"] <= L + 1 <= d["last_update_id"],
        lambda d, prev_u: d["first_update_id"] == prev_u + 1,  # U == prev u + 1
    ),
    "usdm_futures": (
        lambda d, L: d["last_update_id"] < L,  # u < lastUpdateId
        lambda d, L: d["first_update_id"] <= L <= d["last_update_id"],
        lambda d, prev_u: d["prev_final_id"] == prev_u,  # pu == prev u
    ),
}
MARKETS = list(PROTOCOLS)


@st.composite
def delta_streams(draw):
    last_id = draw(st.integers(min_value=10, max_value=200))
    u = draw(st.integers(min_value=last_id - 20, max_value=last_id + 3))
    n = draw(st.integers(min_value=1, max_value=20))
    deltas = []
    for seq in range(n):
        gap = draw(st.integers(min_value=0, max_value=8))
        jump = draw(st.booleans())
        U = u + 1 + (gap if jump else 0)
        # pu normally names the previous event's u; about one event in
        # five carries a mismatched pu (a futures continuity break)
        pu = u + (draw(st.integers(min_value=1, max_value=5)) if draw(st.integers(0, 4)) == 0 else 0)
        u = U + draw(st.integers(min_value=0, max_value=3))
        n_bids = draw(st.integers(min_value=0, max_value=3))
        n_asks = draw(st.integers(min_value=0, max_value=2))
        deltas.append(
            {
                "symbol": "S",
                "timestamp": 1000 + 10 * seq,
                "local_timestamp": 1007 + 10 * seq,
                "first_update_id": U,
                "last_update_id": u,
                "prev_final_id": pu,
                "bids_json": json.dumps([["1.0", f"{b}.0"] for b in range(n_bids)]),
                "asks_json": json.dumps([["2.0", f"{a}.0"] for a in range(n_asks)]),
                "seq": seq,
            }
        )
    return {"lastUpdateId": last_id, "bids": [["1.0", "1.0"]], "asks": [["2.0", "1.0"]]}, deltas


def _for_market(deltas, market):
    """Spot events carry no pu: drop it so the spot rule cannot read it."""
    if market == "spot":
        return [{k: v for k, v in d.items() if k != "prev_final_id"} for d in deltas]
    return deltas


def _levels(d):
    return len(json.loads(d["bids_json"])) + len(json.loads(d["asks_json"]))


@pytest.mark.parametrize("market", MARKETS)
@settings(max_examples=300, deadline=None)
@given(delta_streams())
def test_sync_invariants(market, case):
    snapshot, deltas = case
    deltas = _for_market(deltas, market)
    stale, bridges, continuous = PROTOCOLS[market]
    rule = market_rule(market)
    last_id = snapshot["lastUpdateId"]
    state = SyncState()
    rows = _sync_step(state, deltas, snapshot, rule)

    snap_rows = [r for r in rows if r[6]]
    delta_rows = [r for r in rows if not r[6]]
    by_u = {d["last_update_id"]: d for d in deltas}

    # (1) stale never emitted
    assert not any(stale(by_u[r[7]], last_id) for r in delta_rows)

    # (2) snapshot-first, flagged, ts = local - 1
    if snap_rows:
        last_snap_idx = max(i for i, r in enumerate(rows) if r[6])
        first_delta_idx = min((i for i, r in enumerate(rows) if not r[6]), default=len(rows))
        assert last_snap_idx < first_delta_idx
        assert all(r[1] == r[2] - 1 and r[7] == last_id for r in snap_rows)

    # (3) sync iff a bridging delta exists among non-stale deltas
    bridgeable = any(bridges(d, last_id) for d in deltas)
    assert state.synced == bridgeable
    assert bool(snap_rows) == bridgeable

    # (4) gap flag is exact — replay the sequencing independently.
    # NB zero-level updates emit no rows but still advance prev_u.
    synced = False
    prev_u = None
    expected_flags: dict[int, bool] = {}
    for d in deltas:
        if not synced:
            if stale(d, last_id):
                continue
            if bridges(d, last_id):
                synced = True
                expected_flags[d["last_update_id"]] = False
                prev_u = d["last_update_id"]
            continue
        expected_flags[d["last_update_id"]] = not continuous(d, prev_u)
        prev_u = d["last_update_id"]
    for r in delta_rows:
        assert r[8] == expected_flags[r[7]]

    # (5) conservation + buffering
    if state.synced:
        assert len(delta_rows) == sum(_levels(by_u[u]) for u in expected_flags)
        assert state.buffer == []
    # unsynced + no snapshot -> everything buffered, nothing emitted
    state2 = SyncState()
    rows2 = _sync_step(state2, deltas, None, rule)
    assert rows2 == [] and len(state2.buffer) == len(deltas)


@pytest.mark.parametrize("market", MARKETS)
@settings(max_examples=100, deadline=None)
@given(delta_streams(), st.integers(min_value=1, max_value=5))
def test_incremental_equals_oneshot(market, case, split_at):
    """Feeding deltas in several micro-batches (state carried) emits
    exactly what one big batch emits — the batch/stream equivalence
    property at the state-machine level."""
    snapshot, deltas = case
    deltas = _for_market(deltas, market)
    rule = market_rule(market)
    k = min(split_at, len(deltas))
    one = _sync_step(SyncState(), deltas, snapshot, rule)
    st_inc = SyncState()
    inc = _sync_step(st_inc, deltas[:k], snapshot, rule) + _sync_step(st_inc, deltas[k:], snapshot, rule)
    assert one == inc
