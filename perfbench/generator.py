"""Open-loop frame generator for the `ingest_live` workload.

Runs as its own process with one thread. It appends Binance-shaped
`trade` and `depthUpdate` frames for two spot symbols to four spool
JSONL files (the replay source's live-spool format) on a fixed
schedule that does not slow down when the engine does:

1. steady phase: `--rate` frames/s in total for `--steady-s` seconds,
   spread round-robin over the four streams;
2. quiet phase: `--quiet-s` seconds with no input;
3. burst: `--burst` frames appended at once.

Each frame carries its creation time as `arrival_ms`. Frames are
written whole with one `os.write` per file per tick, so a reader
never sees a partial line. The seed decides the levels per depth
frame, which frames are corrupt and where sequence gaps fall.

On exit it writes a JSON report: how late each tick ran, the phase
boundaries, and what the engine should output (`expect`).

    python3 perfbench/generator.py --spool DIR --report FILE --seed 1 \
        --rate 300 --steady-s 16 --quiet-s 3 --burst 9000
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

SYMBOLS = ("BNBUSDT", "ETHUSDT")
SNAPSHOT_ID = 1000
SNAPSHOT_LEVELS = 5
CORRUPT_SHARE = 0.005
GAP_SHARE = 0.01
TICK_S = 0.005
PREFILL = 8           # frames written before the engine starts
GO_TIMEOUT_S = 300.0  # give up if the engine never signals it started


def streams() -> list[tuple[str, str]]:
    """(symbol, event) per spool file, in round-robin order."""
    return [(s, e) for s in SYMBOLS for e in ("trade", "depth")]


def spool_name(symbol: str, event: str) -> str:
    return f"{event}_{symbol}.jsonl"


def snapshot(symbol: str) -> dict:
    """REST-style book snapshot whose lastUpdateId bridges into the
    first generated depth frame."""
    base = 500.0 if symbol == SYMBOLS[0] else 3000.0
    return {
        "lastUpdateId": SNAPSHOT_ID,
        "bids": [[f"{base - i * 0.1:.8f}", f"{1 + i:.8f}"] for i in range(SNAPSHOT_LEVELS)],
        "asks": [[f"{base + (i + 1) * 0.1:.8f}", f"{1 + i:.8f}"] for i in range(SNAPSHOT_LEVELS)],
    }


class Stream:
    """Frame factory for one (symbol, event) spool; records what the
    engine must output for the frames it made."""

    def __init__(self, symbol: str, event: str, rng: random.Random):
        self.symbol, self.event, self.rng = symbol, event, rng
        self.seq = 0
        self.next_id = 1
        self.prev_u = SNAPSHOT_ID
        self.trade_ids: list[int] = []
        self.depth_frames: dict[int, int] = {}  # u -> level rows
        self.gap_ids: list[int] = []
        self.corrupt = 0

    def frame(self, now_ms: int) -> str:
        rng = self.rng
        if rng.random() < CORRUPT_SHARE:
            self.corrupt += 1
            body = '{"e":"%s","E":%d,"s":"%s"' % (
                "trade" if self.event == "trade" else "depthUpdate", now_ms, self.symbol)
        elif self.event == "trade":
            tid = self.next_id
            self.next_id += 1
            self.trade_ids.append(tid)
            body = json.dumps({
                "e": "trade", "E": now_ms, "s": self.symbol, "t": tid,
                "p": f"{500 + rng.randint(0, 9999) / 100:.8f}",
                "q": f"{rng.randint(1, 99999) / 1000:.8f}",
                "m": rng.random() < 0.5,
            }, separators=(",", ":"))
        else:
            first = self.prev_u + 1
            if self.depth_frames and rng.random() < GAP_SHARE:
                first += rng.randint(1, 5)
            last = first + rng.randint(0, 4)
            nb, na = rng.randint(0, 6), rng.randint(1, 6)
            lvl = lambda: [f"{500 + rng.randint(0, 999) / 10:.8f}", f"{rng.randint(0, 9999) / 100:.8f}"]  # noqa: E731
            if first != self.prev_u + 1:
                self.gap_ids.append(last)
            self.depth_frames[last] = nb + na
            self.prev_u = last
            body = json.dumps({
                "e": "depthUpdate", "E": now_ms, "s": self.symbol, "U": first, "u": last,
                "b": [lvl() for _ in range(nb)], "a": [lvl() for _ in range(na)],
            }, separators=(",", ":"))
        line = json.dumps({"frame": body, "arrival_ms": now_ms, "seq": self.seq})
        self.seq += 1
        return line + "\n"

    def expect(self) -> dict:
        out = {"frames": self.seq, "corrupt": self.corrupt}
        if self.event == "trade":
            out["trade_ids"] = self.trade_ids
        else:
            out["depth_frames"] = {str(k): v for k, v in self.depth_frames.items()}
            out["gap_ids"] = self.gap_ids
            out["snapshot_rows"] = 2 * SNAPSHOT_LEVELS
        return out


def run(spool: str, seed: int, rate: float, steady_s: float, quiet_s: float,
        burst: int) -> dict:
    rng = random.Random(seed)
    gens = [Stream(s, e, random.Random(rng.getrandbits(64))) for s, e in streams()]
    fds = [os.open(os.path.join(spool, spool_name(g.symbol, g.event)),
                   os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644) for g in gens]

    def emit(n: int, start: int) -> int:
        """Write frames start..start+n-1 (round-robin), one write per file."""
        bufs = [[] for _ in gens]
        now_ms = int(time.time() * 1000)
        for i in range(start, start + n):
            k = i % len(gens)
            bufs[k].append(gens[k].frame(now_ms))
        for fd, b in zip(fds, bufs):
            if b:
                os.write(fd, "".join(b).encode())
        return start + n

    try:
        sent = emit(PREFILL, 0)
        open(os.path.join(spool, "_prefilled"), "w").close()
        ready = os.path.join(spool, "_go")
        give_up = time.time() + GO_TIMEOUT_S
        while not os.path.exists(ready):  # the engine signals it has started
            if time.time() > give_up:
                raise TimeoutError("the engine never signalled _go")
            time.sleep(0.01)
        t0 = time.time()
        lateness_ms: list[float] = []
        steady_n = int(rate * steady_s)
        done = 0
        while done < steady_n:
            now = time.time()
            due = min(steady_n, int((now - t0) * rate) + 1)
            if due > done:
                # how late the oldest frame of this tick is
                lateness_ms.append(max(0.0, (now - (t0 + done / rate)) * 1000))
                sent = emit(due - done, sent)
                done = due
            time.sleep(max(0.0, min(TICK_S, t0 + done / rate - time.time())))
        steady_end = time.time()
        time.sleep(quiet_s)
        burst_t = time.time()
        sent = emit(burst, sent)
    finally:
        for fd in fds:
            os.close(fd)
    return {
        "t0": t0, "steady_end": steady_end, "burst_t": burst_t,
        "steady_frames": steady_n, "burst_frames": burst, "prefill": PREFILL,
        "lateness_ms": lateness_ms,
        "streams": {f"{g.symbol}.{g.event}": g.expect() for g in gens},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--spool", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--steady-s", type=float, required=True)
    ap.add_argument("--quiet-s", type=float, required=True)
    ap.add_argument("--burst", type=int, required=True)
    a = ap.parse_args()
    report = run(a.spool, a.seed, a.rate, a.steady_s, a.quiet_s, a.burst)
    tmp = a.report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(report, f)
    os.replace(tmp, a.report)


if __name__ == "__main__":
    main()
