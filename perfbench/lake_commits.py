"""The snapshot-log client of `batch_mix`: writes beside reads on a
snapshot-log table (operators/snapshots.py).

Each round: `write_version` append, `merge_into` with a CDC batch
(updates plus tombstones), `delete_keys`, `update_where`, `compact`
every COMPACT_EVERY rounds, then reads: `read_version` latest, a
time-travel `read_version` of the initial version, and one bloom-pruned point lookup. An
in-memory DuckDB table replays the same ops on the same generated
input; every op is checked against it (row counts, lookup rows), and
the final table and one time-travel version are checked value for
value.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from perfbench import metrics
from perfbench.harness import gc_seconds

BASE_ROWS = 20_000
APPEND_ROWS = 2_000
MERGE_UPDATES = 300
MERGE_TOMBSTONES = 50
MERGE_INSERTS = 100
DELETE_KEYS = 40
COMPACT_EVERY = 1
SCHEMA = "id BIGINT, symbol STRING, price DOUBLE, qty DOUBLE, ts BIGINT, side STRING"
TOMBSTONE = "del"
COLS = ["id", "symbol", "price", "qty", "ts", "side"]


class Input:
    """Seeded synthetic trades keyed by `id`."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 0

    def rows(self, n: int) -> list[tuple]:
        out = []
        for _ in range(n):
            out.append(self.row(self.next_id))
            self.next_id += 1
        return out

    def row(self, key: int) -> tuple:
        r = self.rng
        return (key, r.choice(("BNBUSDT", "ETHUSDT", "BTCUSDT")),
                r.randint(1, 10**6) / 100.0, r.randint(1, 10**5) / 1000.0,
                1_727_000_000_000 + key * 10 + r.randint(0, 9), r.choice(("buy", "sell")))


def _input_bytes(rows: list[tuple]) -> int:
    """Generated input size: the rows as CSV text."""
    return sum(len(",".join(map(str, r))) + 1 for r in rows)


class Replay:
    """The same ops applied to a DuckDB table."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE t ({SCHEMA})")
        self.states: dict[int, str] = {}

    def insert(self, rows: list[tuple]) -> None:
        if rows:
            import pandas as pd

            self.con.register("src", pd.DataFrame(rows, columns=COLS))
            self.con.execute("INSERT INTO t SELECT * FROM src")
            self.con.unregister("src")

    def merge(self, rows: list[tuple], tomb: list[int]) -> None:
        keys = [r[0] for r in rows] + tomb
        self.con.execute("DELETE FROM t WHERE id IN (SELECT unnest(?))", [keys])
        self.insert(rows)

    def delete(self, keys: list[int]) -> None:
        self.con.execute("DELETE FROM t WHERE id IN (SELECT unnest(?))", [keys])

    def update(self, lo: int, hi: int) -> None:
        self.con.execute(f"UPDATE t SET qty = qty + 1 WHERE id BETWEEN {lo} AND {hi}")

    def count(self) -> int:
        return self.con.execute("SELECT count(*) FROM t").fetchone()[0]

    def live_ids(self) -> list[int]:
        return [r[0] for r in self.con.execute("SELECT id FROM t ORDER BY id").fetchall()]

    def lookup(self, key: int) -> list[tuple]:
        return self.con.execute("SELECT * FROM t WHERE id = ?", [key]).fetchall()

    def snapshot(self, version: int) -> None:
        self.con.execute(f"CREATE TABLE v{version} AS SELECT * FROM t")
        self.states[version] = f"v{version}"

    def rows_at(self, version: int) -> list[tuple]:
        return sorted(self.con.execute(f"SELECT * FROM {self.states[version]}").fetchall())


def _files(table: str, version: int) -> set[str]:
    from binance_etl_spark.operators.snapshots import _load_manifest

    return set(_load_manifest(table, version)["files"])


class LakeCommits:
    """The input and its DuckDB replay are made on construction, before
    the engine boots; `setup` commits the initial table (version 0);
    `measure` runs the timed rounds."""

    def __init__(self, work: str, seed: int):
        import pandas as pd

        self.table = os.path.join(work, "lake", "trades")
        self.inp = Input(seed)
        self.rng = random.Random(seed + 1)
        self.replay = Replay()
        base = self.inp.rows(BASE_ROWS)
        self.input_bytes = _input_bytes(base)
        self.base = pd.DataFrame(base, columns=COLS)
        self.replay.insert(base)
        self.problems: list[str] = []
        self.writes: list[float] = []
        self.reads: list[float] = []
        self.by_kind: dict[str, list[float]] = {}  # timed seconds per op kind
        self.op_stats: list[dict] = []

    def setup(self, spark, tracer=None) -> float:
        """Commits the initial table with blooms and stats on `id`.
        Returns its wall in seconds."""
        from binance_etl_spark.operators import snapshots as snap

        t_setup = time.perf_counter()
        self.spark, self.tracer, self.snap = spark, tracer, snap
        self.v0 = snap.write_version(spark.createDataFrame(self.base, SCHEMA), self.table,
                                     stats_cols=["id"], bloom_cols=["id"])
        setup_s = time.perf_counter() - t_setup
        self.replay.snapshot(self.v0)
        return setup_s

    def _timed(self, kind: str, fn, label: str | None = None):
        snap, table = self.snap, self.table
        before = snap.main_versions(table)[-1]
        t0 = time.perf_counter()
        if self.tracer is None:
            out = fn()
        else:
            with self.tracer.op(f"snapshots.{kind}"):
                out = fn()
        wall = time.perf_counter() - t0
        (self.reads if kind == "read" else self.writes).append(wall)
        self.by_kind.setdefault(label or kind, []).append(wall)
        if self.tracer is not None and kind != "read":
            after = snap.main_versions(table)[-1]
            old, new = _files(table, before), _files(table, after)
            self.op_stats.append({"kind": kind, "added": len(new - old), "removed": len(old - new)})
        return out

    def _check_count(self, what: str) -> None:
        got, want = self.snap.count_rows(self.table), self.replay.count()
        if got != want:
            self.problems.append(f"{what}: {got} rows, replay has {want}")

    def _round(self) -> None:
        from perfbench.query_mix import checksum

        spark, snap, table, inp, rng, replay = (
            self.spark, self.snap, self.table, self.inp, self.rng, self.replay)
        new = inp.rows(APPEND_ROWS)
        self.input_bytes += _input_bytes(new)
        self._timed("append", lambda: snap.write_version(_frame(spark, new), table))
        replay.insert(new)
        self._check_count("append")
        # merge: updates of live keys, tombstones, inserts
        live = replay.live_ids()
        upd_keys = rng.sample(live, MERGE_UPDATES)
        tomb = rng.sample(sorted(set(live) - set(upd_keys)), MERGE_TOMBSTONES)
        src = [inp.row(k) for k in upd_keys] + inp.rows(MERGE_INSERTS)
        # a tombstone is a source row whose `side` is TOMBSTONE (the
        # delete condition may only read target columns)
        cdc = src + [inp.row(k)[:5] + (TOMBSTONE,) for k in tomb]
        self.input_bytes += _input_bytes(cdc)
        self._timed("merge", lambda: snap.merge_into(
            spark, table, _frame(spark, cdc), ["id"],
            delete_condition=f"side = '{TOMBSTONE}'"))
        replay.merge(src, tomb)
        self._check_count("merge")
        dkeys = rng.sample(replay.live_ids(), DELETE_KEYS)
        self._timed("delete_keys", lambda: snap.delete_keys(spark, table, "id", dkeys))
        replay.delete(dkeys)
        self._check_count("delete_keys")
        lo = rng.randint(0, max(0, inp.next_id - 200))
        self._timed("update", lambda: snap.update_where(
            spark, table, f"id BETWEEN {lo} AND {lo + 199}", {"qty": "qty + 1"}))
        replay.update(lo, lo + 199)
        self._check_count("update")
        self.rounds += 1
        if self.rounds % COMPACT_EVERY == 0:
            self._timed("compact", lambda: snap.compact(spark, table, target_files=4, stats_cols=["id"]))
            self._check_count("compact")
        replay.snapshot(snap.main_versions(table)[-1])
        # reads: latest, time travel to the initial version, point lookup
        n = self._timed("read", lambda: checksum(snap.read_version(spark, table))[0], "read_latest")
        if n != replay.count():
            self.problems.append(f"read latest: {n} rows, replay has {replay.count()}")
        n = self._timed("read", lambda: checksum(snap.read_version(spark, table, self.v0))[0],
                        "read_time_travel")
        if n != len(replay.rows_at(self.v0)):
            self.problems.append(f"read v{self.v0}: {n} rows")
        key = rng.choice(replay.live_ids())
        got = self._timed("read", lambda: _point_lookup(spark, snap, table, key), "read_lookup")
        if got != replay.lookup(key):
            self.problems.append(f"lookup {key}: {got} != {replay.lookup(key)}")

    def measure(self, rounds: int) -> dict:
        """A fixed number of rounds, so that every run pools the same
        ops. The first round is cold: the first run of every op in the
        process, as bench.py times it."""
        gc0 = gc_seconds(self.spark)
        self.rounds = 0
        while self.rounds < rounds:
            self._round()
        self.gc_s = gc_seconds(self.spark) - gc0
        # value-for-value checks, outside the timed region
        head = self.snap.main_versions(self.table)[-1]
        for ver in (head, self.v0):
            df = self.snap.read_version(self.spark, self.table, ver).select(*COLS)
            if sorted(tuple(r) for r in df.collect()) != self.replay.rows_at(ver):
                self.problems.append(f"version {ver} differs from the DuckDB replay")
        self.table_bytes = metrics.dir_bytes(self.table)
        ws = metrics.summarize([x * 1000 for x in self.writes], 0.95)
        return {
            "attempted": len(self.writes) + len(self.reads),
            "failed": len(self.problems),
            "problems": self.problems,
            "samples_ms": [x * 1000 for x in self.writes],
            "named": {
                "commit_p50_s": (ws["p50"] / 1000, "s"),
                "commit_p95_s": (ws["tail"] / 1000, "s"),
                "lake_read_p50_s": (statistics.median(self.reads), "s"),
                "lake_write_amp": (metrics.write_amplification(self.table_bytes, self.input_bytes), "ratio"),
            },
            "rounds": self.rounds,
            "versions": head + 1,
        }

    def layers_from(self, ops: list[dict]) -> dict:
        return _layers(ops, self.op_stats, self.table_bytes, self.gc_s)

    def op_seconds(self) -> list[float]:
        return self.writes + self.reads


def _frame(spark, rows: list[tuple]):
    """Rows to a DataFrame through Arrow (pandas), not row pickling."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=COLS), SCHEMA)


def _point_lookup(spark, snap, table: str, key: int) -> list[tuple]:
    """Bloom- and zone-pruned file selection, then a read of the
    candidate files only."""
    cands, _skipped = snap.select_files_point(table, None, "id", [key])
    if not cands:
        return []
    df = spark.read.parquet(*[os.path.join(table, c) for c in cands])
    return [tuple(r) for r in df.where(f"id = {key}").select(*COLS).collect()]


def _layers(ops: list[dict], op_stats: list[dict], table_bytes: int, gc_s: float) -> dict:
    out: dict[str, float] = {}
    kinds = ("append", "merge", "delete_keys", "update", "compact", "read")
    for k in kinds:
        mine = [o for o in ops if o["name"] == f"snapshots.{k}"]
        if not mine:
            continue
        out[f"snapshots.{k}_s"] = statistics.median(o["wall_s"] for o in mine)
        out[f"snapshots.{k}_jobs"] = statistics.median(o["jobs"] for o in mine)
        out[f"snapshots.{k}_py4j_calls"] = statistics.median(o["py4j_calls"] for o in mine)
        st = [s for s in op_stats if s["kind"] == k]
        if st:
            out[f"snapshots.{k}_files_added"] = statistics.median(s["added"] for s in st)
            out[f"snapshots.{k}_files_removed"] = statistics.median(s["removed"] for s in st)
    out["snapshots.bytes_written"] = table_bytes
    out["jvm.gc_s"] = gc_s
    return out
