"""`ingest_live`: the reference's own job, open loop.

A separate generator process (perfbench/generator.py) appends frames
for two spot symbols to four spool files at a fixed rate; the engine
runs `runner.start_jobs` with the default parquet sink (four
checkpointed queries). After the steady phase and a quiet gap the
generator appends one burst at once.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

from perfbench import generator, metrics
from perfbench.harness import gc_seconds

# frames/s over the four streams: about a quarter of the burst drain
# rate in perfbench/baseline.json (`drain_frames_per_s`, burst frames /
# time to the last commit of any stream: medians of 1,173 and 1,083),
# so a slow period of the shared host cannot saturate the four queries
# and make a run invalid
RATE = 300.0
WARM_S = 6.0          # steady traffic before the measured part: checked, not timed
QUIET_S = 2.0         # no input between the steady phase and the burst
BURST = 9000          # frames appended at once after the quiet gap
LATE_P99_MS = 100.0   # generator lateness beyond which a run is invalid
DRAIN_TIMEOUT_S = 90.0


def _config(spool: str, out: str, ckpt: str) -> dict:
    events, sources = [], {}
    for sym, ev in generator.streams():
        events.append(f"binance.spot.{sym.lower()}.{ev}")
        sources[f"{sym.lower()}.{ev}"] = os.path.join(spool, generator.spool_name(sym, ev))
    return {
        "events": events,
        "storage": {"format": "parquet", "output_path": out, "checkpoint_path": ckpt},
        "sources": sources,
        "snapshots": {s: generator.snapshot(s) for s in generator.SYMBOLS},
    }


def _sink(out: str, sym: str, ev: str) -> str:
    return os.path.join(out, "spot", sym.lower(), "trades" if ev == "trade" else "depth")


def _check_failed(queries) -> None:
    for q in queries:
        exc = q.exception()
        if exc is not None:
            raise RuntimeError(f"streaming query failed: {exc}")


def _start(spark, cfg: dict, out: str):
    """start_jobs, then wait until every query committed batch 0."""
    from binance_etl_spark.runner import start_jobs

    t0 = time.perf_counter()
    queries = start_jobs(spark, cfg)
    t_started = time.perf_counter()
    marks = [os.path.join(_sink(out, s, e), "_spark_metadata", "0") for s, e in generator.streams()]
    deadline = time.time() + 120
    while not all(os.path.exists(m) for m in marks):
        _check_failed(queries)
        if time.time() > deadline:
            raise RuntimeError("queries did not commit their first batch")
        time.sleep(0.02)
    return queries, time.perf_counter() - t0, t_started - t0


def _end_offset(q) -> int:
    p = q.lastProgress
    if not p or not p.get("sources"):
        return -1
    end = p["sources"][0].get("endOffset")
    m = re.search(r"index\W+(\d+)", str(end))
    return int(m.group(1)) if m else -1


def prepare(work: str, seed: int, seconds: int) -> None:
    """Nothing to make before boot: the generator writes the input
    while the engine runs."""
    return None


def run(spark, work: str, seed: int, seconds: int, tracer=None, prepared=None) -> dict:
    from binance_etl_spark.streaming.pipelines import stop_all

    spool = os.path.join(work, "spool")
    os.makedirs(spool)
    report_path = os.path.join(work, "generator.json")
    gen = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "generator.py"),
        "--spool", spool, "--report", report_path, "--seed", str(seed),
        "--rate", str(RATE), "--steady-s", str(WARM_S + seconds), "--quiet-s", str(QUIET_S),
        "--burst", str(BURST),
    ])
    queries = []
    try:
        while not os.path.exists(os.path.join(spool, "_prefilled")):
            if gen.poll() is not None:
                raise RuntimeError("generator exited early")
            time.sleep(0.01)
        recorder = None
        if tracer is not None:
            from perfbench.harness import ProgressRecorder

            recorder = ProgressRecorder()
            spark.streams.addListener(recorder.listener)
        out = os.path.join(work, "out")
        queries, setup_unit_s, start_jobs_s = _start(
            spark, _config(spool, out, os.path.join(work, "ckpt")), out)
        qid = {q.id: ev for q, (_s, ev) in zip(queries, generator.streams())}
        gc0 = gc_seconds(spark)
        open(os.path.join(spool, "_go"), "w").close()
        gen.wait(timeout=WARM_S + seconds + QUIET_S + 120)
        if gen.returncode != 0:
            raise RuntimeError(f"generator failed with code {gen.returncode}")
        with open(report_path) as f:
            report = json.load(f)
        want = {k: v["frames"] for k, v in report["streams"].items()}
        deadline = time.time() + DRAIN_TIMEOUT_S
        pending = list(zip(queries, [f"{s}.{e}" for s, e in generator.streams()]))
        while pending:
            _check_failed(queries)
            pending = [(q, k) for q, k in pending if _end_offset(q) < want[k]]
            if time.time() > deadline:
                raise RuntimeError("burst did not drain")
            time.sleep(0.05)
        gc_s = gc_seconds(spark) - gc0
        stop_all(spark)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        for q in queries:
            if q.isActive:
                q.stop()
    result = _evaluate(out, report, seconds)
    result["setup_unit_s"] = setup_unit_s
    if tracer is not None:
        spark.streams.removeListener(recorder.listener)
        result["layers"] = _layers(recorder.events, qid, out, start_jobs_s, gc_s)
    return result



def _read_sink(sink: str, cols: list[str]):
    """Rows of every committed file with the file's commit time."""
    commits = metrics.sink_commits(sink)
    files = {}
    for root, _dirs, names in os.walk(sink):
        if "_spark_metadata" in root:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files[n] = os.path.join(root, n)
    for base, (bid, mtime) in commits.items():
        t = pq.read_table(files[base], columns=cols)
        yield bid, mtime, t.to_pydict()


def _evaluate(out: str, rep: dict, seconds: int) -> dict:
    """Check the sink against the generator's expectations and derive
    freshness, drain rate and backlog from the commit log."""
    problems: list[str] = []
    failed = 0  # frames whose output is missing, duplicated or wrong
    samples: list[tuple[str, int, float]] = []
    files = bytes_ = 0
    for sym, ev in generator.streams():
        exp = rep["streams"][f"{sym}.{ev}"]
        sink = _sink(out, sym, ev)
        files += len(metrics.sink_commits(sink))
        bytes_ += metrics.dir_bytes(sink)
        if ev == "trade":
            seen: dict[int, int] = {}
            for _bid, mtime, d in _read_sink(sink, ["id", "local_timestamp"]):
                for tid, arr in zip(d["id"], d["local_timestamp"]):
                    seen[tid] = seen.get(tid, 0) + 1
                    samples.append((f"{sym}:t:{tid}", arr, mtime))
            want = set(exp["trade_ids"])
            dup = sum(1 for c in seen.values() if c > 1)
            missing, extra = len(want - set(seen)), len(set(seen) - want)
            failed += dup + missing + extra
            if dup or missing or extra:
                problems.append(f"{sym} trades: {missing} missing, {dup} duplicated, {extra} unexpected")
        else:
            levels: dict[int, int] = {}
            gaps: set[int] = set()
            snap = 0
            for _bid, mtime, d in _read_sink(sink, ["update_id", "is_snapshot", "gap", "local_timestamp"]):
                for uid, is_snap, gap, arr in zip(d["update_id"], d["is_snapshot"], d["gap"], d["local_timestamp"]):
                    if is_snap:
                        snap += 1
                        continue
                    levels[uid] = levels.get(uid, 0) + 1
                    if gap:
                        gaps.add(uid)
                    samples.append((f"{sym}:d:{uid}", arr, mtime))
            want_levels = {int(k): v for k, v in exp["depth_frames"].items() if v > 0}
            bad = sum(1 for k in set(want_levels) | set(levels) if want_levels.get(k) != levels.get(k))
            bad_gaps = gaps ^ set(exp["gap_ids"])
            failed += bad + len(bad_gaps) + (snap != exp["snapshot_rows"])
            if bad or snap != exp["snapshot_rows"]:
                problems.append(f"{sym} depth: {bad} frames with wrong level rows, {snap} snapshot rows")
            if bad_gaps:
                problems.append(f"{sym} depth: gap rows {sorted(gaps)[:5]} != injected {exp['gap_ids'][:5]}")
    fresh = metrics.frame_freshness(samples)
    arrivals = {k: a for k, a, _c in samples}
    # the measured part of the steady phase starts after WARM_S
    t_meas = rep["t0"] + WARM_S
    t0_ms, end_ms = t_meas * 1000, rep["steady_end"] * 1000
    burst_ms = int(rep["burst_t"] * 1000)  # frames carry whole-ms stamps
    measured = [k for k in fresh if t0_ms <= arrivals[k] <= end_ms]
    steady = [fresh[k] for k in measured]
    by_table: dict[str, list[float]] = {"trades": [], "depth": []}
    for k in measured:
        by_table["trades" if k.split(":")[1] == "t" else "depth"].append(fresh[k])
    commit_at = {k: fresh[k] + arrivals[k] for k in fresh}
    drain = metrics.drain_times(
        {k: (arrivals[k] / 1000, commit_at[k] / 1000) for k in fresh}, rep["burst_t"], burst_ms / 1000)
    written = [arrivals[k] / 1000 for k in measured]
    committed = [commit_at[k] / 1000 for k in measured]
    grew, mid, end = metrics.backlog_grew(
        written, committed, t_meas + seconds / 2, rep["steady_end"], slack=int(RATE * 2))
    late = rep["lateness_ms"] or [0.0]
    late_p99 = metrics.percentile(late, 0.99)
    invalid = []
    if late_p99 > LATE_P99_MS:
        invalid.append(f"generator ran late: p99 {late_p99:.0f} ms")
    if grew:
        invalid.append(f"backlog grew from {mid} to {end} frames")
    n_frames = sum(v["frames"] for v in rep["streams"].values())
    burst_commits = [commit_at[k] for k in fresh if arrivals[k] >= burst_ms]
    drain_s = (max(burst_commits) / 1000 - rep["burst_t"]) if burst_commits else float("nan")
    # the four queries drain side by side: their rates add up
    rate = sum(n / t for n, t in drain.values()) if drain else float("nan")
    nan = float("nan")
    fs = metrics.summarize(steady, 0.99) if steady else {"p50": nan, "tail": nan}
    p50 = metrics.median_per_kind_gmean(by_table) if all(by_table.values()) else nan
    return {
        "attempted": n_frames,
        "failed": failed,
        "problems": problems,
        "invalid": invalid,
        "named": {
            "fresh_p50_ms": (fs["p50"], "ms"),
            "fresh_p99_ms": (fs["tail"], "ms"),
            "fresh_trades_p50_ms": (metrics.percentile(by_table["trades"], 0.5) if by_table["trades"] else nan, "ms"),
            "fresh_depth_p50_ms": (metrics.percentile(by_table["depth"], 0.5) if by_table["depth"] else nan, "ms"),
            "drain_frames_per_s": (rep["burst_frames"] / drain_s, "1/s"),
        },
        "samples_ms": steady or [nan],
        "p50_ms": p50,
        "rate_per_s": rate,
        "generator": {"late_p99_ms": late_p99, "backlog_mid": mid, "backlog_end": end,
                      "rate": RATE, "warm_s": WARM_S, "burst": BURST,
                      "drain_s": {k: t for k, (_n, t) in drain.items()}},
        "sink": {"files": files, "bytes": bytes_},
    }


def _p(values: list[float], q: float) -> float:
    return metrics.percentile(values, q) if values else 0.0


def _layers(events: list[dict], qid: dict, out: str, start_jobs_s: float, gc_s: float) -> dict:
    """Per-layer split from the engine's own progress events (data
    batches only)."""
    by_kind: dict[str, list[dict]] = {"trade": [], "depth": []}
    for e in events:
        if e.get("numInputRows", 0) > 0 and e.get("id") in qid:
            by_kind[qid[e["id"]]].append(e)
    alle = by_kind["trade"] + by_kind["depth"]
    dur = lambda es, k: [e["durationMs"].get(k, 0) for e in es]  # noqa: E731
    state = [s for e in by_kind["depth"] for s in e.get("stateOperators", [])]
    files = bytes_ = 0
    for sym, ev in generator.streams():
        sink = _sink(out, sym, ev)
        files += len(metrics.sink_commits(sink))
        bytes_ += metrics.dir_bytes(sink) - metrics.dir_bytes(os.path.join(sink, "_spark_metadata"))
    out_l = {
        "runner.start_jobs_s": start_jobs_s,
        "replay.latest_offset_ms": _p(dur(alle, "latestOffset"), 0.5),
        "replay.get_batch_ms": _p(dur(alle, "getBatch"), 0.5),
        "ckpt.wal_commit_ms": _p(dur(alle, "walCommit"), 0.5),
        "ckpt.commit_offsets_ms": _p(dur(alle, "commitOffsets"), 0.5),
        "state.commit_ms": _p([s.get("commitTimeMs", 0) for s in state], 0.5),
        "state.update_ms": _p([s.get("allUpdatesTimeMs", 0) for s in state], 0.5),
        "state.rows_total": max([s.get("numRowsTotal", 0) for s in state] or [0]),
        "state.memory_bytes": max([s.get("memoryUsedBytes", 0) for s in state] or [0]),
        "stream.rows_per_batch": statistics.mean([e["numInputRows"] for e in alle]) if alle else 0.0,
        "sink.files_written": files,
        "sink.bytes_written": bytes_,
        "stream.batches": len(alle),
        "jvm.gc_s": gc_s,
    }
    for kind, es in (("trades", by_kind["trade"]), ("depth", by_kind["depth"])):
        for phase, key in (("add_batch", "addBatch"), ("trigger", "triggerExecution")):
            vals = dur(es, key)
            out_l[f"stream.{kind}.{phase}_p50_ms"] = _p(vals, 0.5)
            out_l[f"stream.{kind}.{phase}_p99_ms"] = _p(vals, 0.99)
    return out_l
