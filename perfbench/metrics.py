"""Metric math for the benchmark, kept free of Spark so the self-tests
(perfbench/tests) run in milliseconds.

Conventions:
- A timing is reported as its median plus the highest percentile that
  still has at least ten samples beyond it, with the sample count.
  Where ops of several kinds are pooled, the median is taken per kind
  and the kinds' medians are combined by their geometric mean; the
  gated tail is the mean of the samples beyond that percentile.
- Freshness of an ingested frame is the commit time of the sink batch
  that made it visible minus the frame's `arrival_ms`. The commit time
  is the mtime of the `_spark_metadata/<batch>` (or `<batch>.compact`)
  entry that first lists the frame's file.
"""

from __future__ import annotations

import json
import math
import os

TAIL_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int, want: float) -> float:
    """The highest quantile <= ``want`` that leaves at least
    TAIL_BEYOND samples above it; never below the median."""
    if n <= 0:
        raise ValueError("no samples")
    return max(0.5, min(want, 1.0 - TAIL_BEYOND / n))


def summarize(values: list[float], want: float) -> dict:
    """Median, the supported tail percentile and the sample count."""
    q = tail_quantile(len(values), want)
    return {
        "p50": percentile(values, 0.5),
        "tail_q": round(q, 4),
        "tail": percentile(values, q),
        "n": len(values),
    }


def tail_mean(values: list[float], want: float) -> float:
    """Mean of the samples beyond the supported tail quantile (see
    `tail_quantile`): at least TAIL_BEYOND of them when there are 20
    samples or more. Unlike one order statistic it moves smoothly when
    the slow samples come from a few op kinds with gaps between them."""
    xs = sorted(values)
    q = tail_quantile(len(xs), want)
    k = max(1, round((1.0 - q) * len(xs)))
    return sum(xs[-k:]) / k


def median_per_kind_gmean(samples: dict[str, list[float]]) -> float:
    """Geometric mean over kinds of each kind's median. Ops of
    different kinds (a 0.2 s read, a 4 s query; a trade, a depth
    update) form separate clusters, and a pooled median would sit in
    the gap between them, where a small shift of either moves it far;
    this summary moves smoothly with every kind."""
    meds = [percentile(v, 0.5) for v in samples.values() if v]
    if not meds:
        raise ValueError("no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


# ---------------------------------------------------------------------------
# File-sink commit log
# ---------------------------------------------------------------------------


def _batch_id(name: str) -> int | None:
    stem = name[: -len(".compact")] if name.endswith(".compact") else name
    return int(stem) if stem.isdigit() else None


def sink_commits(sink_dir: str) -> dict[str, tuple[int, float]]:
    """Map each data file's basename to (batch id, commit epoch seconds)
    from the sink's `_spark_metadata` log. A `N.compact` entry lists
    every file of batches 0..N, so logs are read in batch order and a
    file is attributed to the first batch that lists it."""
    meta = os.path.join(sink_dir, "_spark_metadata")
    entries = []
    for name in os.listdir(meta):
        bid = _batch_id(name)
        if bid is not None:
            entries.append((bid, name))
    out: dict[str, tuple[int, float]] = {}
    for bid, name in sorted(entries):
        path = os.path.join(meta, name)
        mtime = os.stat(path).st_mtime
        with open(path) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if not line.strip():
                continue
            rec = json.loads(line)
            if rec.get("action", "add") != "add":
                continue
            base = os.path.basename(rec["path"])
            out.setdefault(base, (bid, mtime))
    return out


def frame_freshness(rows: list[tuple[str, int, float]]) -> dict[str, float]:
    """rows: (frame key, arrival_ms, commit epoch seconds) per OUTPUT
    row. A frame that fans out into several rows (depth levels) is
    visible once its last row is committed, so it yields one sample:
    max(commit) - arrival, in ms."""
    latest: dict[str, tuple[int, float]] = {}
    for key, arrival_ms, commit_s in rows:
        prev = latest.get(key)
        if prev is None or commit_s > prev[1]:
            latest[key] = (arrival_ms, commit_s)
    return {k: c * 1000.0 - a for k, (a, c) in latest.items()}


def drain_times(frames: dict[str, tuple[float, float]], burst_t: float,
                burst_from: float) -> dict[str, tuple[int, float]]:
    """Per stream, (burst frames, seconds to drain them). ``frames``
    maps ``<stream>:<id>`` to (arrival, commit) epoch seconds; frames
    arriving at or after ``burst_from`` belong to the burst. The clock
    starts at the burst, or at the commit of the stream's last batch
    without burst frames if that came later: the query was busy with
    older input when the burst landed. It stops at the commit of the
    stream's last burst frame."""
    burst: dict[str, list[float]] = {}
    before: dict[str, list[float]] = {}
    for key, (arrival, commit) in frames.items():
        stream = key.rsplit(":", 1)[0]
        (burst if arrival >= burst_from else before).setdefault(stream, []).append(commit)
    out = {}
    for stream, commits in burst.items():
        first = min(commits)
        busy_until = max((c for c in before.get(stream, []) if c < first), default=burst_t)
        out[stream] = (len(commits), max(commits) - max(burst_t, busy_until))
    return out


def backlog_grew(written: list[float], committed: list[float], t_mid: float,
                 t_end: float, slack: int) -> tuple[bool, int, int]:
    """Frames written but not yet committed, at mid-steady and at the
    end of the steady phase (epoch seconds). The backlog grew if the
    end value exceeds the mid value by more than ``slack`` frames."""

    def backlog(t: float) -> int:
        return sum(1 for w in written if w <= t) - sum(1 for c in committed if c <= t)

    mid, end = backlog(t_mid), backlog(t_end)
    return end > mid + slack, mid, end


def write_amplification(table_bytes: int, input_bytes: int) -> float:
    """Bytes under the table directory per byte of generated input."""
    if input_bytes <= 0:
        raise ValueError("input_bytes must be positive")
    return table_bytes / input_bytes


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
