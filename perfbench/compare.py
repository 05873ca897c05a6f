"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.txt CHANGED.txt

Each file holds the concatenated standard output of `perfbench/run.py`
runs (a detail line followed by a result line per run). For each
workload and end-to-end metric it prints both medians, quartiles and
the change. Results stamped by different hosts (host name, core
count, CPU model or engine core setting) are refused: a number only
means something next to a baseline from the same machine. So are
results whose host ran at a different speed: the median of each JVM
probe in the run stamps (an all-core sort, after the boot and after
the run) may differ between the files by at most SPEED_TOL of its
value, and the median steal share by at most STEAL_TOL. The Python
probe (a single-core loop) is printed but not checked: on a shared
host it drifts by 10-20% within seconds, and it refused both pairs of
the two baseline sets (same code, made back to back), whose gated
metrics agreed within 6%. When one file holds traced runs (`--trace 1`) and the
other untraced runs of the same workload, the difference of their
end-to-end medians is the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import sys

HOST_KEYS = ("host", "nproc", "cpu_model", "SPARK_GRAFT_CPUS")
PROBES = ("py_ms_before", "py_ms_after", "jvm_ms_before", "jvm_ms_after")
CHECKED = ("jvm_ms_before", "jvm_ms_after")
SPEED_TOL = 0.10
# On a shared 4-core host, runs with a steal share above 0.04 had an
# 18-30% higher median p50_ms than runs below 0.02 (perfbench/README.md).
STEAL_TOL = 0.02


class HostMismatch(ValueError):
    pass


def load(path: str) -> list[dict]:
    """Detail records (the line before each result line)."""
    out, prev = [], None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            rec = json.loads(line)
            if "correct" in rec and prev is not None:
                prev["result"] = rec
                out.append(prev)
                prev = None
            elif "stamp" in rec:
                prev = rec
    return out


def check_same_host(a: list[dict], b: list[dict]) -> None:
    hosts = {tuple(r["stamp"].get(k) for k in HOST_KEYS) for r in a + b}
    if len(hosts) > 1:
        raise HostMismatch(f"results come from different hosts: {sorted(map(str, hosts))}")


def host_speed(runs: list[dict]) -> dict[str, float]:
    """Median of each host-speed probe over a set of runs."""
    out = {}
    for k in PROBES + ("steal_share",):
        xs = [r["stamp"]["host_speed"][k] for r in runs if k in r["stamp"].get("host_speed", {})]
        if len(xs) != len(runs) or not xs:
            raise HostMismatch(f"runs without the host-speed probe {k}")
        out[k] = statistics.median(xs)
    return out


def check_same_speed(a: list[dict], b: list[dict], tol: float = SPEED_TOL) -> dict:
    """Refuse two sets whose host ran at different speeds; returns the
    relative change of each probe's median."""
    sa, sb = host_speed(a), host_speed(b)
    change = {k: (sb[k] - sa[k]) / sa[k] for k in PROBES}
    off = {k: round(change[k], 3) for k in CHECKED if abs(change[k]) > tol}
    if off:
        raise HostMismatch(f"host speed differs by more than {tol:.0%}: {off}")
    change["steal_share"] = sb["steal_share"] - sa["steal_share"]
    if abs(change["steal_share"]) > STEAL_TOL:
        raise HostMismatch(f"steal share differs by {change['steal_share']:+.3f} "
                           f"(medians {sa['steal_share']:.3f} and {sb['steal_share']:.3f})")
    return change


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(runs: list[dict]) -> dict:
    by: dict[tuple[str, int], dict[str, list[float]]] = {}
    for r in runs:
        key = (r["workload"], r["trace"])
        for name, v in r["e2e"].items():
            by.setdefault(key, {}).setdefault(name, []).append(v)
    return by


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[0]), load(argv[1])
    try:
        check_same_host(a, b)
        speed = check_same_speed(a, b)
    except HostMismatch as e:
        print(f"refused: {e}", file=sys.stderr)
        return 1
    print("host speed change: " + ", ".join(f"{k} {v * 100:+.1f}%" for k, v in speed.items()
                                            if k != "steal_share")
          + f"; steal share {speed['steal_share']:+.3f}")
    sa, sb = summarize(a), summarize(b)
    for (wl, tr), metrics in sorted(sa.items()):
        other = sb.get((wl, tr)) or sb.get((wl, 1 - tr))
        if other is None:
            continue
        label = "overhead" if (wl, tr) not in sb else "change"
        for name, xs in sorted(metrics.items()):
            ys = other.get(name)
            if not ys:
                continue
            qa, qb = _quartiles(xs), _quartiles(ys)
            print(f"{wl:13s} {name:12s} base {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] "
                  f"other {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {label} "
                  f"{(qb[1] - qa[1]) / qa[1] * 100:+.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
