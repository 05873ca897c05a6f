"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 12 --trace 0

Run from the repository root. Makes the workload's inputs (untimed),
boots the engine (`session.get_spark`), runs one workload, checks its
output, prints one human-readable JSON detail line (named metrics with
units, stamps, validity) and, as the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` the run enables the Spark UI, a
streaming listener, job groups and the Py4J counter and reports the
per-layer metrics instead. Layers a workload does not exercise read 0.

`run.py` itself only supervises: it makes itself the child subreaper
(Linux `PR_SET_CHILD_SUBREAPER`), runs the workload in a child process,
and when the child ends, or after HARD_LIMIT_S, or on SIGTERM, ends
every process the run left behind (the engine JVM, its Python workers,
the frame generator) and waits until each has ended. Orphans of the
run re-parent to the supervisor, so none escapes the wait.

The stamp's `host_speed` holds fixed CPU probes, a single-core Python
loop before boot and after the run and an all-core sort in the JVM
after boot and after the run, plus the hypervisor's steal share over
the run: the host's speed as a measured figure, which
`perfbench/compare.py` checks.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_live", "batch_mix")
# the percentile a workload's tail aims for; the sample count may
# support less (metrics.tail_quantile)
TAIL_WANT = {"ingest_live": 0.99}
END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "tail_ms": "ms",
    "rate_per_s": "1/s",
}


# the whole run, set-up included, ends within this or is killed
HARD_LIMIT_S = 170.0
GRACE_S = 10.0  # between SIGTERM and SIGKILL for leftover processes
_CHILD_ENV = "PERFBENCH_WORKLOAD_PROCESS"
_PR_SET_CHILD_SUBREAPER = 36


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "binance_etl_spark", "session.py")):
        _fail("engine sources (binance_etl_spark/) not found next to perfbench/")
    if a.seconds < 1:
        _fail("--seconds must be >= 1")
    return a


def _descendants() -> list[int]:
    """Pids of every live process below this one, from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":  # a zombie has ended; reaping it is enough
            parent[int(name)] = int(fields[1])
    me, out = os.getpid(), []
    for pid in parent:
        p = parent.get(pid)
        seen = 0
        while p is not None and p != me and seen < 64:
            p, seen = parent.get(p), seen + 1
        if p == me:
            out.append(pid)
    return out


def _end_all() -> list[int]:
    """SIGTERM every descendant, SIGKILL what is left after GRACE_S,
    and reap until this process has no child left. Returns the pids
    that were still running."""
    left = _descendants()
    for sig, wait_s in ((signal.SIGTERM, GRACE_S), (signal.SIGKILL, GRACE_S)):
        for pid in _descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            if not _descendants():
                break
            time.sleep(0.05)
    try:  # as subreaper, every orphan is now a child: wait for all
        while True:
            os.waitpid(-1, 0)
    except ChildProcessError:
        pass
    return left


def supervise(cmd: list[str], env: dict[str, str], limit_s: float) -> int:
    """Runs `cmd` as a child process and ends, on every path out, every
    process it started, orphans included. Returns the child's exit
    code, or 3 if it ran longer than `limit_s`."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        _fail("cannot become child subreaper (prctl); processes could escape the run")

    def _on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    code = 1
    try:
        child = subprocess.Popen(cmd, env=env)
        try:
            code = child.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {limit_s:.0f} s; stopped", file=sys.stderr)
            code = 3
    except SystemExit as e:
        code = int(e.code or 1)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        left = _end_all()
    if left:
        print(f"perfbench: ended {len(left)} process(es) the run left running", file=sys.stderr)
    return code


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    a = _args(argv)
    if os.environ.get(_CHILD_ENV) != "1":
        sys.exit(supervise([sys.executable, os.path.abspath(__file__), *argv],
                           {**os.environ, _CHILD_ENV: "1"}, HARD_LIMIT_S))

    sys.path.insert(0, ROOT)
    from perfbench import harness, metrics

    work = harness.prepare_env(ROOT)
    wl = importlib.import_module(f"perfbench.{a.workload}")
    # inputs and references the engine does not make: before the clock
    t_prep = time.perf_counter()
    prepared = wl.prepare(work, a.seed, a.seconds)
    prepare_s = time.perf_counter() - t_prep
    speed = {"py_ms_before": harness.py_probe_ms()}
    ticks0 = harness.cpu_ticks()
    t_boot = time.perf_counter()
    spark = harness.boot(work, traced=bool(a.trace))
    boot_s = time.perf_counter() - t_boot
    speed["jvm_ms_before"] = harness.jvm_probe_ms(spark)
    tracer = harness.Tracer(spark) if a.trace else None
    try:
        t_run = time.perf_counter()
        res = wl.run(spark, work, a.seed, a.seconds, tracer, prepared)
        run_s = time.perf_counter() - t_run
        setup_s = boot_s + res.pop("setup_unit_s")
        speed["jvm_ms_after"] = harness.jvm_probe_ms(spark)
        peak = harness.peak_rss_mb(spark)
        stamp = harness.stamps(ROOT, a.seed, spark)
        layers = res.pop("layers", {})
        layers["session.boot_s"] = boot_s
    finally:
        t_stop = time.perf_counter()
        if tracer is not None:
            tracer.close()
        harness.stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
        stop_s = time.perf_counter() - t_stop
    speed["py_ms_after"] = harness.py_probe_ms()
    speed["steal_share"] = harness.steal_share(ticks0, harness.cpu_ticks())
    stamp["host_speed"] = speed

    samples_ms = res.pop("samples_ms")
    lat = metrics.summarize(samples_ms, TAIL_WANT.get(a.workload, 0.95))
    e2e = {
        "setup_s": setup_s,
        "p50_ms": res.pop("p50_ms"),
        "tail_ms": metrics.tail_mean(samples_ms, TAIL_WANT.get(a.workload, 0.95)),
        "rate_per_s": res.pop("rate_per_s"),
    }
    named = {k: {"value": v, "unit": u} for k, (v, u) in res.pop("named").items()}
    named["setup_s"] = {"value": setup_s, "unit": "s"}
    named["peak_rss_mb"] = {"value": peak, "unit": "MB"}
    # An invalid run (generator late, backlog growing) has no latency
    # to report; a traced run reports no latency, so only its output
    # checks count.
    invalid = res.pop("invalid", [])
    correct = res["failed"] == 0 and (bool(a.trace) or (not invalid and all(
        isinstance(v, (int, float)) and math.isfinite(v) for v in e2e.values())))
    detail = {
        "workload": a.workload,
        "trace": a.trace,
        "valid": not invalid,
        "invalid": invalid,
        "named_metrics": named,
        "e2e": e2e,
        "stamp": stamp,
        "tail_q": lat["tail_q"],
        "tail_percentile_ms": lat["tail"],
        "samples": lat["n"],
        "prepare_s": prepare_s,
        # where the run's wall went (the workload's run includes its set-up)
        "phases_s": {"prepare": prepare_s, "boot": boot_s, "run": run_s, "stop": stop_s},
        **res,
    }
    print(json.dumps(detail, default=str))
    if a.trace:
        layers["trace.p50_ms"] = e2e["p50_ms"]
        units = _per_layer_units()
        unknown = set(layers) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        out = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": out,
    }))


def _per_layer_units() -> dict[str, str]:
    """Every per-layer metric of BENCHMARK.json with its unit; a layer
    the workload does not exercise reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    main()
