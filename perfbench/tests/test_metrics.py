"""Self-tests for the benchmark's metric math.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import compare, metrics


def test_tail_percentile_keeps_ten_samples_beyond():
    assert metrics.tail_quantile(2000, 0.99) == 0.99
    assert metrics.tail_quantile(100, 0.99) == pytest.approx(0.9)
    # fewer than 20 samples support no tail above the median
    assert metrics.tail_quantile(17, 0.95) == 0.5


def test_summarize_reports_count_and_interpolates():
    s = metrics.summarize([float(x) for x in range(1, 101)], 0.95)
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail_q"] == pytest.approx(0.9)
    assert s["tail"] == pytest.approx(90.1)
    assert metrics.summarize([3.0], 0.99) == {"p50": 3.0, "tail_q": 0.5, "tail": 3.0, "n": 1}


def _log(meta: str, name: str, files: list[str], mtime: float) -> None:
    path = os.path.join(meta, name)
    with open(path, "w") as f:
        f.write("v1\n")
        for p in files:
            f.write(json.dumps({"path": f"file:///sink/{p}", "size": 1, "action": "add"}) + "\n")
    os.utime(path, (mtime, mtime))


def test_freshness_attributes_files_listed_only_in_compact_logs(tmp_path):
    meta = tmp_path / "_spark_metadata"
    meta.mkdir()
    for b in range(9):
        _log(str(meta), str(b), [f"f{b}.parquet"], 100.0 + b)
    # batch 9's only log is the compaction, which re-lists batches 0..8
    _log(str(meta), "9.compact", [f"f{b}.parquet" for b in range(10)], 109.0)
    _log(str(meta), "10", ["f10.parquet"], 110.0)
    commits = metrics.sink_commits(str(tmp_path))
    assert len(commits) == 11
    assert commits["f3.parquet"] == (3, 103.0)
    assert commits["f9.parquet"] == (9, 109.0)
    assert commits["f10.parquet"] == (10, 110.0)


def test_one_freshness_sample_per_frame_not_per_level_row():
    rows = [
        ("d:7", 1000, 1.5), ("d:7", 1000, 2.0), ("d:7", 1000, 1.8),  # three levels
        ("t:1", 1500, 2.0),
    ]
    fresh = metrics.frame_freshness(rows)
    assert fresh == {"d:7": 1000.0, "t:1": 500.0}


def test_backlog_growth():
    written = [i * 0.1 for i in range(100)]
    steady = [w + 0.5 for w in written]
    assert metrics.backlog_grew(written, steady, 5.0, 9.9, slack=2)[0] is False
    lagging = [w * 2 for w in written]  # commits fall further behind
    grew, mid, end = metrics.backlog_grew(written, lagging, 5.0, 9.9, slack=2)
    assert grew and end > mid


def test_write_amplification_counts_every_byte_under_the_table(tmp_path):
    (tmp_path / "data").mkdir()
    (tmp_path / "data" / "a.parquet").write_bytes(b"x" * 300)
    (tmp_path / "_manifests").mkdir()
    (tmp_path / "_manifests" / "v0.json").write_bytes(b"y" * 100)
    assert metrics.dir_bytes(str(tmp_path)) == 400
    assert metrics.write_amplification(400, 200) == 2.0
    with pytest.raises(ValueError):
        metrics.write_amplification(1, 0)


def test_compare_refuses_results_from_different_hosts():
    a = {"stamp": {"host": "h1", "nproc": 4, "cpu_model": "x", "SPARK_GRAFT_CPUS": "4"}}
    b = {"stamp": {"host": "h2", "nproc": 32, "cpu_model": "x", "SPARK_GRAFT_CPUS": "4"}}
    with pytest.raises(compare.HostMismatch):
        compare.check_same_host([a], [b])
    compare.check_same_host([a], [dict(a)])


def _speed_run(py: float, jvm: float, steal: float = 0.01) -> dict:
    probes = {"py_ms_before": py, "py_ms_after": py, "jvm_ms_before": jvm, "jvm_ms_after": jvm,
              "steal_share": steal}
    return {"stamp": {"host_speed": probes}}


def test_compare_refuses_sets_whose_host_speed_differs():
    base = [_speed_run(50.0, 20.0), _speed_run(52.0, 21.0), _speed_run(90.0, 20.0)]
    same = [_speed_run(51.0, 20.5), _speed_run(53.0, 20.0)]
    change = compare.check_same_speed(base, same)
    assert change["py_ms_before"] == pytest.approx(0.0)
    slower = [_speed_run(51.0, 24.0), _speed_run(53.0, 25.0)]
    with pytest.raises(compare.HostMismatch):
        compare.check_same_speed(base, slower)
    # the single-core Python probe drifts too much to refuse on
    py_drift = [_speed_run(70.0, 20.0), _speed_run(72.0, 21.0)]
    assert compare.check_same_speed(base, py_drift)["py_ms_before"] > 0.10
    with pytest.raises(compare.HostMismatch):
        compare.check_same_speed(base, [{"stamp": {}}])
    stolen = [_speed_run(51.0, 20.5, steal=0.08), _speed_run(53.0, 20.0, steal=0.06)]
    with pytest.raises(compare.HostMismatch):
        compare.check_same_speed(base, stolen)


def test_median_per_kind_gmean_weighs_every_kind_once():
    # 3 samples of one kind and 1 of another: each kind's median counts once
    got = metrics.median_per_kind_gmean({"read": [0.1, 0.2, 0.9], "query": [8.0]})
    assert got == pytest.approx((0.2 * 8.0) ** 0.5)
    with pytest.raises(ValueError):
        metrics.median_per_kind_gmean({"read": []})


_SUPERVISE = r"""
import os, sys
from perfbench import run
pidfile, limit, sleep_s = sys.argv[1], float(sys.argv[2]), sys.argv[3]
# the child starts a grandchild in its own session and exits at once:
# an orphan that a plain wait() on the child would miss
spawn = ("import subprocess, sys; p = subprocess.Popen(['sleep', '60'], start_new_session=True);"
         "open(sys.argv[1], 'w').write(str(p.pid)); subprocess.run(['sleep', sys.argv[2]])")
code = run.supervise([sys.executable, "-c", spawn, pidfile, sleep_s], dict(os.environ), limit)
pid = int(open(pidfile).read())
print(code, os.path.exists(f"/proc/{pid}"))
"""


@pytest.mark.parametrize("limit, sleep_s, want_code", [(30.0, "0", 0), (1.0, "30", 3)])
def test_supervise_ends_orphans_and_enforces_the_limit(tmp_path, limit, sleep_s, want_code):
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run(
        [sys.executable, "-c", _SUPERVISE, str(tmp_path / "pid"), str(limit), sleep_s],
        cwd=root, capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == [str(want_code), "False"]


def test_tail_mean_averages_the_samples_beyond_the_supported_percentile():
    xs = [float(x) for x in range(1, 101)]
    # p90 is the highest percentile with ten samples beyond it
    assert metrics.tail_mean(xs, 0.99) == pytest.approx(sum(range(91, 101)) / 10)
    # 33 samples: the ten slowest
    ys = [float(x) for x in range(33)]
    assert metrics.tail_mean(ys, 0.95) == pytest.approx(sum(range(23, 33)) / 10)


def test_drain_clock_starts_when_the_query_was_free():
    frames = {
        # stream a: idle at the burst (t=10); burst batches commit at 11, 12
        "a:1": (9.0, 9.5), "a:2": (10.0, 11.0), "a:3": (10.0, 12.0),
        # stream b: busy with older input until 10.8; its batch at 10.8
        # holds no burst frame, so its clock starts there
        "b:1": (9.9, 10.8), "b:2": (10.0, 11.8), "b:3": (10.0, 12.8),
    }
    got = metrics.drain_times(frames, burst_t=10.0, burst_from=10.0)
    assert got["a"] == (2, pytest.approx(2.0))
    assert got["b"] == (2, pytest.approx(2.0))
    # a batch that mixes old and burst frames counts wholly to the drain
    frames["b:1"] = (9.9, 11.8)
    assert metrics.drain_times(frames, 10.0, 10.0)["b"] == (2, pytest.approx(2.8))
