"""Per-JOB attribution ledger for one or more registry entries.

Runs each entry bench-style (same materialize + job-group protocol as
bench.py), then pulls the per-job name/description from the Spark UI
REST API — each Spark job's callsite (`collect at snapshots.py:531`,
`parquet at ...`) names the code line that launched it. This is the
measurement the r11 verdict's sink-family job-creep item asks for:
attribute every +1 job to its call site before folding or gating it.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/job_ledger.py \
        sink_unique_key_guard sink_snapshot_timetravel

Besides registry names it takes the bench.py legs in `BENCH_LEGS`
(e.g. book_sync_stream_20k). A streaming leg's micro-batch jobs run
under the stream's own job group, so a leg's ledger is every job
submitted while it ran; stream legs' counts follow their micro-batch
counts, which depend on timing.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from bench import _warmup, materialize
from binance_etl_spark.plans.registry import REGISTRY, _ensure_loaded
from binance_etl_spark.session import get_spark


# bench.py legs that are not registry entries: each builds its fixture,
# runs, materializes and returns (seconds, rows, ...).
BENCH_LEGS = {
    "book_sync_stream_20k": lambda spark, sf_dir: bench.bench_book_sync(spark),
    "book_sync_futures_20k": lambda spark, sf_dir: bench.bench_book_sync_futures(spark),
    "streaming_sustained_quad": bench.bench_streaming_sustained,
}


def _all_jobs(ui: str, app_id: str) -> dict[int, dict]:
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs") as r:
        return {j["jobId"]: j for j in json.load(r)}


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _ensure_loaded()
    spark = get_spark(
        "besk-job-ledger", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark)
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    tracker = spark.sparkContext.statusTracker

    for name in names:
        if name in BENCH_LEGS:
            before = max(_all_jobs(ui, app_id), default=-1)
            t0 = time.perf_counter()
            n = BENCH_LEGS[name](spark, sf_dir)[1]
            wall = time.perf_counter() - t0
            all_jobs = _all_jobs(ui, app_id)
            job_ids = sorted(j for j in all_jobs if j > before)
        else:
            group = f"ledger:{name}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            n = materialize(REGISTRY[name].fn(spark, sf_dir))
            wall = time.perf_counter() - t0
            spark.sparkContext.setJobGroup("", "")
            job_ids = sorted(tracker().getJobIdsForGroup(group))
            all_jobs = _all_jobs(ui, app_id)
        print(f"\n=== {name}: {wall:.3f}s, {len(job_ids)} jobs, {n} rows ===")
        for jid in job_ids:
            j = all_jobs.get(jid, {})
            dur = ""
            if j.get("submissionTime") and j.get("completionTime"):
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                try:
                    t1 = datetime.strptime(j["submissionTime"], fmt)
                    t2 = datetime.strptime(j["completionTime"], fmt)
                    dur = f"{(t2 - t1).total_seconds():7.3f}s"
                except ValueError:
                    dur = "       ?"
            print(
                f"  job {jid:4d} {dur} tasks={j.get('numTasks', '?'):>4} "
                f"{j.get('name', '?')[:110]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
