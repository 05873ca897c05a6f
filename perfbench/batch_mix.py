"""`batch_mix`: a query client and a snapshot-log client in one
engine, one after the other.

One closed-loop client runs one pass over the registered queries
(perfbench/query_mix.py), then LAKE_ROUNDS snapshot-log rounds
(perfbench/lake_commits.py). The query pass and the first lake round
are cold: the first run of each plan and op in the process, as
bench.py times them. The amount of work is fixed, so it never depends
on how fast the program is and the percentiles always summarize the
same ops: 17 query runs, 10 lake writes and 6 lake reads. The work
takes longer than `--seconds`, which this workload does not use. Both
clients keep their own output checks and named metrics. `p50_ms` is
the geometric mean over op kinds (each query, each lake write op, each
kind of read) of the kind's median; `tail_ms` is the mean of the 10
slowest timed ops; `rate_per_s` is timed ops per second of op time.

Tables, lake input and the DuckDB replay are made before the engine
boots, and reference results after the timed ops, so `setup_s` holds
only engine work: the boot, query registration (and, traced, catalog
loads) and the commit of the initial lake table.
"""

from __future__ import annotations

from perfbench import metrics
from perfbench.lake_commits import LakeCommits
from perfbench.query_mix import QueryMix

LAKE_ROUNDS = 2


def prepare(work: str, seed: int, seconds: int) -> tuple[QueryMix, LakeCommits]:
    return QueryMix(work, seed), LakeCommits(work, seed)


def run(spark, work: str, seed: int, seconds: int, tracer=None, prepared=None) -> dict:
    mix, lake = prepared
    setup_unit_s = mix.setup(spark, tracer) + lake.setup(spark, tracer)
    rq = mix.measure()
    rl = lake.measure(LAKE_ROUNDS)
    ops_s = [x / 1000 for x in rq["samples_ms"]] + lake.op_seconds()
    by_kind = {**{q: [t] for q, t in rq["per_query_s"].items()}, **lake.by_kind}
    res = {
        "attempted": rq["attempted"] + rl["attempted"],
        "failed": rq["failed"] + rl["failed"],
        "problems": rq["problems"] + rl["problems"],
        "samples_ms": [x * 1000 for x in ops_s],
        "named": {**rq["named"], **rl["named"]},
        "rounds": rl["rounds"],
        "per_query_s": rq["per_query_s"],
        "setup_unit_s": setup_unit_s,
        "p50_ms": metrics.median_per_kind_gmean(by_kind) * 1000,
        "rate_per_s": len(ops_s) / sum(ops_s),
    }
    if tracer is not None:
        ops = tracer.resolve()
        layers = mix.layers_from(ops)
        layers.update(lake.layers_from(ops))
        layers["jvm.gc_s"] = mix.gc_s + lake.gc_s
        res["layers"] = layers
    return res
