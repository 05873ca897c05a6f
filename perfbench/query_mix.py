"""The query client of `batch_mix`: one cold pass over registered
queries.

Each op is a registry query function plus a full-column checksum
action: bench.py's `xxhash64` over every output column, collected with
the rows so that every op is checked. The rows' value hash must equal
the reference computed outside Spark: the query's DuckDB oracle
(`oracle_sql()`) or, for `text_bpe_learn`, a textbook BPE learner.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from collections import Counter

from perfbench import datagen, metrics
from perfbench.harness import gc_seconds

SF = 0.01
QUERIES = (
    "agg_pricing_summary", "sql_q3_topk", "sql_q5_region_volume",
    "sql_q9_product_profit", "sql_q18_large_orders", "sql_q21_waiting_supplier",
    "join_asof_events", "win_running_sum", "stream_ohlcv_bars", "book_rebuild",
    "ms_vpin", "dedup_minhash_lsh", "sim_topk_cosine", "text_bm25_topk",
    "text_bpe_learn", "graph_pagerank", "sql_recursive_tree",
)


def _hash_cols(df):
    from pyspark.sql import functions as F

    return [F.col(c).cast("string") if t.startswith("map") else F.col(c) for c, t in df.dtypes]


def checksum(df) -> tuple[int, int]:
    """bench.py's materialize() action, returning (rows, checksum)
    without collecting the rows."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*_hash_cols(df)).alias("__h")).agg(
        F.count("__h").alias("n"), F.expr("bit_xor(__h)").alias("x")).first()
    return int(row["n"]), int(row["x"] or 0)


def hashed_rows(df) -> tuple[list[str], list[tuple]]:
    """bench.py's full-column xxhash64, computed with every output row
    and collected with the rows so that each op can be checked."""
    from pyspark.sql import functions as F

    cols = df.columns
    got = df.select(F.xxhash64(*_hash_cols(df)).alias("__h"), *cols).collect()
    return cols, [tuple(r[1:]) for r in got]


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive value hash: columns by name, floats by repr,
    NULL as its own token, rows sorted as strings."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def render(v) -> str:
        if v is None:
            return "\\N"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(render(x) for x in v) + "]"
        return str(v)

    h = hashlib.md5()
    for line in sorted("\x1f".join(render(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def textbook_bpe(texts: list[str], n_merges: int, eow: str) -> Counter:
    """Sennrich-style word-level BPE (count desc, pair asc tie-break);
    returns the segmented vocabulary with the rank that created each
    symbol (None for base characters)."""
    wf = Counter(w for t in texts for w in t.split(" ") if w)
    seqs = {w: tuple(w) + (eow,) for w in wf}
    created: dict[str, int] = {}
    for rank in range(n_merges):
        pairs: Counter = Counter()
        for w, f in wf.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += f
        if not pairs:
            break
        (a, b), _n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        created.setdefault(a + b, rank)
        for w, s in seqs.items():
            out = [s[0]]
            for x in s[1:]:
                if out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            seqs[w] = tuple(out)
    vocab: Counter = Counter()
    for w, f in wf.items():
        for sym in seqs[w]:
            vocab[sym] += f
    return Counter({(s, n, created.get(s)): 1 for s, n in vocab.items()})


def _expected_hashes(sf_dir: str) -> dict[str, str]:
    """Reference value hash per query, computed outside Spark."""
    import duckdb

    from binance_etl_spark.catalog import TABLES
    from binance_etl_spark.plans.llm_ops14 import _EOW, N_MERGES
    from binance_etl_spark.plans.registry import oracle_sql

    oracles = oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for q in QUERIES:
            if q in oracles:
                cur = con.execute(oracles[q])
                out[q] = value_hash([d[0] for d in cur.description], cur.fetchall())
        texts = [r[0] for r in con.execute("SELECT text FROM documents").fetchall()]
    finally:
        con.close()
    vocab = textbook_bpe(texts, N_MERGES, _EOW)
    out["text_bpe_learn"] = value_hash(["symbol", "n_tokens", "created_rank"], list(vocab))
    return out


class QueryMix:
    """Tables are generated on construction, before the engine boots;
    `setup` is the engine's part of set-up; `measure` runs the timed
    pass and then checks every op against its reference."""

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, "sf")
        datagen.catalog_tables(self.sf_dir, SF, seed)

    def setup(self, spark, tracer=None) -> float:
        """Registers the queries and, when traced, times cold and warm
        catalog loads. Returns its wall in seconds."""
        from binance_etl_spark.catalog import TABLES, load
        from binance_etl_spark.plans.registry import queries

        t_setup = time.perf_counter()
        self.spark, self.tracer = spark, tracer
        self.fns = queries()
        missing = [q for q in QUERIES if q not in self.fns]
        if missing:
            raise KeyError(f"queries not registered: {missing}")
        self.layers: dict[str, float] = {}
        if tracer is not None:
            for label in ("cold", "warm"):
                t = time.perf_counter()
                for name in TABLES:
                    load(spark, self.sf_dir, name)
                self.layers[f"catalog.load_{label}_s"] = time.perf_counter() - t
        return time.perf_counter() - t_setup

    def measure(self) -> dict:
        """One pass in the fixed order of QUERIES. It is cold: the first
        run of every plan in the process, as bench.py times it. The
        order is fixed because the first queries of a process also pay
        its JIT and class loading (2-4 s): in a seeded order that cost
        fell on a different query in each run. The reference hashes are
        computed after the pass, outside any timing."""
        spark, tracer, fns, sf_dir = self.spark, self.tracer, self.fns, self.sf_dir
        gc0 = gc_seconds(spark)
        runs: dict[str, float] = {}
        got: dict[str, str] = {}
        t_pass = time.perf_counter()
        for q in QUERIES:
            t0 = time.perf_counter()
            if tracer is None:
                cols, rows = hashed_rows(fns[q](spark, sf_dir))
            else:
                with tracer.op(f"plans.{q}"):
                    df = fns[q](spark, sf_dir)
                    t_built = time.perf_counter()
                    cols, rows = hashed_rows(df)
                tracer.ops[-1]["build_s"] = t_built - t0
            runs[q] = time.perf_counter() - t0
            got[q] = value_hash(cols, rows)
        pass_s = time.perf_counter() - t_pass
        self.gc_s = gc_seconds(spark) - gc0
        want = _expected_hashes(sf_dir)
        problems = [f"{q}: result differs from its reference" for q in QUERIES if got[q] != want[q]]
        pooled = [v * 1000 for v in runs.values()]
        s = metrics.summarize(pooled, 0.95)
        return {
            "attempted": len(QUERIES),
            "failed": len(problems),
            "problems": problems,
            "samples_ms": pooled,
            "named": {
                "query_p50_s": (s["p50"] / 1000, "s"),
                "query_p95_s": (s["tail"] / 1000, "s"),
                "query_mix_s": (pass_s, "s"),
            },
            "per_query_s": runs,
            "sf": SF,
        }

    def layers_from(self, ops: list[dict]) -> dict:
        return _layers(ops, dict(self.layers), self.gc_s)


def _layers(ops: list[dict], layers: dict, gc_s: float) -> dict:
    per: dict[str, list[dict]] = {}
    for op in ops:
        if op["name"].startswith("plans."):
            per.setdefault(op["name"][len("plans."):], []).append(op)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    for q, os_ in per.items():
        layers[f"plans.{q}.build_s"] = med([o["build_s"] for o in os_])
        layers[f"plans.{q}.exec_s"] = med([o["wall_s"] - o["build_s"] for o in os_])
        layers[f"plans.{q}.py4j_calls"] = med([o["py4j_calls"] for o in os_])
        layers[f"plans.{q}.jobs"] = med([o["jobs"] for o in os_])
    allops = [o for os_ in per.values() for o in os_]
    layers["plans.driver_s"] = sum(o["driver_s"] for o in allops)
    layers["plans.tasks"] = sum(o["tasks"] for o in allops)
    layers["plans.task_cpu_s"] = sum(o["task_cpu_s"] for o in allops)
    layers["plans.shuffle_bytes"] = sum(o["shuffle_bytes"] for o in allops)
    layers["jvm.gc_s"] = gc_s
    return layers
