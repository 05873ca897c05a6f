"""Snapshot-versioned parquet tables (operators/snapshots.py):
append/overwrite lineage, time travel, and the crash-before-commit
invisibility property of the manifest protocol."""

from __future__ import annotations

import os

import pytest

from binance_etl_spark.operators import snapshots as SNAP


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_and_time_travel(spark, table):
    assert SNAP.versions(table) == []
    assert SNAP.write_version(_df(spark, 0, 10), table) == 1
    assert SNAP.write_version(_df(spark, 10, 25), table) == 2
    assert SNAP.versions(table) == [1, 2]
    # latest sees both commits
    assert SNAP.read_version(spark, table).count() == 25
    # time travel: v1 still reads EXACTLY its original rows after v2
    v1 = SNAP.read_version(spark, table, version=1)
    assert sorted(r.id for r in v1.collect()) == list(range(10))


def test_overwrite_starts_fresh_but_history_survives(spark, table):
    SNAP.write_version(_df(spark, 0, 10), table)
    SNAP.write_version(_df(spark, 100, 105), table, mode="overwrite")
    assert SNAP.read_version(spark, table).count() == 5
    assert SNAP.read_version(spark, table, version=1).count() == 10


def test_crash_before_manifest_commit_is_invisible(spark, table):
    SNAP.write_version(_df(spark, 0, 10), table)
    # simulate a writer that crashed after writing data files but
    # before the manifest replace: orphan data must not be visible
    orphan = os.path.join(table, "data", "v2")
    _df(spark, 50, 60).write.parquet(orphan)
    assert SNAP.versions(table) == [1]
    assert SNAP.read_version(spark, table).count() == 10


def test_reader_errors_are_explicit(spark, table):
    with pytest.raises(FileNotFoundError):
        SNAP.read_version(spark, table)
    SNAP.write_version(_df(spark, 0, 3), table)
    with pytest.raises(FileNotFoundError):
        SNAP.read_version(spark, table, version=9)


def test_bad_mode_rejected(spark, table):
    with pytest.raises(ValueError):
        SNAP.write_version(_df(spark, 0, 3), table, mode="merge")


def test_stats_pruning_skips_disjoint_files(spark, table):
    # two versions with disjoint id ranges -> one file set per range
    SNAP.write_version(
        _df(spark, 0, 100).coalesce(1), table, stats_cols=["id"]
    )
    SNAP.write_version(
        _df(spark, 1000, 1100).coalesce(1), table, stats_cols=["id"]
    )
    kept, skipped = SNAP.select_files(table, None, "id", 1000, 1050)
    assert skipped, "v1's files (max id 99) must be skipped for [1000, 1050]"
    assert kept, "v2's files must be kept"
    # pruning is an I/O optimization, never a correctness filter: the
    # predicate applied to the pruned scan equals the full-scan answer
    import os

    pruned = spark.read.parquet(*[os.path.join(table, f) for f in kept])
    full = SNAP.read_version(spark, table)
    want = full.where("id BETWEEN 1000 AND 1050").count()
    assert pruned.where("id BETWEEN 1000 AND 1050").count() == want == 51


def test_foreach_batch_snapshot_is_replay_idempotent(spark, table):
    apply = SNAP.foreach_batch_snapshot(table, stats_cols=["id"])
    apply(_df(spark, 0, 10), 0)
    apply(_df(spark, 10, 20), 1)
    assert SNAP.read_version(spark, table).count() == 20
    # checkpoint recovery re-delivers the last batch: same batch id
    # must be a no-op, not a third version
    apply(_df(spark, 10, 20), 1)
    assert SNAP.versions(table) == [1, 2]
    assert SNAP.read_version(spark, table).count() == 20


def test_foreach_batch_snapshot_real_stream(spark, table, tmp_path):
    # drive through a REAL writeStream over a file source
    src = str(tmp_path / "src")
    _df(spark, 0, 50).coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema("id BIGINT, v BIGINT").parquet(src)
    q = (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(SNAP.foreach_batch_snapshot(table, stats_cols=["id"]))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert SNAP.read_version(spark, table).count() == 50
    assert SNAP.versions(table)


def test_claimed_version_is_skipped_not_overwritten(spark, table):
    import os

    SNAP.write_version(_df(spark, 0, 5), table)
    # another writer holds the claim for v2 (crashed or in flight):
    # our commit must take v3, never clobber the claimed number
    open(os.path.join(table, "_manifests", ".claim-v2"), "x").close()
    v = SNAP.write_version(_df(spark, 5, 10), table)
    assert v == 3
    assert SNAP.versions(table) == [1, 3]
    assert SNAP.read_version(spark, table).count() == 10


def test_successor_waits_for_published_predecessor_claim(tmp_path):
    """A predecessor whose manifest has landed but whose claim is still
    held is inside _commit_manifest, rewriting main.idx.json. Its
    successor must wait for the claim itself: proceeding on the
    manifest alone lets two committers rewrite the idx at once (one
    clobbers the other's temp file, or drops its entry)."""
    import threading
    import time

    mdir = os.path.join(str(tmp_path / "t"), "_manifests")
    os.makedirs(mdir)
    for name in ("v1.json", "v2.json", ".claim-v2"):
        open(os.path.join(mdir, name), "w").close()
    release = threading.Timer(0.5, os.remove, [os.path.join(mdir, ".claim-v2")])
    release.start()
    t0 = time.monotonic()
    SNAP._await_predecessors(str(tmp_path / "t"), 3)
    waited = time.monotonic() - t0
    release.join(timeout=5)
    assert not release.is_alive()
    assert waited >= 0.4, f"returned after {waited:.3f}s with the claim held"


def test_new_claim_lands_above_every_live_claim(tmp_path):
    """v2 was claimed and released while v3's committer is in flight:
    committers wait only for LOWER claims, so a new claimant handed v2
    would not wait for v3 and both could publish off the same base."""
    table = str(tmp_path / "t")
    mdir = os.path.join(table, "_manifests")
    os.makedirs(mdir)
    for name in ("v1.json", ".claim-v3"):
        open(os.path.join(mdir, name), "w").close()
    assert SNAP._claim_version(table, [1]) == 4


def test_delete_where_rewrites_only_affected_files(spark, tmp_path):
    """delete_where must carry untouched files BY NAME (zero I/O,
    byte-shared with prior snapshots), rewrite only files containing
    matching rows, and keep the pre-delete version time-travelable."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 5).alias("grp")
    )
    # range layout: ids 0..999 split across 4 files by id range
    SNAP.write_version(df.repartitionByRange(4, "id"), table, mode="append")
    v1_files = set(SNAP._load_manifest(table, 1)["files"])

    v2 = SNAP.delete_where(spark, table, "id < 100")
    m2 = SNAP._load_manifest(table, v2)
    v2_files = set(m2["files"])

    carried = v1_files & v2_files
    assert carried, "files without matching rows must be carried by name"
    assert m2["rewrote"] >= 1 and m2["carried"] == len(carried)
    # only the low-range file(s) were rewritten: carried + rewritten
    # partition the old list
    assert len(v1_files - v2_files) == m2["rewrote"]

    # value semantics: deleted rows gone from latest, present in v1
    latest = SNAP.read_version(spark, table)
    assert latest.count() == 900
    assert latest.where(F.col("id") < 100).count() == 0
    old = SNAP.read_version(spark, table, version=1)
    assert old.count() == 1000, "pre-delete snapshot must time-travel intact"

    # physical bytes of carried files are untouched (shared storage)
    for rel in carried:
        assert os.path.exists(os.path.join(table, rel))


def test_delete_where_null_condition_keeps_row(spark, tmp_path):
    """SQL DELETE semantics: a condition evaluating to NULL keeps the
    row (only TRUE deletes)."""
    from pyspark.sql import functions as F

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id INT, v INT"
    )
    SNAP.write_version(df, table, mode="append")
    SNAP.delete_where(spark, table, "v > 15")
    ids = sorted(r["id"] for r in SNAP.read_version(spark, table).collect())
    assert ids == [1, 2], "NULL-condition row kept, TRUE row deleted"


def test_delete_where_no_match_is_cheap_noop_version(spark, tmp_path):
    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(10), table, mode="append")
    v = SNAP.delete_where(spark, table, "id > 1000")
    m = SNAP._load_manifest(table, v)
    assert m["rewrote"] == 0
    assert set(m["files"]) == set(SNAP._load_manifest(table, 1)["files"])
    assert SNAP.read_version(spark, table).count() == 10


def test_vacuum_erases_expired_keeps_retained(spark, tmp_path):
    """Retention + physical erasure: after delete_where + vacuum, the
    deleted rows' bytes are GONE from disk (the GDPR erasure half),
    kept versions stay byte-complete, expired versions stop resolving."""
    import os

    from pyspark.sql import functions as F

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    df = spark.range(1000).select("id")
    SNAP.write_version(df.repartitionByRange(4, "id"), table, mode="append")
    SNAP.delete_where(spark, table, "id < 100")

    res = SNAP.vacuum(table, keep_last=1)
    assert res["kept_versions"] == [2]
    assert res["removed_files"] >= 1, "the pre-delete low-range file erased"

    # latest version still reads completely
    latest = SNAP.read_version(spark, table)
    assert latest.count() == 900
    assert latest.where(F.col("id") < 100).count() == 0
    # expired version no longer resolves
    assert SNAP.versions(table) == [2]
    # every surviving file on disk is referenced by the kept manifest
    kept_files = {
        os.path.normpath(p) for p in SNAP._load_manifest(table, 2)["files"]
    }
    on_disk = set()
    for root, _, names in os.walk(os.path.join(table, "data")):
        for n in names:
            if n.endswith(".parquet"):
                on_disk.add(
                    os.path.normpath(
                        os.path.relpath(os.path.join(root, n), table)
                    )
                )
    assert on_disk == kept_files, "no unreferenced bytes survive vacuum"


def test_vacuum_keeps_shared_files_across_retained_versions(spark, tmp_path):
    """A file carried into a kept version by an append chain must
    survive even though an expired version also references it."""
    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(10), table, mode="append")      # v1
    SNAP.write_version(spark.range(10, 20), table, mode="append")  # v2 (carries v1 files)
    SNAP.write_version(spark.range(20, 30), table, mode="append")  # v3
    res = SNAP.vacuum(table, keep_last=2)  # keep v2, v3; expire v1
    assert res["kept_versions"] == [2, 3]
    assert res["removed_files"] == 0, "v1's files are shared with kept v2/v3"
    assert SNAP.read_version(spark, table, version=2).count() == 20
    assert SNAP.read_version(spark, table).count() == 30


def test_vacuum_sweeps_crashed_commit_orphans(spark, tmp_path):
    import os

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(10), table, mode="append")
    # simulate a crash between data write and manifest commit
    orphan = os.path.join(table, "data", "v99")
    spark.range(5).write.parquet(orphan)
    res = SNAP.vacuum(table, keep_last=1)
    assert res["removed_orphan_dirs"] == 1
    assert not os.path.isdir(orphan)
    assert SNAP.read_version(spark, table).count() == 10


def test_vacuum_skips_in_flight_claimed_staging(spark, tmp_path):
    """A data/v<N> dir under a LIVE claim is a concurrent writer's
    staging mid-commit, not a crashed-commit orphan — vacuum must not
    erase files a manifest is about to reference (ADVICE r5). A claim
    past the TTL is a crashed commit and is reclaimed with its dir."""
    import json as _json
    import os

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(10), table, mode="append")
    # simulate a writer mid-commit: claim held, data staged, no manifest
    staged = os.path.join(table, "data", "v7")
    spark.range(50, 55).write.parquet(staged)
    claim = os.path.join(table, "_manifests", ".claim-v7")
    with open(claim, "x"):
        pass

    res = SNAP.vacuum(table, keep_last=1)
    assert res["removed_orphan_dirs"] == 0
    assert os.path.isdir(staged), "in-flight staging must survive vacuum"

    # the writer now finishes its commit; the snapshot must be readable
    files = sorted(
        os.path.join("data", "v7", n)
        for n in os.listdir(staged)
        if n.endswith(".parquet")
    )
    prev = SNAP._load_manifest(table, 1)
    SNAP._commit_manifest(
        table,
        7,
        {"version": 7, "mode": "append", "files": prev["files"] + files, "stats": {}},
    )
    assert SNAP.read_version(spark, table, version=7).count() == 15

    # a STALE claim (older than the TTL) is a crashed commit: reclaimed
    staged2 = os.path.join(table, "data", "v9")
    spark.range(5).write.parquet(staged2)
    with open(os.path.join(table, "_manifests", ".claim-v9"), "x"):
        pass
    res2 = SNAP.vacuum(table, keep_last=1, claim_ttl_seconds=0.0)
    assert res2["removed_orphan_dirs"] == 1
    assert not os.path.isdir(staged2)
    assert not os.path.exists(os.path.join(table, "_manifests", ".claim-v9"))


def test_delete_where_retries_when_concurrent_append_lands_mid_scan(
    spark, tmp_path
):
    """Optimistic-conflict check (ADVICE r5): an append committed while
    delete_where was scanning must appear in the delete's output
    version, not be silently dropped from forward history."""
    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(1000), table, mode="append")

    orig = SNAP._claim_version
    state = {"injected": False, "busy": False, "claims": 0}

    def racing_claim(td, prior):
        if not state["injected"] and not state["busy"]:
            # first claim attempt: sneak a concurrent append in AFTER
            # the delete's scan but BEFORE its claim
            state["injected"] = True
            state["busy"] = True
            try:
                SNAP.write_version(
                    spark.range(5000, 5010), td, mode="append"
                )
            finally:
                state["busy"] = False
        state["claims"] += 1
        return orig(td, prior)

    SNAP._claim_version = racing_claim
    try:
        v = SNAP.delete_where(spark, table, "id < 100")
    finally:
        SNAP._claim_version = orig

    # the first attempt must have been aborted and retried
    assert state["claims"] >= 3  # injected append + aborted + retry
    latest = SNAP.read_version(spark, table, version=v)
    assert latest.count() == 900 + 10, "concurrent append's rows survive"
    assert latest.where("id >= 5000").count() == 10


def test_delete_where_exact_path_match_with_colliding_basenames(
    spark, tmp_path
):
    """Affected-file matching must compare normalized RELATIVE paths
    exactly — same-basename files in different version dirs must never
    alias each other (the old endswith suffix match was brittle)."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data", "v1"))
    os.makedirs(os.path.join(table, "data", "v2"))
    os.makedirs(os.path.join(table, "_manifests"))
    # two files with IDENTICAL basenames in different version dirs
    pq.write_table(
        pa.table({"id": [1, 2, 3]}),
        os.path.join(table, "data", "v1", "part-000.parquet"),
    )
    pq.write_table(
        pa.table({"id": [100, 200]}),
        os.path.join(table, "data", "v2", "part-000.parquet"),
    )
    for v, files in (
        (1, ["data/v1/part-000.parquet"]),
        (2, ["data/v1/part-000.parquet", "data/v2/part-000.parquet"]),
    ):
        with open(os.path.join(table, "_manifests", f"v{v}.json"), "w") as f:
            _json.dump(
                {"version": v, "mode": "append", "files": files, "stats": {}}, f
            )

    before = os.path.getmtime(os.path.join(table, "data", "v2", "part-000.parquet"))
    v3 = SNAP.delete_where(spark, table, "id = 1")
    m3 = SNAP._load_manifest(table, v3)
    assert m3["rewrote"] == 1 and m3["carried"] == 1
    assert "data/v2/part-000.parquet" in m3["files"], (
        "same-basename sibling must be carried by name, not rewritten"
    )
    after = os.path.getmtime(os.path.join(table, "data", "v2", "part-000.parquet"))
    assert before == after, "carried file's bytes untouched"
    ids = sorted(r["id"] for r in SNAP.read_version(spark, table).collect())
    assert ids == [2, 3, 100, 200]


def test_vacuum_concurrent_reader_within_retention_is_safe(spark, tmp_path):
    """Retention contract: a reader holding a KEPT version sees every
    byte across a concurrent vacuum; a reader pinned to an EXPIRED
    version races physical erasure and fails loudly (Iceberg-style
    'reads within retention are safe')."""
    import pytest as _pytest

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(
        spark.range(1000).repartitionByRange(4, "id"), table, mode="append"
    )
    SNAP.delete_where(spark, table, "id < 500")  # v2 rewrites low files

    kept_reader = SNAP.read_version(spark, table)          # resolves v2
    expired_reader = SNAP.read_version(spark, table, version=1)

    res = SNAP.vacuum(table, keep_last=1)
    assert res["removed_files"] >= 1
    # within retention: complete before, during, and after vacuum
    assert kept_reader.count() == 500
    # outside retention: the erased bytes are gone — loud failure
    with _pytest.raises(Exception):
        expired_reader.count()


def test_compact_preserves_rows_and_shrinks_files(spark, tmp_path, monkeypatch):
    """OPTIMIZE-style compaction: value-identical snapshot, far fewer
    files, prior versions still time-travel, vacuum then reclaims the
    small pre-compaction files. The fixture needs a FRAGMENTED table —
    at scale that comes from large commits; here the staging
    auto-coalesce is disabled so small commits reproduce it."""
    import os

    from binance_etl_spark.operators import snapshots as SNAP

    monkeypatch.setattr(SNAP, "_STAGE_COMPACT_MAX_BYTES", 0)
    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(1000).repartition(24), table, mode="append")
    SNAP.write_version(
        spark.range(1000, 1500).repartition(8), table, mode="append"
    )
    assert len(SNAP._load_manifest(table, 2)["files"]) == 32

    v3 = SNAP.compact(spark, table, target_files=4)
    m3 = SNAP._load_manifest(table, v3)
    assert m3["mode"] == "compact" and m3["compacted_from"] == 2
    assert len(m3["files"]) == 4, "32 small files bin-packed into 4"

    before = sorted(r.id for r in SNAP.read_version(spark, table, version=2).collect())
    after = sorted(r.id for r in SNAP.read_version(spark, table, version=v3).collect())
    assert after == before == list(range(1500)), "compaction is row-preserving"
    # pre-compaction version still time-travels
    assert SNAP.read_version(spark, table, version=1).count() == 1000

    res = SNAP.vacuum(table, keep_last=1)
    assert res["removed_files"] == 32, "expired small files reclaimed"
    assert SNAP.read_version(spark, table).count() == 1500


def test_compact_retries_on_concurrent_commit(spark, tmp_path):
    """A version committed while compact was reading must not vanish:
    the compacted snapshot is rebuilt from the newer latest."""
    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(100).repartition(8), table, mode="append")

    orig = SNAP._claim_version
    state = {"injected": False, "busy": False}

    def racing_claim(td, prior):
        if not state["injected"] and not state["busy"]:
            state["injected"] = True
            state["busy"] = True
            try:
                SNAP.write_version(spark.range(100, 150), td, mode="append")
            finally:
                state["busy"] = False
        return orig(td, prior)

    SNAP._claim_version = racing_claim
    try:
        v = SNAP.compact(spark, table, target_files=2)
    finally:
        SNAP._claim_version = orig
    got = SNAP.read_version(spark, table, version=v)
    assert got.count() == 150, "mid-compaction append survives the rewrite"


def test_concurrent_appenders_never_lose_a_commit(spark, tmp_path):
    """SERIALIZABLE appends under REAL thread concurrency: N appenders
    racing on one table must ALL land — the final snapshot carries
    every writer's rows (the claim → await-predecessors → rebase →
    commit loop makes commit order equal claim order, so a later
    committer always carries an earlier committer's files). Strictly
    stronger than the old contract, which only promised no overwritten
    manifests and allowed racers to drop each other's files from
    forward history."""
    from concurrent.futures import ThreadPoolExecutor

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(10), table, mode="append")

    def appender(i: int) -> int:
        return SNAP.write_version(
            spark.range(1000 * i, 1000 * i + 10), table, mode="append"
        )

    with ThreadPoolExecutor(max_workers=6) as ex:
        vs = list(ex.map(appender, range(1, 7)))

    assert len(set(vs)) == 6, "every racer claimed a distinct version"
    assert set(vs) <= set(SNAP.versions(table)), "every claim committed"
    for i, v in zip(range(1, 7), vs):
        got = SNAP.read_version(spark, table, version=v)
        n = got.where(f"id >= {1000 * i} AND id < {1000 * i + 10}").count()
        assert n == 10, f"writer {i}'s rows missing from its own commit v{v}"
    # the serializability payoff: the LATEST snapshot has everyone's
    # rows — no lost updates anywhere in the race
    final = SNAP.read_version(spark, table)
    assert final.count() == 10 + 6 * 10
    assert SNAP.count_rows(table) == 70
    for i in range(1, 7):
        assert (
            final.where(f"id >= {1000 * i} AND id < {1000 * i + 10}").count() == 10
        ), f"writer {i}'s rows lost from the final snapshot"


def test_foreach_batch_auto_compaction(spark, tmp_path):
    """compact_every=2: the streaming snapshot sink interleaves
    auto-OPTIMIZE versions so file count stays bounded while every
    append's rows survive and pinned versions still time-travel."""
    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    apply = SNAP.foreach_batch_snapshot(
        table, compact_every=2, compact_target_files=2
    )
    for b in range(4):
        apply(spark.range(100 * b, 100 * b + 50).repartition(6), b)

    vs = SNAP.versions(table)
    modes = [SNAP._load_manifest(table, v)["mode"] for v in vs]
    assert modes.count("compact") == 2, f"one compaction per 2 appends: {modes}"
    latest = SNAP.read_version(spark, table)
    assert latest.count() == 200
    got = sorted(r.id for r in latest.collect())
    assert got == sorted(
        i for b in range(4) for i in range(100 * b, 100 * b + 50)
    ), "every batch's rows survive the interleaved compactions"
    assert len(SNAP._load_manifest(table, vs[-1])["files"]) <= 2 + 6, (
        "file count bounded by maintenance, not batch count"
    )
    # replayed batch after a compaction: value-idempotent no-op append
    apply(spark.range(300, 350).repartition(6), 3)
    assert SNAP.read_version(spark, table).count() == 200


def test_read_version_as_of_timestamp(spark, tmp_path):
    """timestampAsOf twin: the manifest mtime (stamped by the atomic
    publish) selects the newest snapshot committed by the given time;
    before-first-commit raises; a commit's own timestamp is inclusive."""
    import os
    import time

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(10), table, mode="append")
    t1 = os.path.getmtime(os.path.join(table, "_manifests", "v1.json"))
    time.sleep(0.05)
    SNAP.write_version(spark.range(10, 30), table, mode="append")
    t2 = os.path.getmtime(os.path.join(table, "_manifests", "v2.json"))
    assert t2 > t1

    assert SNAP.read_version_as_of(spark, table, t1).count() == 10
    assert SNAP.read_version_as_of(spark, table, (t1 + t2) / 2).count() == 10
    assert SNAP.read_version_as_of(spark, table, t2).count() == 30
    assert SNAP.read_version_as_of(spark, table, time.time() + 60).count() == 30
    with pytest.raises(FileNotFoundError):
        SNAP.read_version_as_of(spark, table, t1 - 10.0)


def test_read_changes_append_is_pure_inserts_touching_only_new_files(
    spark, tmp_path
):
    """CDC append leg: only v2's added files are opened, every row is
    an insert, and the change set equals the appended rows."""
    table = str(tmp_path / "t")
    SNAP.write_version(_df(spark, 0, 10), table)
    SNAP.write_version(_df(spark, 10, 25), table)
    ch = SNAP.read_changes(spark, table, 1, 2)
    added = set(SNAP._load_manifest(table, 2)["files"]) - set(
        SNAP._load_manifest(table, 1)["files"]
    )
    opened = {os.path.relpath(p.removeprefix("file:"), table) for p in ch.inputFiles()}
    assert opened <= added, "append CDC must not open carried-over files"
    rows = ch.collect()
    assert all(r.change_type == "insert" for r in rows)
    assert sorted(r.id for r in rows) == list(range(10, 25))


def test_read_changes_delete_yields_exactly_erased_rows(spark, tmp_path):
    table = str(tmp_path / "t")
    SNAP.write_version(_df(spark, 0, 100).repartitionByRange(4, "id"), table)
    SNAP.delete_where(spark, table, "id % 10 = 3")
    ch = SNAP.read_changes(spark, table, 1, 2).collect()
    assert all(r.change_type == "delete" for r in ch)
    assert sorted(r.id for r in ch) == [i for i in range(100) if i % 10 == 3]


def test_read_changes_compaction_is_zero_changes(spark, tmp_path):
    """Compaction rewrites bytes but no rows — a changelog read across
    it must be EMPTY (the property downstream incremental consumers
    rely on to not reprocess the world after OPTIMIZE)."""
    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(500).repartition(10), table)
    SNAP.write_version(spark.range(500, 800).repartition(6), table)
    v3 = SNAP.compact(spark, table, target_files=2)
    assert SNAP.read_changes(spark, table, 2, v3).count() == 0


def test_read_changes_edges(spark, tmp_path):
    table = str(tmp_path / "t")
    SNAP.write_version(_df(spark, 0, 5), table)
    assert SNAP.read_changes(spark, table, 1, 1).count() == 0
    assert "change_type" in SNAP.read_changes(spark, table, 1, 1).columns
    with pytest.raises(FileNotFoundError):
        SNAP.read_changes(spark, table, 1, 9)
    with pytest.raises(ValueError):
        SNAP.write_version(_df(spark, 5, 9), table)
        SNAP.read_changes(spark, table, 2, 1)


def test_merge_into_rewrites_only_files_holding_matched_keys(spark, tmp_path):
    """Range-layout table, change batch touching keys in ONE file:
    merge must carry the other files by name (manifest says so) and
    apply update/insert/delete semantics exactly."""
    table = str(tmp_path / "t")
    SNAP.write_version(
        _df(spark, 0, 100).repartitionByRange(4, "id"), table
    )
    m1_files = set(SNAP._load_manifest(table, 1)["files"])
    # keys 0..9 live in the first range file; 500+ are pure inserts
    src = spark.createDataFrame(
        [(5, 555), (7, 777), (9, -1), (500, 1000), (501, 1002)], "id LONG, v LONG"
    )
    v = SNAP.merge_into(spark, table, src, ["id"], delete_condition="v = -1")
    m = SNAP._load_manifest(table, v)
    assert m["mode"] == "merge" and m["rewrote"] == 1
    assert len(set(m["files"]) & m1_files) == 3, "3 of 4 files carried by name"

    got = {r.id: r.v for r in SNAP.read_version(spark, table).collect()}
    assert got[5] == 555 and got[7] == 777, "matched keys take the source row"
    assert 9 not in got, "delete_condition tombstones the key"
    assert got[500] == 1000 and got[501] == 1002, "unmatched keys insert"
    assert got[4] == 8 and got[99] == 198, "untouched rows carry"
    assert len(got) == 100 - 1 + 2
    # prior version still time-travels to pre-merge values
    assert {r.id: r.v for r in SNAP.read_version(spark, table, 1).collect()}[5] == 10


def test_merge_into_rejects_ambiguous_and_mismatched_source(spark, tmp_path):
    table = str(tmp_path / "t")
    SNAP.write_version(_df(spark, 0, 10), table)
    dup = spark.createDataFrame([(1, 10), (1, 20)], "id LONG, v LONG")
    with pytest.raises(ValueError, match="multiple rows"):
        SNAP.merge_into(spark, table, dup, ["id"])
    bad = spark.createDataFrame([(1, 10)], "id LONG, other LONG")
    with pytest.raises(ValueError, match="columns"):
        SNAP.merge_into(spark, table, bad, ["id"])


def test_merge_then_cdc_shows_update_as_delete_insert_pair(spark, tmp_path):
    """read_changes across a merge: each update appears as its old row
    deleted + new row inserted; tombstones as pure deletes; inserts as
    pure inserts — the changelog a downstream consumer replays."""
    table = str(tmp_path / "t")
    SNAP.write_version(_df(spark, 0, 20).repartitionByRange(2, "id"), table)
    src = spark.createDataFrame(
        [(3, 999), (8, -1), (100, 42)], "id LONG, v LONG"
    )
    v = SNAP.merge_into(spark, table, src, ["id"], delete_condition="v = -1")
    ch = SNAP.read_changes(spark, table, 1, v).collect()
    ins = sorted((r.id, r.v) for r in ch if r.change_type == "insert")
    dels = sorted((r.id, r.v) for r in ch if r.change_type == "delete")
    assert ins == [(3, 999), (100, 42)]
    assert dels == [(3, 6), (8, 16)]


def test_schema_evolution_additive_append(spark, tmp_path):
    """Appends may add nullable columns (the Delta evolution rule):
    the latest read returns the evolved schema with NULLs for rows
    from pre-evolution files, and time travel returns each version's
    OWN manifest-pinned schema."""
    table = str(tmp_path / "t")
    SNAP.write_version(_df(spark, 0, 10), table)
    SNAP.write_version(
        _df(spark, 10, 20).selectExpr("id", "v", "id * 3 AS w"), table
    )
    latest = SNAP.read_version(spark, table)
    assert latest.columns == ["id", "v", "w"]
    w = {r.id: r.w for r in latest.collect()}
    assert w[5] is None, "pre-evolution rows read NULL for the new column"
    assert w[15] == 45
    assert SNAP.read_version(spark, table, 1).columns == ["id", "v"]
    # evolution survives a rewrite op: delete carries the schema forward
    SNAP.delete_where(spark, table, "id = 0")
    assert SNAP.read_version(spark, table).columns == ["id", "v", "w"]


def test_schema_evolution_rejects_drop_and_retype(spark, tmp_path):
    table = str(tmp_path / "t")
    SNAP.write_version(_df(spark, 0, 10), table)
    with pytest.raises(ValueError, match="drops column"):
        SNAP.write_version(spark.range(5).selectExpr("id"), table)
    with pytest.raises(ValueError, match="retypes column"):
        SNAP.write_version(
            spark.range(5).selectExpr("id", "CAST(id AS STRING) AS v"), table
        )
    # overwrite re-shapes freely; prior versions keep their own schema
    SNAP.write_version(
        spark.range(3).selectExpr("id AS only_id"), table, mode="overwrite"
    )
    assert SNAP.read_version(spark, table).columns == ["only_id"]
    assert SNAP.read_version(spark, table, 1).columns == ["id", "v"]


def test_count_rows_is_metadata_only_and_exact(spark, tmp_path):
    """Manifest row counts must equal actual counts through append,
    delete, merge, and compact — and count_rows runs NO Spark job."""
    table = str(tmp_path / "t")
    SNAP.write_version(_df(spark, 0, 100).repartitionByRange(4, "id"), table)
    SNAP.write_version(_df(spark, 100, 150), table)
    SNAP.delete_where(spark, table, "id % 10 = 1")
    src = spark.createDataFrame([(3, 33), (200, 400)], "id LONG, v LONG")
    SNAP.merge_into(spark, table, src, ["id"])
    v_last = SNAP.compact(spark, table, target_files=2)
    for v in SNAP.versions(table):
        expected = SNAP.read_version(spark, table, v).count()
        assert SNAP.count_rows(table, v) == expected, f"v{v}"
    assert SNAP.count_rows(table) == SNAP.count_rows(table, v_last)


def test_history_describes_every_commit(spark, tmp_path):
    table = str(tmp_path / "t")
    SNAP.write_version(_df(spark, 0, 50), table)
    SNAP.write_version(_df(spark, 50, 60), table)
    SNAP.delete_where(spark, table, "id < 5")
    h = SNAP.history(table)
    assert [e["version"] for e in h] == [1, 2, 3]
    assert [e["mode"] for e in h] == ["append", "append", "delete"]
    assert h[0]["n_rows"] == 50 and h[1]["n_rows"] == 60
    assert h[2]["n_rows"] == 55 and h[2]["condition"] == "id < 5"
    assert all(e["n_bytes"] > 0 for e in h)
    assert h[2]["carried"] >= 0 and h[2]["rewrote"] >= 1


def test_rewrites_preserve_file_skipping_stats(spark, tmp_path):
    """delete_where/merge_into must recompute min/max stats for the
    files they rewrite (same column set the table tracked), so a
    rewrite never silently degrades manifest-level skipping."""
    table = str(tmp_path / "t")
    SNAP.write_version(
        _df(spark, 0, 100).repartitionByRange(4, "id"), table, stats_cols=["id"]
    )
    v2 = SNAP.delete_where(spark, table, "id % 10 = 3")
    m2 = SNAP._load_manifest(table, v2)
    assert all(
        "id" in m2["stats"].get(rel, {}) for rel in m2["files"]
    ), "every file (carried AND rewritten) keeps id stats"
    kept, skipped = SNAP.select_files(table, v2, "id", 0, 10)
    assert skipped, "skipping still prunes after the rewrite"

    src = spark.createDataFrame([(5, 50), (500, 1000)], "id LONG, v LONG")
    v3 = SNAP.merge_into(spark, table, src, ["id"])
    m3 = SNAP._load_manifest(table, v3)
    assert all("id" in m3["stats"].get(rel, {}) for rel in m3["files"])


def test_check_constraints_gate_commits_and_inherit(spark, tmp_path):
    """CHECK constraints are a table property: declared once, enforced
    on every later append AND merge source, and a violating commit is
    refused with nothing published."""
    table = str(tmp_path / "t")
    SNAP.write_version(
        _df(spark, 1, 10), table, expectations={"v_positive": "v > 0"}
    )
    assert SNAP._load_manifest(table, 1)["expectations"] == {"v_positive": "v > 0"}

    bad = spark.createDataFrame([(50, -2)], "id LONG, v LONG")
    with pytest.raises(ValueError, match="v_positive"):
        SNAP.write_version(bad, table)  # inherited, not re-declared
    assert SNAP.versions(table) == [1], "refused commit published nothing"

    # clean append passes and may ADD a constraint to the set
    SNAP.write_version(
        _df(spark, 10, 15), table, expectations={"id_nonneg": "id >= 0"}
    )
    assert set(SNAP._load_manifest(table, 2)["expectations"]) == {
        "v_positive",
        "id_nonneg",
    }

    # merge enforces on the SOURCE rows too
    with pytest.raises(ValueError, match="v_positive"):
        SNAP.merge_into(spark, table, bad, ["id"])
    ok = spark.createDataFrame([(50, 2)], "id LONG, v LONG")
    v = SNAP.merge_into(spark, table, ok, ["id"])
    assert SNAP._load_manifest(table, v)["expectations"]["v_positive"] == "v > 0"
    # NULL predicate counts as a violation (documented stricter-than-SQL)
    nullrow = spark.createDataFrame([(60, None)], "id LONG, v LONG")
    with pytest.raises(ValueError, match="v_positive"):
        SNAP.write_version(nullrow, table)


def test_vacuum_time_based_retention_keeps_young_versions(spark, tmp_path):
    import os
    import time

    table = str(tmp_path / "t")
    for lo in range(0, 30, 10):
        SNAP.write_version(_df(spark, lo, lo + 10), table)
    # age v1/v2's manifests beyond the window; v3 stays young
    mdir = os.path.join(table, "_manifests")
    old = time.time() - 3600
    for v in (1, 2):
        os.utime(os.path.join(mdir, f"v{v}.json"), (old, old))
    res = SNAP.vacuum(table, keep_last=1, retain_seconds=300)
    assert res["kept_versions"] == [3]
    # young versions survive even beyond keep_last
    table2 = str(tmp_path / "t2")
    for lo in range(0, 30, 10):
        SNAP.write_version(_df(spark, lo, lo + 10), table2)
    res2 = SNAP.vacuum(table2, keep_last=1, retain_seconds=3600)
    assert res2["kept_versions"] == [1, 2, 3], "all within the time window"
    assert SNAP.read_version(spark, table2, 1).count() == 10


def test_append_racing_delete_serializes(spark, tmp_path):
    """An append and a CoW delete racing on one table must BOTH land:
    the delete's erased keys stay gone, the append's rows survive
    (whichever order the committers serialize into), and nothing else
    is lost — the await-predecessors + rebase/abort discipline across
    ALL committers, not just appenders."""
    from concurrent.futures import ThreadPoolExecutor

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(
        spark.range(100).repartitionByRange(4, "id"), table, mode="append"
    )

    def do_delete():
        return ("del", SNAP.delete_where(spark, table, "id < 10"))

    def do_append():
        return ("app", SNAP.write_version(spark.range(1000, 1010), table))

    with ThreadPoolExecutor(max_workers=2) as ex:
        results = dict(ex.map(lambda f: f(), [do_delete, do_append]))

    final = SNAP.read_version(spark, table)
    assert final.where("id < 10").count() == 0, "delete lost"
    assert final.where("id >= 1000").count() == 10, "append lost"
    assert final.count() == 100
    assert SNAP.count_rows(table) == 100
    assert len(set(results.values())) == 2  # distinct committed versions


def test_partition_by_prunes_from_metadata(spark, tmp_path):
    """write_version(partition_by=...): Iceberg-style metadata
    partitioning — rows cluster per partition value, the columns stay
    in the data, and select_files prunes partition-equality reads
    with zero file opens; no Hive directories anywhere."""
    import os as _os

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    df = spark.range(3000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS lang"
    )
    SNAP.write_version(df, table, partition_by=["lang"])
    m = SNAP._load_manifest(table, 1)
    # flat layout: every file directly under the staging dir
    assert all("=" not in _os.path.basename(f) for f in m["files"])
    # per-file lang stats recorded; files are single-valued in lang
    single = [
        rel for rel, st in m["stats"].items() if "lang" in st and st["lang"][0] == st["lang"][1]
    ]
    assert single, "hash clustering must give single-partition-value files"
    kept, skipped = SNAP.select_files(table, None, "lang", "1", "1")
    assert skipped, "partition-equality read must prune files"
    # pruning is an optimization, never a filter
    got = spark.read.parquet(*[_os.path.join(table, f) for f in kept])
    assert got.where("lang = '1'").count() == 1000
    # partition columns survive per-file reads (they are IN the data)
    assert "lang" in got.columns
    # rejects unknown partition columns
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition_by columns"):
        SNAP.write_version(df, table, partition_by=["nope"])


def test_add_columns_is_metadata_only(spark, tmp_path):
    """ALTER TABLE ADD COLUMNS: zero data I/O — old files serve NULL
    for the new columns via the pinned schema, the next append may
    populate them, and time travel keeps each version's own shape."""
    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(5).selectExpr("id", "id*2 AS v"), table)
    v = SNAP.add_columns(table, {"score": "double", "tag": "string"})
    m = SNAP._load_manifest(table, v)
    assert m["mode"] == "alter"
    assert m["files"] == SNAP._load_manifest(table, 1)["files"]  # no I/O
    got = SNAP.read_version(spark, table)
    assert set(got.columns) == {"id", "v", "score", "tag"}
    assert got.where("score IS NULL AND tag IS NULL").count() == 5
    # next append populates the evolved columns
    SNAP.write_version(
        spark.sql(
            "SELECT CAST(100 AS BIGINT) AS id, CAST(0 AS BIGINT) AS v, "
            "CAST(1.5 AS DOUBLE) AS score, 'a' AS tag"
        ),
        table,
    )
    got = SNAP.read_version(spark, table)
    assert got.count() == 6 and got.where("tag = 'a'").count() == 1
    # time travel: v1 still has its ORIGINAL two-column shape
    assert set(SNAP.read_version(spark, table, 1).columns) == {"id", "v"}
    # duplicates refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exist"):
        SNAP.add_columns(table, {"v": "bigint"})


def test_stale_claim_skipped_without_waiting(spark, tmp_path):
    """A crashed writer's claim (mtime past the stale threshold) must
    neither block successors at the predecessor wait nor be clobbered:
    the next committer proceeds immediately and takes the next number."""
    import time as _t

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(5), table)
    claim = os.path.join(table, "_manifests", ".claim-v2")
    open(claim, "x").close()
    past = _t.time() - 3600
    os.utime(claim, (past, past))  # crashed long ago
    t0 = _t.time()
    v = SNAP.write_version(spark.range(5, 10), table)
    assert _t.time() - t0 < 10, "stale claim must not trigger the wait"
    assert v == 3 and SNAP.read_version(spark, table).count() == 10


def test_vacuum_sweeps_stale_tx_staging_keeps_live(spark, tmp_path):
    """Crashed-append debris: a data/tx-* staging dir with no claim is
    swept only once it is older than the TTL; a young one is a live
    writer and must survive."""
    import time as _t

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(5), table)
    stale = os.path.join(table, "data", "tx-deadbeef")
    live = os.path.join(table, "data", "tx-live")
    spark.range(3).coalesce(1).write.parquet(stale)
    spark.range(3).coalesce(1).write.parquet(live)
    past = _t.time() - 7 * 86400
    os.utime(stale, (past, past))
    res = SNAP.vacuum(table, keep_last=5)
    assert not os.path.isdir(stale), "TTL-stale tx staging is crash debris"
    assert os.path.isdir(live), "young tx staging is an in-flight append"
    assert res["removed_orphan_dirs"] >= 1
    assert SNAP.read_version(spark, table).count() == 5


def test_describe_detail_is_metadata_only(spark, tmp_path):
    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "t")
    SNAP.write_version(
        _df(spark, 0, 100),
        table,
        bloom_cols=["id"],
        expectations={"pos": "id >= 0"},
    )
    SNAP.create_tag(table, "pin")
    SNAP.delete_where_mor(spark, table, "id < 10")
    d = SNAP.describe_detail(table)
    assert d["version"] == 2 and d["n_versions"] == 2
    assert d["n_rows"] == 90 and d["dv_rows"] == 10
    assert d["columns"] == ["id", "v"]
    assert d["expectations"] == ["pos"] and d["bloom_cols"] == ["id"]
    assert d["refs"] == {"pin": 1}
    assert d["commit_modes"] == {"append": 1, "delete": 1}


def test_partition_spec_is_inherited_and_survives_maintenance(spark, tmp_path):
    """The partition spec is TABLE metadata (Iceberg model): declared
    once, inherited by later appends (which cluster without re-passing
    it), carried through rewrite commits, preserved by compact's
    rewrite, evolvable, and clearable with []."""
    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "tspec")
    df = spark.range(3000).selectExpr("id", "CAST(id % 3 AS STRING) AS lang")
    SNAP.write_version(df, table, partition_by=["lang"])
    assert SNAP._load_manifest(table, 1)["partition_by"] == ["lang"]

    # plain append INHERITS the spec: new files cluster single-valued
    df2 = spark.range(3000, 6000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS lang"
    )
    v2 = SNAP.write_version(df2, table)
    m2 = SNAP._load_manifest(table, v2)
    assert m2["partition_by"] == ["lang"]
    new_files = [f for f in m2["files"] if f not in SNAP._load_manifest(table, 1)["files"]]
    assert new_files
    # clustering happened (same standard as the declare-time test:
    # range clustering yields single-valued files, sampling ties may
    # leave a boundary file)
    assert any(
        m2["stats"][f]["lang"][0] == m2["stats"][f]["lang"][1] for f in new_files
    )

    # a rewrite commit CARRIES the spec even though it never sets it
    v3 = SNAP.delete_where(spark, table, "id % 1000 = 7")
    assert SNAP._load_manifest(table, v3).get("partition_by") == ["lang"]

    # compact PRESERVES the clustering: post-compact files stay
    # single-valued in lang, so equality pruning still works
    v4 = SNAP.compact(spark, table, target_files=2)
    m4 = SNAP._load_manifest(table, v4)
    assert m4.get("partition_by") == ["lang"]
    assert any(
        st["lang"][0] == st["lang"][1]
        for st in m4["stats"].values()
        if "lang" in st
    )
    kept, skipped = SNAP.select_files(table, None, "lang", "1", "1")
    assert skipped, "equality pruning must survive compaction"

    # explicit [] CLEARS the spec; the next append stops clustering
    v5 = SNAP.write_version(df, table, partition_by=[])
    assert SNAP._load_manifest(table, v5)["partition_by"] == []
    v6 = SNAP.write_version(df2, table)
    assert SNAP._load_manifest(table, v6)["partition_by"] == []


def test_unique_keys_enforced_and_inherited(spark, tmp_path):
    """PRIMARY-KEY gate: declared once, inherited by later appends;
    refuses in-batch dupes AND collisions with live table keys; a
    DV-deleted key frees its slot; refusal commits nothing."""
    import pytest as _pytest

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "uk")
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    SNAP.write_version(df, table, unique_keys=["k"])
    assert SNAP._load_manifest(table, 1)["unique_keys"] == ["k"]

    # in-batch duplicate refused
    dup = spark.createDataFrame([(200, 1), (200, 2)], "k LONG, v LONG")
    with _pytest.raises(ValueError, match="unique_keys violated in the incoming"):
        SNAP.write_version(dup, table)  # inherits the constraint
    # collision with a live key refused, nothing committed
    head = SNAP.versions(table)[-1]
    clash = spark.createDataFrame([(42, 1)], "k LONG, v LONG")
    with _pytest.raises(ValueError, match="already live"):
        SNAP.write_version(clash, table)
    assert SNAP.versions(table)[-1] == head

    # clean append passes and the property is recorded again
    ok = spark.range(100, 150).selectExpr("id AS k", "id * 2 AS v")
    v = SNAP.write_version(ok, table)
    assert SNAP._load_manifest(table, v)["unique_keys"] == ["k"]

    # rewrite commits CARRY the property
    v_del = SNAP.delete_where_mor(spark, table, "k = 42")
    assert SNAP._load_manifest(table, v_del).get("unique_keys") == ["k"]
    # the DV-deleted key is free again
    v_re = SNAP.write_version(clash, table)
    assert SNAP.read_version(spark, table).where("k = 42").count() == 1
    assert v_re == SNAP.versions(table)[-1]


def test_unique_keys_bloom_fast_path_prunes_probe(spark, tmp_path):
    """With a bloom over the key, a small batch's vs-table probe
    opens only candidate files (possibly none)."""
    import pytest as _pytest

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "ukb")
    df = spark.range(2000).selectExpr("id AS k", "id AS v")
    SNAP.write_version(
        df.repartitionByRange(4, "k"), table, unique_keys=["k"], bloom_cols=["k"]
    )
    # non-colliding small batch: blooms rule every file out -> accepted
    # without opening any data file (behavioral proof: it commits)
    v = SNAP.write_version(
        spark.createDataFrame([(999_999, 0)], "k LONG, v LONG"), table
    )
    assert v == SNAP.versions(table)[-1]
    # colliding small batch still refused through the pruned probe
    with _pytest.raises(ValueError, match="already live"):
        SNAP.write_version(
            spark.createDataFrame([(7, 0)], "k LONG, v LONG"), table
        )


def test_vacuum_dry_run_reports_without_removing(spark, tmp_path):
    """VACUUM DRY RUN: the report equals the real run's (same keep-set
    and TTL guards) while every byte survives; the real run then
    removes exactly what the dry run predicted."""
    import os as _os

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "vdr")
    SNAP.write_version(_df(spark, 0, 100).coalesce(1), table)
    SNAP.write_version(_df(spark, 100, 200).coalesce(1), table, mode="overwrite")
    v1_files = SNAP._load_manifest(table, 1)["files"]

    dry = SNAP.vacuum(table, keep_last=1, dry_run=True)
    assert dry["dry_run"] and dry["expired_versions"] == [1]
    assert dry["removed_files"] > 0
    for rel in v1_files:  # nothing actually gone
        assert _os.path.exists(_os.path.join(table, rel))
    assert SNAP.read_version(spark, table, version=1).count() == 100

    real = SNAP.vacuum(table, keep_last=1)
    assert not real["dry_run"]
    assert real["removed_files"] == dry["removed_files"]
    assert real["kept_versions"] == dry["kept_versions"]
    assert not any(
        _os.path.exists(_os.path.join(table, rel)) for rel in v1_files
    )


def test_unique_keys_racing_appenders_exactly_one_wins(spark, tmp_path):
    """PK under REAL thread concurrency: two appenders racing the SAME
    key — the claim/await/rebase loop re-probes against the new head,
    so exactly one commits and the other is refused (no double key
    ever becomes visible)."""
    from concurrent.futures import ThreadPoolExecutor

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "ukrace")
    SNAP.write_version(
        spark.range(10).selectExpr("id AS k", "id AS v"), table, unique_keys=["k"]
    )

    def appender(tag: int):
        try:
            SNAP.write_version(
                spark.createDataFrame([(777, tag)], "k LONG, v LONG"), table
            )
            return ("ok", tag)
        except ValueError:
            return ("refused", tag)

    with ThreadPoolExecutor(max_workers=2) as ex:
        results = list(ex.map(appender, [1, 2]))
    outcomes = sorted(r[0] for r in results)
    assert outcomes == ["ok", "refused"], results
    live = SNAP.read_version(spark, table).where("k = 777").collect()
    assert len(live) == 1  # exactly one racer's row is visible


def test_main_idx_checkpoint_heals_and_filters(spark, tmp_path):
    """The main-line index (Delta checkpoint+tail shape): commit-time
    maintenance answers main_versions without loading every manifest;
    missing/stale idx degrades to the scan and self-heals; vacuumed
    versions are filtered out."""
    import json as _json
    import os as _os

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "midx")
    for i in range(5):
        SNAP.write_version(_df(spark, i * 10, i * 10 + 10).coalesce(1), table)
    SNAP.create_branch(table, "b")
    SNAP.write_branch(_df(spark, 100, 110), table, "b")  # branch commit
    SNAP.write_version(_df(spark, 200, 210), table)

    idx_path = _os.path.join(table, "_manifests", "main.idx.json")
    assert _os.path.exists(idx_path)
    idx = _json.load(open(idx_path))
    want_main = [v for v in SNAP.versions(table)
                 if "branch" not in SNAP._load_manifest(table, v)]
    assert SNAP.main_versions(table) == want_main
    assert idx["main"] == want_main  # idx fully covers the log
    assert idx["last"] == SNAP.versions(table)[-1]

    # stale idx (simulated crash between manifest publish and idx
    # update): truncate it two commits back — the tail scan heals
    stale = {"last": want_main[-3], "main": [v for v in want_main if v <= want_main[-3]]}
    _json.dump(stale, open(idx_path, "w"))
    assert SNAP.main_versions(table) == want_main

    # missing idx: full-scan fallback
    _os.remove(idx_path)
    assert SNAP.main_versions(table) == want_main
    # corrupt idx: same
    open(idx_path, "w").write("{not json")
    assert SNAP.main_versions(table) == want_main
    _os.remove(idx_path)

    # next commit rebuilds nothing retroactively but the tail logic
    # still answers correctly, and vacuum'd versions drop out
    SNAP.write_version(_df(spark, 300, 310), table)
    SNAP.vacuum(table, keep_last=2)
    live_main = [v for v in SNAP.versions(table)
                 if "branch" not in SNAP._load_manifest(table, v)]
    assert SNAP.main_versions(table) == live_main


def test_batch_replay_memory_survives_vacuum(spark, tmp_path):
    """The idx's batch_ids memory outlives retention: a replay of a
    batch whose ORIGINAL commit was vacuumed must still no-op instead
    of re-appending rows a later compaction already folded forward."""
    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "bidx")
    body = SNAP.foreach_batch_snapshot(table)
    body(_df(spark, 0, 10), 0)
    body(_df(spark, 10, 20), 1)
    SNAP.compact(spark, table, target_files=1)
    SNAP.vacuum(table, keep_last=1)  # the batch-0/1 manifests expire
    n = SNAP.read_version(spark, table).count()
    body(_df(spark, 0, 10), 0)  # replay of the long-expired batch
    assert SNAP.read_version(spark, table).count() == n  # no double rows


def test_batch_replay_check_heals_without_idx(spark, tmp_path):
    """_find_batch_commit's tail-scan fallback: with the idx missing
    or stale, a replayed batch id is still found in the manifests."""
    import os as _os

    from binance_etl_spark.operators import snapshots as SNAP

    table = str(tmp_path / "bheal")
    body = SNAP.foreach_batch_snapshot(table)
    body(_df(spark, 0, 10), 0)
    idx_path = _os.path.join(table, "_manifests", "main.idx.json")
    _os.remove(idx_path)
    body(_df(spark, 0, 10), 0)  # replay with no idx: manifest scan
    assert SNAP.read_version(spark, table).count() == 10
    assert len(SNAP.versions(table)) == 1
