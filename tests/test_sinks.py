"""Merge/overwrite/append sink semantics + watermark store + reverse-ETL
writer: the correctness-critical write path (SURVEY §4.3.2 — the reference
loses rows if it crashes between its DELETE and INSERT jobs; these tests pin
the atomic-swap contract that fixes that)."""

from __future__ import annotations

import os

from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable, WatermarkStore
from bi_gcp_stitch_repl_spark.sinks.reverse import post_batches


def df_of(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


def test_merge_upsert_replaces_and_preserves(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(df_of(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.merge_upsert(df_of(spark, [(2, "B"), (4, "D")]), keys=["k"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_merge_upsert_idempotent_rerun(spark, tmp_path):
    """Re-running the same batch must be a no-op — the reference's implicit
    daily-rerun contract (K1 delete+insert)."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(df_of(spark, [(1, "a"), (2, "b")]))
    batch = df_of(spark, [(2, "B"), (3, "C")])
    t.merge_upsert(batch, keys=["k"])
    first = sorted(map(tuple, t.read().collect()))
    t.merge_upsert(batch, keys=["k"])
    assert sorted(map(tuple, t.read().collect())) == first


def test_merge_upsert_key_frame_purges_empty_parents(spark, tmp_path):
    """Parent-key merge with key_frame (ADVICE r04): an invoice whose
    child set became EMPTY upstream contributes zero batch rows; the key
    frame must still purge its stale children. Keys absent from both
    batch and key_frame survive untouched."""
    t = ParquetTable(spark, str(tmp_path / "items"))
    t.overwrite(
        df_of(
            spark,
            [(1, "inv1-a"), (1, "inv1-b"), (2, "inv2-a"), (3, "inv3-a")],
            "invoice_id long, item string",
        )
    )
    # fetched invoices: 1 (now has one item), 2 (now EMPTY), not 3
    batch = df_of(spark, [(1, "inv1-new")], "invoice_id long, item string")
    fetched = spark.createDataFrame([(1,), (2,)], "invoice_id long")
    t.merge_upsert(batch, keys=["invoice_id"], key_frame=fetched)
    got = sorted((r["invoice_id"], r["item"]) for r in t.read().collect())
    assert got == [(1, "inv1-new"), (3, "inv3-a")]


def test_recover_race_loser_rename_is_not_an_error(spark, tmp_path, monkeypatch):
    """Two readers racing _recover's rollback: the loser's os.rename
    fails with OSError AFTER the winner already restored the table —
    that must read as success, not a spurious failure (ADVICE r04)."""
    path = str(tmp_path / "t")
    t = ParquetTable(spark, path)
    t.overwrite(df_of(spark, [(1, "a")]))
    # simulate a crash between the two swap renames: table path missing,
    # pre-swap snapshot under .old-
    os.rename(path, path + ".old-deadbeef")

    real_rename = os.rename

    def racing_rename(src, dst):
        # the "other reader" wins the rollback first, then our rename fails
        import shutil

        shutil.copytree(src, dst)
        raise OSError(39, "Directory not empty", dst)

    monkeypatch.setattr(os, "rename", racing_rename)
    try:
        assert t.exists()  # _recover must swallow the loser's OSError
    finally:
        monkeypatch.setattr(os, "rename", real_rename)
    assert {r["k"] for r in t.read().collect()} == {1}


def test_merge_upsert_composite_key(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, "x", "old"), (1, "y", "old")], "a long, b string, v string")
    )
    t.merge_upsert(
        spark.createDataFrame([(1, "x", "new")], "a long, b string, v string"),
        keys=["a", "b"],
    )
    got = {(r["a"], r["b"]): r["v"] for r in t.read().collect()}
    assert got == {(1, "x"): "new", (1, "y"): "old"}


def test_overwrite_swaps_atomically_no_stage_leftovers(spark, tmp_path):
    path = str(tmp_path / "t")
    t = ParquetTable(spark, path)
    t.overwrite(df_of(spark, [(1, "a")]))
    t.overwrite(df_of(spark, [(2, "b")]))
    assert [r["k"] for r in t.read().collect()] == [2]
    siblings = [p for p in os.listdir(tmp_path) if p.startswith("t.")]
    assert siblings == []  # no stage/old dirs left behind


def test_append_if_absent_dedups_on_composite(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "h"))
    snap1 = df_of(spark, [(1, "open"), (2, "open")], "id long, status string")
    delta1 = t.append_if_absent(snap1, keys=["id", "status"])
    assert delta1.count() == 2
    snap2 = df_of(
        spark, [(1, "open"), (1, "paid"), (2, "open")], "id long, status string"
    )
    delta2 = t.append_if_absent(snap2, keys=["id", "status"])
    assert [(r["id"], r["status"]) for r in delta2.collect()] == [(1, "paid")]
    assert t.read().count() == 3


def test_watermark_store_advances_monotonically(tmp_path):
    ws = WatermarkStore(str(tmp_path / "wm.json"))
    assert ws.get("billwerk_invoices") is None
    ws.advance("billwerk_invoices", 100)
    ws.advance("billwerk_invoices", 90)  # never regress (re-run safety)
    assert ws.get("billwerk_invoices") == 100
    ws.advance("billwerk_invoices", 150)
    assert ws.get("billwerk_invoices") == 150


def test_watermark_keyset_end_to_end(spark, tmp_path):
    """S4 contract: fetch WHERE id > watermark, load, then advance."""
    ws = WatermarkStore(str(tmp_path / "wm.json"))
    t = ParquetTable(spark, str(tmp_path / "t"))
    src = df_of(spark, [(i, f"r{i}") for i in range(1, 11)], "id long, v string")

    def run_increment():
        wm = ws.get("src", default=0)
        batch = src.filter(src.id > wm)
        if batch.isEmpty():
            return 0
        t.merge_upsert(batch, keys=["id"])
        ws.advance("src", batch.agg({"id": "max"}).collect()[0][0])
        return batch.count()

    assert run_increment() == 10
    assert run_increment() == 0  # nothing new → no-op
    assert t.read().count() == 10


def test_post_batches_counts_ok_and_failed(spark):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(25)], "id long, v string")
    df = df.repartition(2)

    # sender rejects any batch containing id 7 (simulated API failure)
    def send(batch):
        return not any(row["id"] == 7 for row in batch)

    ok, failed = post_batches(df, send, batch_size=5)
    assert ok + failed >= 5  # 25 rows / batch 5 across >= 2 partitions
    assert failed >= 1


def test_partitioned_table_prunes_date_predicates(spark, tmp_path):
    """Hive-partitioned layout: a date predicate must become a
    PartitionFilter (directory pruning), not a row filter."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"), partition_by=["ingest_date"])
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "2024-01-01").otherwise("2024-01-02").alias("ingest_date"),
    )
    t.overwrite(df)
    scan = t.read().filter(F.col("ingest_date") == "2024-01-01")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scan.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:160]
    assert "ingest_date" in pf
    assert scan.count() == 50

    # merge preserves the partitioned layout
    t.merge_upsert(
        spark.createDataFrame([(1, "2024-01-03")], "k long, ingest_date string"),
        keys=["k"],
    )
    import os

    parts = [p for p in os.listdir(t.path) if p.startswith("ingest_date=")]
    assert sorted(parts) == [
        "ingest_date=2024-01-01",
        "ingest_date=2024-01-02",
        "ingest_date=2024-01-03",
    ]


def test_compact_preserves_rows_and_reduces_files(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    for i in range(6):  # many small appends → many files
        t.append(spark.createDataFrame([(i, f"v{i}")], "k long, v string")
                 if i else spark.createDataFrame([(0, "v0")], "k long, v string"))
    files_before = len([f for f in os.listdir(t.path) if f.endswith(".parquet")])
    n = t.compact(target_partitions=1)
    files_after = len([f for f in os.listdir(t.path) if f.endswith(".parquet")])
    assert n == 6 and t.read().count() == 6
    assert files_after < files_before and files_after == 1


def test_vacuum_removes_orphans_keeps_table_and_recent(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(df_of(spark, [(1, "a"), (2, "b")]))
    # simulate crashed writers: an abandoned stage dir and an old generation
    old_orphan = str(tmp_path / "t.old-deadbeef")
    stale_stage = str(tmp_path / "t.stage-deadbeef")
    fresh_stage = str(tmp_path / "t.stage-cafe")  # an in-flight writer
    for d in (old_orphan, stale_stage, fresh_stage):
        os.makedirs(d)
    past = 1_000_000_000  # epoch 2001 — well past any retention
    os.utime(old_orphan, (past, past))
    os.utime(stale_stage, (past, past))
    removed = t.vacuum(retention_sec=3600)
    assert sorted(removed) == sorted([old_orphan, stale_stage])
    assert os.path.isdir(fresh_stage)  # within retention — untouched
    assert {r["k"] for r in t.read().collect()} == {1, 2}


def test_delete_matching_erases_keys_and_is_idempotent(spark, tmp_path):
    """GDPR erasure: all rows for the requested keys disappear, everything
    else survives byte-for-byte, and a re-run (crashed-job retry) is a
    no-op."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    rows = [(u, i, f"payload-{u}-{i}") for u in range(10) for i in range(5)]
    t.overwrite(spark.createDataFrame(rows, "user_id long, seq long, payload string"))
    erase = spark.createDataFrame([(3,), (7,), (99,)], "user_id long")  # 99 absent
    removed = t.delete_matching(erase, ["user_id"])
    assert removed == 10  # 2 present users x 5 rows
    left = t.read()
    assert left.count() == 40
    assert left.filter("user_id in (3, 7)").count() == 0
    assert left.filter("user_id = 4").count() == 5
    assert t.delete_matching(erase, ["user_id"]) == 0  # idempotent re-run
    assert t.read().count() == 40


def test_delete_matching_on_missing_table_is_noop(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "absent"))
    erase = spark.createDataFrame([(1,)], "user_id long")
    assert t.delete_matching(erase, ["user_id"]) == 0


def test_post_batches_rate_limit_paces_partition(spark):
    import time

    from bi_gcp_stitch_repl_spark.sinks.reverse import post_batches

    df = spark.createDataFrame([(i,) for i in range(6)], "id long").coalesce(1)

    def send(batch):
        return True

    # warm the lazy plan so the timed run measures pacing, not planning
    post_batches(df, send, batch_size=2)
    t0 = time.monotonic()
    ok, fail = post_batches(df, send, batch_size=2, min_interval_sec=0.3)
    elapsed = time.monotonic() - t0
    assert (ok, fail) == (3, 0)
    # 3 batches on one partition: the 2nd and 3rd must each wait >= 0.3 s
    assert elapsed >= 0.55, elapsed


def test_chaos_crash_between_stage_and_swap_preserves_snapshot(
    spark, tmp_path, monkeypatch
):
    """Chaos-test the atomic-swap writer (VERDICT r03 #6): inject a crash
    at every rename boundary of the two-rename commit and assert the
    table always reads back the complete pre-merge snapshot — never a
    partial state, never 'table missing'."""
    import os as os_mod

    from bi_gcp_stitch_repl_spark.sinks import merge as merge_mod

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(df_of(spark, [(1, "a"), (2, "b")]))
    before = sorted((r["k"], r["v"]) for r in t.read().collect())

    real_rename = os_mod.rename

    def crash_first(src, dst):
        if ".old-" in dst:
            raise OSError("injected crash on path->old rename")
        return real_rename(src, dst)

    # crash point 1: path -> old rename fails (swap never starts)
    monkeypatch.setattr(merge_mod.os, "rename", crash_first)
    try:
        t.merge_upsert(df_of(spark, [(2, "B"), (3, "c")]), keys=["k"])
        raise AssertionError("expected injected crash")
    except OSError:
        pass
    monkeypatch.setattr(merge_mod.os, "rename", real_rename)
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == before

    # crash point 2: old-rename succeeds, stage->path rename fails — the
    # vulnerable window where the table path does not exist; recovery
    # must roll the .old snapshot back on next read
    calls = {"n": 0}

    def crash_second(src, dst):
        if dst == t.path and ".stage-" in src:
            raise OSError("injected crash before commit rename")
        return real_rename(src, dst)

    monkeypatch.setattr(merge_mod.os, "rename", crash_second)
    try:
        t.merge_upsert(df_of(spark, [(2, "B"), (3, "c")]), keys=["k"])
        raise AssertionError("expected injected crash")
    except OSError:
        pass
    monkeypatch.setattr(merge_mod.os, "rename", real_rename)
    assert not os_mod.path.exists(t.path)  # genuinely crashed mid-swap
    assert t.exists()  # recovery rolls back the snapshot
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == before

    # after recovery the same merge applies cleanly
    t.merge_upsert(df_of(spark, [(2, "B"), (3, "c")]), keys=["k"])
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (1, "a"), (2, "B"), (3, "c"),
    ]


def test_recover_prefers_newest_old_snapshot_and_protects_append_vacuum(
    spark, tmp_path, monkeypatch
):
    """Review-r04 regressions: (1) with several .old-* dirs the NEWEST is
    the pre-crash snapshot — uuid order must not pick a stale one;
    (2) append() on a mid-swap-crashed table must recover first, not
    re-create the table with only the new batch; (3) vacuum() must never
    remove an .old dir while the table path is absent."""
    import os as os_mod
    import time as time_mod

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(df_of(spark, [(1, "a")]))

    # forge a STALE .old left by an ancient crashed cleanup
    stale = t.path + ".old-00000000stale"
    t.read().write.parquet(stale)
    os_mod.utime(stale, (1, 1))  # ancient mtime

    # crash mid-swap on a merge carrying the CURRENT snapshot
    t.merge_upsert(df_of(spark, [(2, "b")]), keys=["k"])
    current = sorted((r["k"], r["v"]) for r in t.read().collect())
    fresh_old = t.path + ".old-ffffffffcrash"
    os_mod.rename(t.path, fresh_old)  # simulate crash between renames

    # (3) vacuum with retention 0 must not touch either .old while the
    # table is missing — it recovers instead
    t2 = ParquetTable(spark, t.path)
    removed = t2.vacuum(retention_sec=0.0)
    assert os_mod.path.exists(t2.path)
    assert sorted((r["k"], r["v"]) for r in t2.read().collect()) == current
    assert fresh_old not in removed

    # (1) the stale .old was NOT the one restored — the newest was; once
    # the table is back, the stale orphan is safely vacuumable garbage
    assert not os_mod.path.exists(fresh_old)
    assert stale in removed and not os_mod.path.exists(stale)

    # (2) append on a mid-swap-crashed table recovers before writing
    os_mod.rename(t2.path, t.path + ".old-ffffffffcrash2")
    t3 = ParquetTable(spark, t.path)
    t3.append(df_of(spark, [(3, "c")]))
    got = sorted((r["k"], r["v"]) for r in t3.read().collect())
    assert got == sorted(current + [(3, "c")])


def test_merge_upsert_null_keys_idempotent(spark, tmp_path):
    """Review r05: NULL-key rows must REPLACE under re-run (null-safe key
    equality) — plain join equality never matches NULL, so every re-run
    appended another copy, breaking the sink's idempotency contract."""
    from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    batch = spark.createDataFrame([(None, "x"), (1, "a")], "k long, v string")
    t.merge_upsert(batch, keys=["k"])
    t.merge_upsert(batch, keys=["k"])  # re-run: must be a no-op
    rows = {(r["k"], r["v"]) for r in t.read().collect()}
    assert rows == {(None, "x"), (1, "a")}
    # and the NULL-key row is replaceable, not just deduped
    t.merge_upsert(
        spark.createDataFrame([(None, "y")], "k long, v string"), keys=["k"]
    )
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {
        (None, "y"), (1, "a"),
    }


def test_append_if_absent_null_keys_append_once(spark, tmp_path):
    """Review r05: the K7 history join must be null-safe like its
    dropDuplicates — or one NULL-key row is appended per scheduled run
    forever."""
    from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "h"))
    batch = spark.createDataFrame([(None, "x"), (2, "b")], "k long, v string")
    assert t.append_if_absent(batch, keys=["k"]).count() == 2
    assert t.append_if_absent(batch, keys=["k"]).count() == 0  # re-run
    assert t.read().count() == 2


def test_staged_write_refuses_to_clobber_concurrent_commit(spark, tmp_path):
    """Review r05: when the table path reappears mid-swap WITHOUT our
    .old dir being consumed (i.e. a concurrent writer committed, not a
    reader rollback), the swap must raise ConcurrentWriteError and leave
    the interloper's table standing — the old retry renamed it away and
    deleted it (lost update)."""
    import os

    from bi_gcp_stitch_repl_spark.sinks.merge import (
        ConcurrentWriteError,
        ParquetTable,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "mine")], "k long, v string"))
    real_rename = os.rename
    state = {"armed": True}

    def racing_rename(src, dst):
        real_rename(src, dst)
        # the moment our table is renamed away, a "concurrent writer"
        # commits its own table at the path
        if state["armed"] and dst.startswith(str(tmp_path / "t") + ".old-"):
            state["armed"] = False
            os.makedirs(str(tmp_path / "t"))
            with open(os.path.join(str(tmp_path / "t"), "part-theirs.parquet"), "wb") as f:
                f.write(b"theirs")

    os.rename = racing_rename
    try:
        import pytest as _pytest

        with _pytest.raises(ConcurrentWriteError):
            t.overwrite(spark.createDataFrame([(2, "stale")], "k long, v string"))
    finally:
        os.rename = real_rename
    # the interloper's table is untouched
    assert os.path.exists(os.path.join(str(tmp_path / "t"), "part-theirs.parquet"))


def test_watermark_advance_none_never_clobbers(tmp_path):
    """Review r05: advancing with None (empty fetch) must keep the stored
    cursor — clobbering it to null re-reads the whole source next run."""
    from bi_gcp_stitch_repl_spark.sinks.merge import WatermarkStore

    ws = WatermarkStore(str(tmp_path / "wm.json"))
    ws.advance("inv", 100)
    ws.advance("inv", None)
    assert ws.get("inv") == 100


def test_compact_default_packs_small_files(spark, tmp_path):
    """Review r05: default compact() must right-size via the scan's
    small-file packing (maxPartitionBytes), not clamp the job to a
    hard-coded coalesce(8)."""
    import glob

    from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(1000).repartition(40).selectExpr("id AS k"))
    before = len(glob.glob(str(tmp_path / "t" / "*.parquet")))
    assert before >= 30  # many small files
    assert t.compact() == 1000
    after = len(glob.glob(str(tmp_path / "t" / "*.parquet")))
    assert after < before  # packed, rows preserved


def test_read_resolves_schema_from_footer_without_a_job(spark, tmp_path):
    """``ParquetTable.read`` takes the schema Spark embedded in the first
    part file's footer, so resolving the scan runs no schema-inference
    job and yields the inferred schema. A hive-partitioned layout and a
    footer without Spark's schema (a pyarrow-written file) keep
    inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(
        [(1, "a", {"x": 2.5})], "k long, v string, s struct<x: double>"
    ))
    inferred = spark.read.parquet(t.path).schema
    sc = spark.sparkContext
    sc.setJobGroup("parquet-table-read", "parquet-table-read")
    try:
        df = t.read()
    finally:
        sc.setJobGroup(None, None)
    assert not sc.statusTracker().getJobIdsForGroup("parquet-table-read")
    assert df.schema == inferred
    assert [tuple(r) for r in df.collect()] == [(1, "a", (2.5,))]

    part = ParquetTable(spark, str(tmp_path / "p"), partition_by=["d"])
    part.overwrite(spark.createDataFrame([(1, "2024-01-01")], "k long, d string"))
    assert part.read().columns == ["k", "d"]

    foreign = tmp_path / "f"
    foreign.mkdir()
    pq.write_table(pa.table({"k": pa.array([7], pa.int64())}), str(foreign / "x.parquet"))
    assert [r.k for r in ParquetTable(spark, str(foreign)).read().collect()] == [7]
