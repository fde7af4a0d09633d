"""VersionedTable: commit-log semantics — O(1) append, snapshot reads,
time travel, optimistic concurrency, vacuum."""

from __future__ import annotations

import json
import os

import pytest

from bi_gcp_stitch_repl_spark.sinks.versioned import CommitConflict, VersionedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_append_is_add_only_and_time_travels(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    v0 = t.append(_df(spark, [(1, "a"), (2, "b")]))
    files_v0 = set(t.files_at(v0))
    v1 = t.append(_df(spark, [(3, "c")]))
    assert (v0, v1) == (0, 1)
    # append touched nothing: v0's files are a strict subset of v1's
    assert files_v0 < set(t.files_at(v1))
    assert t.read().count() == 3
    assert t.read(version=0).count() == 2  # time travel
    # commit log actions for v1 are adds (+ schema tracking) — no removes
    with open(os.path.join(t.log_path, f"{v1:012d}.json")) as f:
        actions = json.load(f)["actions"]
    assert all("add" in a or "meta" in a for a in actions)
    assert any("add" in a for a in actions)


def test_overwrite_and_merge_preserve_history(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.merge_upsert(_df(spark, [(2, "B"), (9, "new")]), keys=["k"])
    now = {(r["k"], r["v"]) for r in t.read().collect()}
    assert now == {(1, "a"), (2, "B"), (9, "new")}
    before = {(r["k"], r["v"]) for r in t.read(version=0).collect()}
    assert before == {(1, "a"), (2, "b")}  # pre-merge snapshot intact
    t.overwrite(_df(spark, [(7, "z")]))
    assert t.read().count() == 1
    assert {(r["k"], r["v"]) for r in t.read(version=1).collect()} == now


def test_append_retries_past_commit_conflict(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    # another writer steals version 1
    os.makedirs(t.log_path, exist_ok=True)
    with open(os.path.join(t.log_path, f"{1:012d}.json"), "x") as f:
        json.dump({"version": 1, "ts": 0, "actions": []}, f)
    v = t.append(_df(spark, [(2, "b")]))
    assert v == 2  # retried on top of the interloper
    assert t.read().count() == 2


def test_overwrite_conflict_raises(spark, tmp_path):
    """An interloper committing AFTER overwrite read its base snapshot
    but BEFORE its commit must raise CommitConflict — the remove set was
    decided against a snapshot that is no longer current (the lost-update
    anomaly the base+1 commit rule exists to catch)."""
    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    t.append(_df(spark, [(1, "a")]))

    class Raced(VersionedTable):
        def _write_parts(self, df):
            # interloper lands version 1 inside our transaction window
            VersionedTable(self.spark, self.path).append(
                _df(self.spark, [(9, "interloper")])
            )
            return super()._write_parts(df)

    with pytest.raises(CommitConflict):
        Raced(spark, path).overwrite(_df(spark, [(2, "b")]))
    # the interloper's row survived; no stale overwrite landed on top
    assert {r["k"] for r in t.read().collect()} == {1, 9}


def test_merge_upsert_conflict_raises_instead_of_lost_update(spark, tmp_path):
    """The review-r04 OCC hole: writer B commits between A's snapshot
    read and A's commit. A's merge must CONFLICT — committing at
    _next_version() would silently resurrect pre-merge rows over B's
    update (both copies live, B's merge half-lost)."""
    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    t.append(_df(spark, [(1, "a"), (2, "b")]))

    class Raced(VersionedTable):
        def _write_parts(self, df):
            VersionedTable(self.spark, self.path).merge_upsert(
                _df(self.spark, [(2, "B-won")]), keys=["k"]
            )
            return super()._write_parts(df)

    with pytest.raises(CommitConflict):
        Raced(spark, path).merge_upsert(_df(spark, [(1, "A")]), keys=["k"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "B-won"}  # B's update intact, A never landed
    # and no duplicate keys were introduced
    assert t.read().count() == 2


def test_vacuum_drops_unreferenced_files_only(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.overwrite(_df(spark, [(3, "c")]))
    live_before = set(t.files_at())
    # default retention spares FRESH unreferenced files — they may belong
    # to a transaction that staged its parts but hasn't committed yet
    assert t.vacuum(retain_versions=1) == []
    deleted = t.vacuum(retain_versions=1, retention_sec=0.0)
    assert deleted and set(deleted).isdisjoint(live_before)
    assert t.read().count() == 1  # latest snapshot untouched
    with pytest.raises(Exception):
        t.read(version=0).collect()  # old snapshot gone, as documented


def test_log_stats_skipping_prunes_files_not_rows(spark, tmp_path):
    """Each append's add action carries footer min/max; a range read prunes
    whole files from the LOG (no listing, no footer reads) and still
    returns exactly the filtered rows."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    for lo in (0, 100, 200, 300):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"r{lo + i}") for i in range(100)], "k long, v string"
            ).coalesce(1)
        )
    stats = t.stats_at()
    assert len(stats) == 4 and all("k" in s for s in stats.values())

    pruned = t.prune_files({"k": (120, 180)})
    assert len(pruned) == 1  # only the [100,199] file survives

    got = t.read(where={"k": (120, 180)}).filter("k between 120 and 180")
    assert sorted(r["k"] for r in got.collect()) == list(range(120, 181))
    # unbounded side + missing-stats safety: half-open range
    assert len(t.prune_files({"k": (250, None)})) == 2


def test_optimize_zorder_commits_one_rewrite(spark, tmp_path):
    """OPTIMIZE ZORDER: one add+remove commit; both clustered columns prune
    from the log afterwards; pre-optimize version still time-travels."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.randrange(1000), float(i)) for i in range(4000)]
    t = VersionedTable(spark, str(tmp_path / "t"))
    for c in range(4):
        t.append(
            spark.createDataFrame(
                rows[c * 1000 : (c + 1) * 1000], "a long, b long, x double"
            ).coalesce(1)
        )
    pre = t.latest_version()
    n_pre = t.read().count()
    # ingestion order gives no b-locality: b never prunes before optimize
    assert len(t.prune_files({"b": (0, 49)})) == 4

    v = t.optimize(target_files=16, zorder_by=["a", "b"])
    assert v == pre + 1
    assert t.read().count() == n_pre
    assert t.read(version=pre).count() == n_pre  # time travel intact
    assert len(t.files_at(v)) == 16
    # the curve gives BOTH columns file-level locality in the log index
    assert len(t.prune_files({"a": (0, 249)})) <= 8
    assert len(t.prune_files({"b": (0, 49)})) <= 8


def test_merge_upsert_rewrites_only_overlapping_files(spark, tmp_path):
    """A merge whose batch keys fall inside one file's key range must leave
    every other file physically untouched (same names in the log), and the
    table must still read back exactly as a full merge would."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"old{lo + i}") for i in range(100)], "k long, v string"
            ).coalesce(1)
        )
    before = set(t.files_at())
    untouched_expected = {
        f for f, s in t.stats_at().items() if s["k"][0] != 100
    }
    assert len(untouched_expected) == 2

    t.merge_upsert(
        spark.createDataFrame(
            [(150, "new150"), (199, "new199"), (105, "new105")], "k long, v string"
        ),
        keys=["k"],
    )
    after = set(t.files_at())
    assert untouched_expected < after  # 0-99 and 200-299 files untouched
    assert not ({f for f in before if f not in untouched_expected} & after)

    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 300
    assert rows[150] == "new150" and rows[105] == "new105"
    assert rows[0] == "old0" and rows[250] == "old250" and rows[120] == "old120"


def test_append_txn_dedups_redelivered_batches(spark, tmp_path):
    """At-least-once delivery + txn actions = exactly-once: re-committing
    an already-landed (app, batch) is a no-op; a different app's same batch
    id is independent."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    assert t.append_txn(_df(spark, [(1, "a")]), "job1", 0) == 0
    assert t.append_txn(_df(spark, [(2, "b")]), "job1", 1) == 1
    # crash-replay of batch 1: dropped
    assert t.append_txn(_df(spark, [(2, "b")]), "job1", 1) is None
    assert t.append_txn(_df(spark, [(1, "a")]), "job1", 0) is None
    assert t.read().count() == 2
    # another writer app with its own sequence
    assert t.append_txn(_df(spark, [(9, "z")]), "job2", 0) is not None
    assert t.read().count() == 3
    assert t.last_txn("job1") == 1 and t.last_txn("job2") == 0


def test_changes_between_reads_only_the_delta(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))      # v0
    t.append(_df(spark, [(3, "c")]))                # v1
    t.append(_df(spark, [(4, "d"), (5, "e")]))      # v2
    got = {r["k"] for r in t.changes_between(0).collect()}
    assert got == {3, 4, 5}
    assert {r["k"] for r in t.changes_between(0, 1).collect()} == {3}
    assert t.changes_between(2).count() == 0
    # a rewrite commit poisons file-level provenance → loud error
    t.merge_upsert(_df(spark, [(1, "A")]), keys=["k"])  # v3 rewrites a file
    with pytest.raises(ValueError):
        t.changes_between(0)
    # but a range ending before the rewrite still works
    assert {r["k"] for r in t.changes_between(0, 2).collect()} == {3, 4, 5}


def test_versioned_append_stream_exactly_once(spark, tmp_path):
    """foreachBatch redelivery across a checkpoint-reset run lands each
    source row exactly once in the commit-log table."""
    from bi_gcp_stitch_repl_spark.streaming.jobs import versioned_append_stream

    src = tmp_path / "src"
    _df(spark, [(i, f"r{i}") for i in range(10)]).coalesce(1).write.parquet(
        str(src)
    )
    stream = spark.readStream.schema("k long, v string").parquet(str(src))
    t = VersionedTable(spark, str(tmp_path / "t"))
    q = versioned_append_stream(
        stream, t, app_id="rep1", checkpoint=str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)
    assert t.read().count() == 10

    # simulate redelivery: a FRESH checkpoint replays batch 0 with the same
    # app_id — the txn log, not the checkpoint, must reject the duplicate
    q2 = versioned_append_stream(
        spark.readStream.schema("k long, v string").parquet(str(src)),
        t,
        app_id="rep1",
        checkpoint=str(tmp_path / "ckpt2"),
    ).start()
    q2.awaitTermination(120)
    assert t.read().count() == 10


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    """A merge batch carrying a NEW column evolves the table: untouched
    files keep their old physical schema, readers see the superset with
    NULLs for pre-evolution rows, pruning still works, and a mismatched
    batch WITHOUT the flag fails loudly."""
    import pytest
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, float(i)) for i in range(100)], "k long, v double")
    )
    t.optimize(target_files=4, zorder_by=["k"])

    # keys chosen high so the [min,max] bound prunes the low-key files
    batch = spark.createDataFrame(
        [(90, 90.5, "eu"), (200, 200.0, "us")], "k long, v double, region string"
    )
    # safe default: schema drift without the flag is an error
    with pytest.raises(Exception):
        t.merge_upsert(batch, keys=["k"])

    v = t.merge_upsert(batch, keys=["k"], schema_evolution=True)
    out = t.read()
    assert set(out.columns) == {"k", "v", "region"}
    rows = {r["k"]: (r["v"], r["region"]) for r in out.collect()}
    assert len(rows) == 101
    assert rows[90] == (90.5, "eu")        # updated row carries the new column
    assert rows[200] == (200.0, "us")      # inserted row
    assert rows[7] == (7.0, None)          # untouched old file -> NULL fill
    # file pruning still applies: the commit rewrote a strict minority
    import json as _json
    import os as _os

    with open(_os.path.join(str(tmp_path / "t"), "_log", f"{v:012d}.json")) as f:
        actions = _json.load(f)["actions"]
    # the commit's column tracking records the evolved (superset) schema
    assert any(
        a.get("meta", {}).get("columns") == ["k", "region", "v"]
        for a in actions
    )
    assert len([a for a in actions if "remove" in a]) < 4
    # time travel to the pre-evolution version still reads the old schema
    assert set(t.read(v - 1).columns) == {"k", "v"}
    # plain appends enforce the (now evolved) schema too
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame([(500, 1.0)], "k long, v double"))


def test_parquet_table_merge_schema_evolution(spark, tmp_path):
    import pytest
    from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "p"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    batch = spark.createDataFrame([(2, "B", 9.0), (3, "c", 1.0)], "k long, s string, w double")
    with pytest.raises(Exception):
        t.merge_upsert(batch, keys=["k"])
    t.merge_upsert(batch, keys=["k"], schema_evolution=True)
    rows = {r["k"]: (r["s"], r["w"]) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("B", 9.0), 3: ("c", 1.0)}


def test_checkpoint_written_and_resolution_uses_it(spark, tmp_path):
    """Every Nth commit materializes a full-state checkpoint; snapshot
    resolution replays only the tail past it, so expiring the folded-in
    commit files leaves every current/later read working while time
    travel into the expired range fails loudly."""
    t = VersionedTable(spark, str(tmp_path / "t"), checkpoint_interval=5)
    for i in range(12):
        t.append(_df(spark, [(i, f"v{i}")]))
    # checkpoints landed at 5 and 10 (discovered by listing — no
    # _last_checkpoint pointer file here; that is an object-store
    # optimization, and an unread pointer is just a divergence risk)
    assert t._checkpoint_versions() == [5, 10]
    assert t.read().count() == 12
    assert t.read(version=7).count() == 8  # resolved from cp5 + tail 6..7

    deleted = t.expire_log()
    assert deleted == [f"{v:012d}.json" for v in range(11)]  # 0..10 folded in
    # fresh handle (no warm caches): current reads resolve from checkpoint
    t2 = VersionedTable(spark, str(tmp_path / "t"), checkpoint_interval=5)
    assert t2.read().count() == 12
    assert {r["k"] for r in t2.read(version=10).collect()} == set(range(11))
    # expired history fails loudly, not with a partial snapshot
    with pytest.raises(FileNotFoundError):
        t2.read(version=7)


def test_checkpoint_preserves_stats_schema_and_txn_state(spark, tmp_path):
    """The three kinds of log state all survive the checkpoint + expire
    round-trip: the stats index (file pruning), the schema_evolved flag
    (mergeSchema reads), and txn high-water marks (exactly-once dedup)."""
    t = VersionedTable(spark, str(tmp_path / "t"), checkpoint_interval=4)
    t.append(spark.createDataFrame([(i, float(i)) for i in range(50)], "k long, v double"))
    t.optimize(target_files=4, zorder_by=["k"])  # v1: clustered files
    t.append_txn(
        _evolve_batch(spark, [(100, 100.0, "eu")]),
        "app-a",
        batch_id=3,
        schema_evolution=True,
    )
    t.merge_upsert(
        _evolve_batch(spark, [(101, 101.0, "us")]), keys=["k"], schema_evolution=True
    )  # v3: evolution marker
    t.append(spark.createDataFrame([(102, 102.0, "x")], "k long, v double, region string"))
    assert t._checkpoint_versions() == [4]
    t.expire_log()

    t2 = VersionedTable(spark, str(tmp_path / "t"), checkpoint_interval=4)
    # txn mark survived: replaying batch 3 is still a no-op
    assert t2.append_txn(_evolve_batch(spark, [(100, 100.0, "dup")]), "app-a", batch_id=3) is None
    # schema flag survived: pre-evolution rows surface NULL region
    rows = {r["k"]: r["region"] for r in t2.read().collect()}
    assert rows[7] is None and rows[100] == "eu" and rows[102] == "x"
    # stats survived: a narrow range prunes to a strict file minority
    live = t2.files_at()
    pruned = t2.prune_files({"k": (0, 5)})
    assert 0 < len(pruned) < len(live)


def _evolve_batch(spark, rows):
    return spark.createDataFrame(rows, "k long, v double, region string")


def test_restore_rolls_back_metadata_only(spark, tmp_path):
    """RESTORE re-publishes an old snapshot as a new commit: content
    matches the target version, no data files move, the rolled-back state
    stays time-travelable, and a vacuumed target refuses."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))          # v0
    t.merge_upsert(_df(spark, [(2, "B")]), keys=["k"])  # v1
    t.overwrite(_df(spark, [(9, "z")]))                 # v2: the bad deploy
    before = set(os.listdir(tmp_path / "t"))
    v = t.restore(0)
    assert v == 3
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {(1, "a"), (2, "b")}
    assert set(os.listdir(tmp_path / "t")) == before  # metadata-only
    # the mistake is still auditable, and the restore is itself restorable
    assert {r["k"] for r in t.read(version=2).collect()} == {9}
    t.restore(2)
    assert {r["k"] for r in t.read().collect()} == {9}
    t.vacuum(retain_versions=1, retention_sec=0.0)
    with pytest.raises(FileNotFoundError):
        t.restore(0)


def test_concurrent_appends_all_land(spark, tmp_path):
    """Racing writers (separate handles, shared log) all commit: O_EXCL
    arbitration plus append retries serialize them without loss."""
    import threading

    path = str(tmp_path / "t")
    rows_per, writers = 3, 4
    errors = []

    def work(w):
        try:
            t = VersionedTable(spark, path)
            for i in range(rows_per):
                t.append(_df(spark, [(w * 100 + i, f"w{w}")]), max_retries=50)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=work, args=(w,)) for w in range(writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    t = VersionedTable(spark, path)
    assert t.latest_version() == writers * rows_per - 1  # gap-free versions
    got = {r["k"] for r in t.read().collect()}
    assert got == {w * 100 + i for w in range(writers) for i in range(rows_per)}


def test_change_feed_refuses_expired_range_and_history_lists(spark, tmp_path):
    """changes_between over a range that crosses expired commits raises
    instead of silently dropping rows; history() summarizes surviving
    commits newest-first."""
    t = VersionedTable(spark, str(tmp_path / "t"), checkpoint_interval=3)
    for i in range(5):
        t.append(_df(spark, [(i, f"v{i}")]))
    h = t.history()
    assert [e["version"] for e in h] == [4, 3, 2, 1, 0]
    assert all(e["n_add"] >= 1 and e["n_remove"] == 0 for e in h)
    # feed over intact tail works
    assert t.changes_between(3).count() == 1
    t.expire_log()  # folds 0..3 into the checkpoint
    # (0, 4] now crosses expired commits 1..3 -> loud failure
    with pytest.raises(FileNotFoundError):
        t.changes_between(0)
    # tail past the checkpoint still serves
    assert t.changes_between(3).count() == 1
    # no-new-commits case stays a silent empty feed
    assert t.changes_between(4).count() == 0


def test_cdc_feed_types_every_change_and_skips_compaction(spark, tmp_path):
    """With enable_cdc, merge/delete/overwrite commits record typed change
    files; changes_feed replays insert/update_pre/update_post/delete
    exactly, skips optimize commits, and a non-cdc rewrite still refuses."""
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"), enable_cdc=True)
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))       # v0 insert x3
    t.merge_upsert(_df(spark, [(2, "B"), (9, "z")]), keys=["k"])  # v1
    t.delete_matching(_df(spark, [(3, "ignored")]), keys=["k"])   # v2
    t.optimize(target_files=2)                                    # v3 noop
    t.append(_df(spark, [(7, "g")]))                              # v4

    feed = [
        (r["k"], r["v"], r["_change_type"])
        for r in t.changes_feed(0).collect()
    ]
    assert sorted(feed) == sorted(
        [
            (2, "b", "update_preimage"),
            (2, "B", "update_postimage"),
            (9, "z", "insert"),
            (3, "c", "delete"),
            (7, "g", "insert"),
        ]
    )
    # replaying the feed onto the v0 snapshot reproduces the final state
    state = {r["k"]: r["v"] for r in t.read(0).collect()}
    for k, v, ct in sorted(feed, key=lambda x: x[2]):  # order-insensitive here
        if ct == "delete":
            state.pop(k)
        elif ct in ("insert", "update_postimage"):
            state[k] = v
    assert state == {r["k"]: r["v"] for r in t.read().collect()}

    # overwrite records delete-all + insert-all
    t.overwrite(_df(spark, [(100, "new")]))
    ow = [
        (r["k"], r["_change_type"]) for r in t.changes_feed(4).collect()
    ]
    # pre-overwrite snapshot was {1, 2, 9, 7} -> 4 deletes + 1 insert
    assert sorted(c for _, c in ow) == ["delete"] * 4 + ["insert"]

    # a table that never enabled cdc still refuses typed feeds over merges
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    t2.append(_df(spark, [(1, "a")]))
    t2.merge_upsert(_df(spark, [(1, "A")]), keys=["k"])
    with pytest.raises(ValueError):
        t2.changes_feed(0).collect()


def test_version_at_time_resolves_commit_boundaries(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    ts = {e["version"]: e["ts"] for e in t.history()}
    assert t.version_at_time(ts[0]) == 0           # exactly at commit 0
    assert t.version_at_time((ts[1] + ts[2]) / 2) == 1
    assert t.version_at_time(ts[2] + 9999) == 2    # far future -> latest
    assert t.read(t.version_at_time(ts[1])).count() == 2
    with pytest.raises(FileNotFoundError):
        t.version_at_time(ts[0] - 1)               # before history began


def test_thousand_commit_log_plans_in_o_tail_time(spark, tmp_path):
    """100×-growth memory/planning envelope for the commit log: at ~1k
    commits, snapshot resolution must replay only the tail past the newest
    checkpoint — counted in actual commit-file loads (deterministic), plus
    a coarse wall-clock sanity bound. Synthetic commits are REAL log
    entries over real (pyarrow-written) part files, so the resolved
    snapshot also reads back correctly."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "big")
    interval = 50
    t = VersionedTable(spark, path, checkpoint_interval=interval)
    t.append(spark.createDataFrame([(0,)], "id long"))  # v1, real append
    # 1k+ commits without 1k Spark jobs: each commit adds one real tiny
    # parquet part via pyarrow and goes through the SAME _commit path
    # (including its automatic checkpoint cadence)
    n_commits = 1037
    first = t.latest_version()
    for v in range(first + 1, n_commits + 1):
        name = f"part-synth-{v:06d}.parquet"
        fpath = f"{path}/{name}"
        pq.write_table(pa.table({"id": pa.array([v], type=pa.int64())}), fpath)
        t._commit(
            v,
            [
                {"add": name, "stats": t._file_stats(fpath)},
                {"meta": {"columns": ["id"]}},
            ],
        )
    assert t.latest_version() == n_commits

    # fresh handle = cold caches = honest planning cost
    fresh = VersionedTable(spark, path, checkpoint_interval=interval)
    loads = []
    orig = fresh._actions

    def counting(version):
        loads.append(version)
        return orig(version)

    fresh._actions = counting
    t0 = _time.perf_counter()
    state = fresh._snapshot_state()
    plan_sec = _time.perf_counter() - t0
    # newest checkpoint sits at 1000; only the 37-commit tail replays
    tail = n_commits % interval
    assert len(loads) == tail, (len(loads), tail)
    assert min(loads) > n_commits - interval
    assert plan_sec < 2.0, plan_sec
    # every synthetic add + the real first append's file(s) survived replay
    assert len(state["files"]) == (n_commits - first) + len(
        [a for a in t._actions(first) if "add" in a]
    )

    # time travel plans from the checkpoint at/below the target, not v0
    loads.clear()
    fresh._snapshot_state(523)
    assert len(loads) == 23, len(loads)

    # and the snapshot actually reads: 1 real row + one per synthetic commit
    assert fresh.read().count() == (n_commits - first) + 1


@pytest.mark.slow
def test_contention_stress_eight_writers_twenty_commits(spark, tmp_path):
    """Contention stress (VERDICT r03 #8): 8 writers x 20 commits each
    hammering ONE table. The O_EXCL commit arbitration must yield a
    LINEAR, gap-free history (versions 0..159, one commit file each)
    with no lost commits and every row readable — and the checkpointing
    cadence must hold under the races (a fresh handle resolves the
    snapshot from the latest checkpoint, not the full log)."""
    import threading

    path = str(tmp_path / "t")
    rows_per, writers = 20, 8
    errors = []
    barrier = threading.Barrier(writers)

    def work(w):
        try:
            t = VersionedTable(spark, path)
            barrier.wait()  # maximize contention: all start together
            for i in range(rows_per):
                t.append(_df(spark, [(w * 1000 + i, f"w{w}")]), max_retries=400)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=work, args=(w,)) for w in range(writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors[:3]

    n_commits = writers * rows_per
    t = VersionedTable(spark, path)
    assert t.latest_version() == n_commits - 1  # linear, gap-free
    import os as os_mod

    log_files = [
        f for f in os_mod.listdir(os_mod.path.join(path, "_log"))
        if f.endswith(".json") and ".checkpoint." not in f
    ]
    assert len(log_files) == n_commits  # exactly one commit file per version
    # the checkpoint cadence held under contention
    assert any(".checkpoint." in f
               for f in os_mod.listdir(os_mod.path.join(path, "_log")))
    got = {r["k"] for r in t.read().collect()}
    assert got == {w * 1000 + i for w in range(writers) for i in range(rows_per)}
    assert t.read().count() == n_commits


def test_restore_rebases_column_tracking(spark, tmp_path):
    """Review-r04: restore re-bases the log's column tracking to the
    restored snapshot. Without it, a post-restore append of the NEWER
    column set passes the schema check with no evolution marker and a
    mixed-physical-schema snapshot reads without mergeSchema — silently
    dropping columns."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))  # columns [k, v]
    t.overwrite(
        spark.createDataFrame([(2, "b", 1.5)], "k long, v string, w double")
    )  # reset to [k, v, w]
    t.restore(0)
    # the wider batch must now FAIL the check (files are [k, v] again)...
    with pytest.raises(ValueError, match="schema drift"):
        t.append(
            spark.createDataFrame([(3, "c", 2.5)], "k long, v string, w double")
        )
    # ...or evolve explicitly, flipping readers to mergeSchema
    t.append(
        spark.createDataFrame([(3, "c", 2.5)], "k long, v string, w double"),
        schema_evolution=True,
    )
    got = {r["k"]: (r["v"], r["w"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 3: ("c", 2.5)}  # old rows NULL-filled


def test_read_of_future_version_raises(spark, tmp_path):
    """read(version=N) for a not-yet-committed N must raise, not silently
    clamp to latest — a polling consumer would read the wrong snapshot."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    with pytest.raises(FileNotFoundError, match="does not exist"):
        t.read(version=100)
    with pytest.raises(FileNotFoundError):
        t.files_at(3)


def test_change_feed_on_empty_table_raises_cleanly(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "empty"))
    with pytest.raises(FileNotFoundError, match="no commits"):
        t.changes_feed(from_version=0)
    with pytest.raises(FileNotFoundError, match="no commits"):
        t.changes_between(from_version=0)


def test_merge_prunes_files_on_date_keys(spark, tmp_path):
    """Review-r04: date/timestamp stats are ISO-encoded into the log so
    the skipping index works for date-keyed tables — previously the
    bounds check silently fell back to rewriting the WHOLE table on
    every merge."""
    import datetime

    t = VersionedTable(spark, str(tmp_path / "t"))
    for month in (1, 2, 3):
        t.append(
            spark.createDataFrame(
                [
                    (datetime.date(2024, month, d), f"m{month}d{d}")
                    for d in range(1, 11)
                ],
                "day date, v string",
            ).coalesce(1)
        )
    before = set(t.files_at())
    assert len(before) == 3
    t.merge_upsert(
        spark.createDataFrame(
            [(datetime.date(2024, 2, 5), "UPDATED")], "day date, v string"
        ),
        keys=["day"],
    )
    after = set(t.files_at())
    # the two non-February files survive physically untouched
    assert len(before & after) == 2
    got = {str(r["day"]): r["v"] for r in t.read().collect()}
    assert got["2024-02-05"] == "UPDATED" and len(got) == 30


def test_compact_small_packs_only_the_backlog(spark, tmp_path):
    """Incremental OPTIMIZE: only sub-threshold files are rewritten —
    the compacted big file survives by NAME (physically untouched), the
    small-file backlog bin-packs into one commit, rows are identical,
    the CDC/change feed skips the commit, re-running is a no-op, and
    time travel still sees the pre-compact layout."""
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"), enable_cdc=True)
    # one "large" file (500 rows) + a 5-append small-file backlog
    t.append(spark.range(500).selectExpr("id AS k", "CAST(id AS STRING) AS v").coalesce(1))
    big = set(t.files_at())
    assert len(big) == 1
    for i in range(5):
        t.append(
            spark.range(500 + i * 10, 510 + i * 10)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1)
        )
    pre_files = t.files_at()
    pre_version = t.latest_version()
    assert len(pre_files) == 6
    import os

    big_bytes = os.path.getsize(os.path.join(t.path, next(iter(big))))
    v = t.compact_small(min_file_bytes=big_bytes, target_file_bytes=1 << 30)
    assert v == pre_version + 1
    post = set(t.files_at())
    assert big <= post  # the large file was not rewritten
    assert len(post) == 2  # big + one packed file
    got = sorted(r["k"] for r in t.read().collect())
    assert got == sorted(list(range(500)) + [k for i in range(5) for k in range(500 + i * 10, 510 + i * 10)])
    # change feed skips the logical-noop commit
    assert t.changes_feed(v - 1).count() == 0
    # idempotent: one packed file + one big file, nothing under threshold x2
    assert t.compact_small(min_file_bytes=big_bytes, target_file_bytes=1 << 30) is None
    # time travel: the pre-compact snapshot still lists 6 files
    assert len(t.files_at(pre_version)) == 6
    assert t.read(pre_version).count() == 550


def test_compact_small_conflict_and_crash_leave_table_intact(spark, tmp_path):
    """compact_small under contention and crash: an interleaved append
    raises CommitConflict and the aborted run's staged parts are removed
    (the append's row survives; a re-run compacts cleanly); a hard crash
    AFTER parts were written but BEFORE commit leaves the snapshot
    untouched and vacuum reclaims the orphans."""
    import glob
    import os

    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    for i in range(3):
        t.append(_df(spark, [(i, f"v{i}")]).coalesce(1))

    class Raced(VersionedTable):
        def _write_parts(self, df):
            VersionedTable(self.spark, self.path).append(
                _df(self.spark, [(9, "interloper")])
            )
            return super()._write_parts(df)

    with pytest.raises(CommitConflict):
        Raced(spark, path).compact_small(min_file_bytes=1 << 30)
    assert {r["k"] for r in t.read().collect()} == {0, 1, 2, 9}
    v = t.compact_small(min_file_bytes=1 << 30)  # re-run on the fresh base
    assert v is not None and len(t.files_at()) == 1

    # crash path: parts written, commit never happens
    t.append(_df(spark, [(5, "v5")]).coalesce(1))
    files_before = set(t.files_at())

    class Crashed(VersionedTable):
        def _commit(self, version, actions):
            raise RuntimeError("power loss")

    with pytest.raises(RuntimeError):
        Crashed(spark, path).compact_small(min_file_bytes=1 << 30)
    assert set(t.files_at()) == files_before  # snapshot untouched
    assert {r["k"] for r in t.read().collect()} == {0, 1, 2, 9, 5}
    on_disk = {os.path.basename(p) for p in glob.glob(os.path.join(path, "part-*.parquet"))}
    orphans = on_disk - {f for v2 in range(t.latest_version() + 1) for f in t.files_at(v2)}
    assert orphans  # the crashed run's parts linger...
    t.vacuum(retention_sec=0.0)
    on_disk2 = {os.path.basename(p) for p in glob.glob(os.path.join(path, "part-*.parquet"))}
    assert not (orphans & on_disk2)  # ...until vacuum reclaims them
    assert {r["k"] for r in t.read().collect()} == {0, 1, 2, 9, 5}


def test_merge_upsert_key_frame_purges_and_cdc_records_delete(spark, tmp_path):
    """key_frame widens the delete scope (ADVICE r04): a frame key with no
    batch rows purges its existing rows in the same commit, CDC records
    them as 'delete', and an all-empty batch+frame is still a no-op."""
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"), enable_cdc=True)
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))  # v0
    v = t.merge_upsert(
        _df(spark, [(1, "A")]),
        keys=["k"],
        key_frame=_df(spark, [(1, "x"), (2, "y")]),
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "A", 3: "c"}  # 2 purged, 1 replaced, 3 untouched
    feed = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in t.changes_feed(v - 1).collect()
    )
    assert feed == [
        (1, "A", "update_postimage"),
        (1, "a", "update_preimage"),
        (2, "b", "delete"),
    ]
    # a batch key OUTSIDE the frame still replaces its existing row
    # (delete scope = frame ∪ batch keys), while frame-only key 1 purges
    t.merge_upsert(
        _df(spark, [(3, "C")]), keys=["k"], key_frame=_df(spark, [(1, "x")])
    )
    assert {r["k"]: r["v"] for r in t.read().collect()} == {3: "C"}
    # empty batch + empty frame: no commit
    v_before = t.latest_version()
    empty = _df(spark, []).limit(0)
    assert t.merge_upsert(empty, keys=["k"], key_frame=empty) == v_before

    # empty batch + NON-empty frame: a pure purge commit
    t.merge_upsert(empty, keys=["k"], key_frame=_df(spark, [(3, "x")]))
    assert t.read().count() == 0


def test_merge_and_delete_with_empty_inputs_are_noops(spark, tmp_path):
    """Review-r04: an empty batch/request-set must not rewrite the table
    (it degenerated to a full-table rewrite via the no-stats path)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    v_before = t.latest_version()
    files_before = set(t.files_at())
    empty = _df(spark, []).limit(0)
    assert t.merge_upsert(empty, keys=["k"]) == v_before
    assert t.delete_matching(empty, keys=["k"]) == 0
    assert t.latest_version() == v_before  # no commit happened
    assert set(t.files_at()) == files_before


def test_append_txn_twin_redelivery_cannot_double_land(spark, tmp_path):
    """Review r05: the txn dedup must hold even when the twin's commit
    lands AFTER this writer's pre-write check — the commit pins base+1,
    so the interleaving surfaces as CommitConflict and the recheck sees
    the twin's marker (a floating next-version commit let both land)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append_txn(_df(spark, [(1, "a")]), "app", 1)
    # simulate the race: monkeypatch _commit to have a twin land batch 2
    # between this writer's check and its own commit attempt
    real_commit = t._commit
    state = {"raced": False}

    def racing_commit(version, actions):
        if not state["raced"]:
            state["raced"] = True
            twin = VersionedTable(spark, str(tmp_path / "t"))
            real_commit2 = twin._commit
            twin._commit = real_commit2  # twin commits normally
            assert twin.append_txn(_df(spark, [(9, "twin")]), "app", 2) is not None
        return real_commit(version, actions)

    t._commit = racing_commit
    out = t.append_txn(_df(spark, [(9, "mine")]), "app", 2)
    t._commit = real_commit
    assert out is None  # lost to the twin -> no-op, NOT a second landing
    rows = [r for r in t.read().collect() if r["k"] == 9]
    assert len(rows) == 1 and rows[0]["v"] == "twin"


def test_overwrite_txn_checked_against_pinned_base(spark, tmp_path):
    """Review r05: overwrite's idempotency marker is checked against the
    SAME snapshot the commit pins; a twin landing in the window raises
    CommitConflict instead of double-applying the replace."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    assert t.overwrite(_df(spark, [(2, "x")]), txn=("fold", 6)) is not None
    # replay of the same (app, batch) is a no-op
    assert t.overwrite(_df(spark, [(3, "y")]), txn=("fold", 6)) is None
    assert {r["k"] for r in t.read().collect()} == {2}


def test_timestamp_stats_prune_is_tz_safe(spark, tmp_path):
    """Review r05: pyarrow logs tz-aware UTC timestamp stats while Spark
    bounds collect naive — the encodings must normalize to one form or a
    file CONTAINING the key gets pruned (merge then duplicates instead
    of replacing)."""
    import datetime

    ts = datetime.datetime(2026, 6, 1, 12, 0, 0)
    df = spark.createDataFrame([(ts, "old")], "ts timestamp, v string")
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(df)
    # same key, new value: the merge must REPLACE, not append a duplicate
    t.merge_upsert(
        spark.createDataFrame([(ts, "new")], "ts timestamp, v string"),
        keys=["ts"],
    )
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["v"] == "new"


def test_expire_log_horizon_is_checkpoint_aligned(spark, tmp_path):
    """Review r05: expire_log must never delete commits a RETAINED
    version still replays through — the horizon clamps to a checkpoint,
    and every surviving version stays resolvable."""
    t = VersionedTable(spark, str(tmp_path / "t"), checkpoint_interval=10)
    for i in range(26):
        t.append(_df(spark, [(i, "x")]))
    t.expire_log(retain_versions=8)
    # raw horizon would be 20-8=12 (killing 11-12, needed by 13..19);
    # aligned horizon is checkpoint 10, so every version >= 10 resolves
    for v in range(10, 26):
        assert t.files_at(v)  # no FileNotFoundError
    # and vacuum over a window reaching into the retained range works
    t.vacuum(retain_versions=10, retention_sec=0.0)


def test_vacuum_rejects_retain_zero_and_sweeps_orphans(spark, tmp_path):
    """Review r05: retain_versions=0 would slice vs[-0:] == everything
    (keeping ALL files — the opposite of the ask) → loud error; crash-
    orphaned _tmp-* staging and _tmp-commit-* log scratch are swept once
    past the grace window."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError):
        t.vacuum(retain_versions=0)
    # plant crash orphans
    orphan_dir = os.path.join(t.path, "_tmp-deadbeef")
    os.makedirs(orphan_dir)
    open(os.path.join(orphan_dir, "part-x.parquet"), "w").write("junk")
    orphan_commit = os.path.join(t.log_path, "_tmp-commit-deadbeef")
    open(orphan_commit, "w").write("{}")
    deleted = t.vacuum(retain_versions=1, retention_sec=0.0)
    assert "_tmp-deadbeef" in deleted and "_tmp-commit-deadbeef" in deleted
    assert not os.path.exists(orphan_dir)
    assert not os.path.exists(orphan_commit)
    assert t.read().count() == 1  # live data untouched


def test_changes_between_future_upper_bound_raises(spark, tmp_path):
    """Review r05: a future to_version must raise (like _snapshot_state),
    not silently clamp — a clamped feed lets a consumer advance its
    cursor past commits that land later and lose them forever."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    with pytest.raises(FileNotFoundError):
        t.changes_between(0, 15)


def test_changes_between_skips_compaction_commits(spark, tmp_path):
    """Review r05: routine compaction (logical_noop re-layouts) must not
    wedge incremental consumers — changes_between skips them exactly as
    changes_feed does, and the appended rows before/after still feed."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    v1 = t.append(_df(spark, [(2, "b")]))
    t.optimize(target_files=1)  # logical_noop rewrite
    t.append(_df(spark, [(3, "c")]))
    delta = t.changes_between(v1)  # spans the compaction commit
    assert {r["k"] for r in delta.collect()} == {3}


def test_prune_stats_string_column_utc_suffix_not_stripped():
    """ADVICE r05: the legacy-stats '+00:00' strip must only apply when the
    query bound is datetime-derived. A STRING column may legitimately hold
    ISO strings ending in '+00:00'; stripping the stat would sort it below
    an exact-match bound and wrongly prune the file (merge then silently
    duplicates keys; delete misses rows)."""
    import datetime

    val = "2024-01-01T00:00:00+00:00"
    stats = {"f1.parquet": {"ts_str": (val, val)}}
    # exact-match STRING bound: the file must survive
    kept = VersionedTable._prune_from_stats(stats, {"ts_str": (val, val)})
    assert kept == ["f1.parquet"]
    # datetime bound against a legacy tz-aware stat string: the strip DOES
    # apply, so the naive-encoded bound still matches the file
    dt = datetime.datetime(2024, 1, 1, 0, 0, 0)
    kept = VersionedTable._prune_from_stats(stats, {"ts_str": (dt, dt)})
    assert kept == ["f1.parquet"]
    # and a genuinely out-of-range datetime bound still prunes
    lo = datetime.datetime(2030, 1, 1)
    assert VersionedTable._prune_from_stats(stats, {"ts_str": (lo, None)}) == []


def test_versioned_merge_upsert_null_keys_idempotent(spark, tmp_path):
    """ADVICE r05: VersionedTable.merge_upsert must match NULL keys
    null-safely like ParquetTable.merge_upsert — behind the auto-detecting
    merge_table seam the two sinks must not diverge on idempotency."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    batch = spark.createDataFrame([(None, "x"), (1, "a")], "k long, v string")
    t.merge_upsert(batch, keys=["k"])
    t.merge_upsert(batch, keys=["k"])  # re-run: must be a no-op
    rows = {(r["k"], r["v"]) for r in t.read().collect()}
    assert rows == {(None, "x"), (1, "a")}
    # the NULL-key row is replaceable, not just deduped
    t.merge_upsert(
        spark.createDataFrame([(None, "y")], "k long, v string"), keys=["k"]
    )
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {
        (None, "y"), (1, "a"),
    }


def test_versioned_delete_matching_null_keys(spark, tmp_path):
    """NULL-key delete requests must erase NULL-key rows (null-safe match,
    pruning disabled when the request set carries a NULL)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(None, "x"), (1, "a"), (2, "b")], "k long, v string")
    )
    n = t.delete_matching(
        spark.createDataFrame([(None,)], "k long"), keys=["k"]
    )
    assert n == 1
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {(1, "a"), (2, "b")}


def test_vacuum_sweeps_orphaned_checkpoint_temps(spark, tmp_path):
    """ADVICE r05: a writer dying between json.dump and os.replace in
    _write_checkpoint leaks '_tmp-cp-*' in the log dir forever — vacuum's
    log-side sweep must cover every '_tmp-' temp class, not just
    '_tmp-commit-*'."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    orphan_cp = os.path.join(t.log_path, "_tmp-cp-deadbeef")
    open(orphan_cp, "w").write("{}")
    deleted = t.vacuum(retain_versions=1, retention_sec=0.0)
    assert "_tmp-cp-deadbeef" in deleted
    assert not os.path.exists(orphan_cp)
    assert t.read().count() == 1


def test_expired_pre_checkpoint_version_raises_not_empty(spark, tmp_path):
    """Resolving a version OLDER than every surviving checkpoint after its
    commits were expired must raise — the old early-return handed back a
    silently-EMPTY snapshot ('version N was empty') for history that is
    simply gone."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.range(i * 10, i * 10 + 5).selectExpr("id AS k"))
    t._write_checkpoint(2)
    t.expire_log(retain_versions=0)  # deletes commits 0..2; checkpoint stays
    assert t.read(2).count() == 15  # at-checkpoint version still resolves
    with pytest.raises(FileNotFoundError):
        t.files_at(1)  # pre-checkpoint history expired: loud, not empty
    with pytest.raises(FileNotFoundError):
        t.read(0)


def test_version_at_time_survives_non_monotone_commit_clocks(spark, tmp_path):
    """Commit timestamps are writers' wall clocks: a later version can
    carry an EARLIER ts (NTP step-back, multi-writer skew). The old scan
    broke at the first ts > target and silently skipped the newer valid
    version."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.range(i, i + 1).selectExpr("id AS k"))
    # rewrite the recorded clocks: v0=100.0, v1=200.5 (skewed AHEAD), v2=150.0
    for v, ts in [(0, 100.0), (1, 200.5), (2, 150.0)]:
        p = os.path.join(t.log_path, f"{v:012d}.json")
        with open(p) as f:
            commit = json.load(f)
        commit["ts"] = ts
        with open(p, "w") as f:
            json.dump(commit, f)
    # target 160: v2 (ts 150) is the newest at-or-before commit — the old
    # break at v1 (ts 200.5 > 160) returned v0
    assert t.version_at_time(160.0) == 2
    assert t.version_at_time(100.0) == 0
    with pytest.raises(FileNotFoundError):
        t.version_at_time(99.0)


def test_append_retry_schema_failure_aborts_staged_parts(spark, tmp_path):
    """A retry attempt can raise AFTER part files were staged (a concurrent
    overwrite re-based the columns between attempts): the staged parts
    must be aborted, not leaked until some future vacuum."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(spark.range(3).selectExpr("id AS k"))
    calls = {"commit": 0, "check": 0}
    real_commit, real_check = t._commit, t._check_schema

    def flaky_commit(v, actions):
        calls["commit"] += 1
        if calls["commit"] == 1:
            raise CommitConflict("lost the race")
        return real_commit(v, actions)

    def flaky_check(df, schema_evolution, state=None, verb="writing to"):
        calls["check"] += 1
        if calls["check"] >= 2:  # the re-check after the lost race
            raise ValueError("columns re-based by a concurrent overwrite")
        return real_check(df, schema_evolution, state=state, verb=verb)

    t._commit = flaky_commit
    t._check_schema = flaky_check
    try:
        with pytest.raises(ValueError):
            t.append(spark.range(3, 6).selectExpr("id AS k"))
    finally:
        t._commit, t._check_schema = real_commit, real_check
    live = {os.path.join(str(tmp_path / "t"), f) for f in t.files_at()}
    on_disk = {
        os.path.join(r, f)
        for r, _, fs in os.walk(str(tmp_path / "t"))
        for f in fs
        if f.endswith(".parquet") and "_commits" not in r and "_cdc" not in r
    }
    assert on_disk == live, "staged parts leaked after a retry-attempt raise"
    assert t.read().count() == 3  # table unchanged


def _jobs_of(spark, group, fn):
    """(result, Spark jobs) of ``fn()`` run under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_and_delete_job_counts(spark, tmp_path):
    """Each merge or erasure takes ONE eager snapshot of its batch (plus
    the key frame) or request set, with the key bounds observed on that
    same job, and reads its files without a schema-inference job: a merge
    is the snapshot, the broadcast of its key set and the write; an empty
    batch is a job-free no-op."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    batch = spark.sql("SELECT * FROM VALUES (1L, 'A'), (4L, 'D') AS t(k, v)")
    frame = spark.sql("SELECT * FROM VALUES (2L, 'x'), (2L, 'y') AS t(k, v)")
    assert _jobs_of(spark, "merge", lambda: t.merge_upsert(batch, keys=["k"])) == (1, 3)
    assert _jobs_of(
        spark, "merge_kf", lambda: t.merge_upsert(batch, keys=["k"], key_frame=frame)
    ) == (2, 3)
    assert _jobs_of(spark, "delete", lambda: t.delete_matching(batch, keys=["k"])) == (2, 6)
    assert sorted(tuple(r) for r in t.read().collect()) == [(3, "c")]
    assert _jobs_of(spark, "read", t.read)[1] == 0
    empty = batch.limit(0)
    assert _jobs_of(spark, "merge_empty", lambda: t.merge_upsert(empty, keys=["k"])) == (
        t.latest_version(), 0,
    )


def _counted(spark, df):
    """``df`` through an identity ``mapInArrow`` and an accumulator of the
    rows it passed: how often (in rows) the frame was evaluated."""
    acc = spark.sparkContext.accumulator(0)

    def identity(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield b

    return df.mapInArrow(identity, df.schema), acc


def test_merge_evaluates_batch_and_key_frame_once(spark, tmp_path):
    """The batch and the key frame are each evaluated once per merge —
    by the one snapshot job — so the bounds, the anti-join and the CDC
    records all see the same rows; the batch keeps its own key type when
    the frame's is wider."""
    t = VersionedTable(spark, str(tmp_path / "t"), enable_cdc=True)
    t.append(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"))
    batch, n_batch = _counted(
        spark, spark.createDataFrame([(1, "A"), (4, "D")], "k int, v string")
    )
    frame, n_frame = _counted(spark, _df(spark, [(2, "x"), (2, "y")]))
    v = t.merge_upsert(batch, keys=["k"], key_frame=frame)
    assert (n_batch.value, n_frame.value) == (2, 2)
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "A"), (3, "c"), (4, "D")]
    assert t.read().schema["k"].dataType.simpleString() == "int"
    feed = {(r["k"], r["_change_type"]) for r in t.changes_feed(v - 1, v).collect()}
    assert feed == {
        (1, "update_preimage"), (1, "update_postimage"), (2, "delete"), (4, "insert"),
    }


def test_append_if_absent_is_null_safe_and_idempotent(spark, tmp_path):
    """``append_if_absent`` appends the batch rows (deduplicated on the
    keys) whose key is not live yet, NULL keys included, as one add-only
    commit, and returns that delta; an identical re-run appends nothing."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    batch = _df(spark, [(1, "a"), (1, "a2"), (None, "n")])
    assert t.append_if_absent(batch, keys=["k"]).count() == 2
    assert t.latest_version() == 0
    files = set(t.files_at())
    assert t.append_if_absent(batch, keys=["k"]).count() == 0
    assert files <= set(t.files_at()) and t.read().count() == 2
    delta = t.append_if_absent(_df(spark, [(None, "m"), (2, "b")]), keys=["k"])
    assert [tuple(r) for r in delta.collect()] == [(2, "b")]
    keys = [r["k"] for r in t.read().collect()]
    assert keys.count(None) == 1 and sorted(k for k in keys if k is not None) == [1, 2]


def test_merge_duplicate_keys_in_batch_and_key_frame(spark, tmp_path):
    """Duplicate keys on the delete side change nothing: every batch row
    lands, every existing row of a batch or frame key goes, once."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    t.merge_upsert(
        _df(spark, [(1, "A1"), (1, "A2"), (5, "E"), (5, "E")]),
        keys=["k"],
        key_frame=_df(spark, [(2, "x"), (2, "y"), (1, "z")]),
    )
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, "A1"), (1, "A2"), (3, "c"), (4, "d"), (5, "E"), (5, "E"),
    ]
    # a key_frame-only purge still deletes, duplicates and all
    t.merge_upsert(_df(spark, []), keys=["k"], key_frame=_df(spark, [(4, "x"), (4, "x")]))
    assert sorted(r["k"] for r in t.read().collect()) == [1, 1, 3, 5, 5]
    assert t.delete_matching(_df(spark, [(5, "x"), (5, "y")]), keys=["k"]) == 2


def test_merge_null_key_disables_pruning(spark, tmp_path):
    """Parquet min/max stats skip NULLs, so a file holding a NULL-key row
    can sit outside the batch's [lo, hi]: a NULL ``keys[0]`` in the batch
    touches every file, and the NULL-key row is replaced, not doubled."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(None, "n"), (50, "x")]))
    files = set(t.files_at())
    assert len(files) >= 2
    v = t.merge_upsert(_df(spark, [(None, "N"), (1, "A")]), keys=["k"])
    assert files.isdisjoint(t.files_at(v))
    assert sorted(tuple(r) for r in t.read().collect() if r["k"] is not None) == [
        (1, "A"), (50, "x"),
    ]
    assert [r["v"] for r in t.read().collect() if r["k"] is None] == ["N"]


def test_read_schema_equals_inference_without_a_job(spark, tmp_path):
    """``read()`` takes its schema from the parquet footer Spark wrote
    instead of running an inference job, and equals the inferred read —
    schema, nullability and rows — on a table of mixed types, on one
    whose append wrote its columns in another order, and on an evolved
    table (read with mergeSchema, as before)."""
    mixed = spark.sql(
        "SELECT 1L AS k, CAST(1.5 AS DECIMAL(10, 2)) AS d, DATE'2024-01-02' AS dt,"
        " TIMESTAMP'2024-01-02 03:04:05' AS ts,"
        " TIMESTAMP_NTZ'2024-01-02 03:04:05' AS tn,"
        " array(named_struct('a', 1, 'b', 'x')) AS arr, map('m', 2.5D) AS mp,"
        " X'0102' AS bin, true AS b, CAST(NULL AS STRING) AS s"
    )
    t1 = VersionedTable(spark, str(tmp_path / "mixed"))
    t1.append(mixed)
    t2 = VersionedTable(spark, str(tmp_path / "reordered"))
    t2.append(_df(spark, [(1, "a")]))
    t2.append(spark.createDataFrame([("b", 2)], "v string, k long"))
    t3 = VersionedTable(spark, str(tmp_path / "evolved"))
    t3.append(_df(spark, [(1, "a")]))
    t3.merge_upsert(
        spark.createDataFrame([(2, "b", 2.0)], "k long, v string, w double"),
        keys=["k"], schema_evolution=True,
    )
    for t, evolved, jobs in ((t1, False, 0), (t2, False, 0), (t3, True, 1)):
        paths = [os.path.join(t.path, f) for f in t.files_at()]
        reader = spark.read.option("mergeSchema", "true") if evolved else spark.read
        inferred = reader.parquet(*paths)
        got, n_jobs = _jobs_of(spark, f"read_{os.path.basename(t.path)}", t.read)
        assert n_jobs == jobs
        assert got.schema == inferred.schema
        assert sorted(map(str, got.collect())) == sorted(map(str, inferred.collect()))
