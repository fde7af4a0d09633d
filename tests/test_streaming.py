"""Structured Streaming jobs: AvailableNow runs over the events fixture,
watermarked tumbling/session windows, and the foreachBatch incremental
merge (the reference's S4 replication as a stream)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bi_gcp_stitch_repl_spark.queries.catalog import tables
from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable
from bi_gcp_stitch_repl_spark.streaming import jobs

from .conftest import SF_SMOKE

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos-as-long fixture
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def run_available_now(stream_df, tmp_path, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_counts_stream_matches_batch(spark, tmp_path):
    events = jobs.events_stream(spark, f"{SF_SMOKE}/events.parquet", EVENTS_SCHEMA)
    run_available_now(jobs.tumbling_counts(events), tmp_path, "tumbling")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("select * from tumbling").collect()
    }
    (batch_events,) = tables(spark, SF_SMOKE, "events")
    expect = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in (
            batch_events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("total_value"),
            )
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        ).collect()
    }
    assert got == expect


def test_session_counts_stream_matches_batch(spark, tmp_path):
    """Native streaming session_window must reproduce the batch
    gaps-and-islands sessionization exactly: same (user, start, last-event,
    count) multiset, where session_window's end = last event ts + gap."""
    from bi_gcp_stitch_repl_spark.queries.catalog import queries

    events = jobs.events_stream(spark, f"{SF_SMOKE}/events.parquet", EVENTS_SCHEMA)
    run_available_now(jobs.session_counts(events), tmp_path, "sessions")
    rows = spark.sql("select * from sessions").collect()
    assert len(rows) > 0
    assert all(r["session_end"] >= r["session_start"] for r in rows)
    # every event lands in exactly one session
    assert sum(r["n_events"] for r in rows) == 1000

    import datetime

    gap = datetime.timedelta(minutes=30)
    got = {
        (r["user_id"], r["session_start"], r["session_end"] - gap, r["n_events"])
        for r in rows
    }
    batch = queries()["st_session_windows"](spark, SF_SMOKE).collect()
    expect = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch
    }
    assert got == expect


def test_incremental_merge_stream_replicates_and_is_idempotent(spark, tmp_path):
    events = jobs.events_stream(spark, f"{SF_SMOKE}/events.parquet", EVENTS_SCHEMA)
    table = ParquetTable(spark, str(tmp_path / "replica"))
    writer = jobs.incremental_merge_stream(
        events.select("event_id", "user_id", "event_type", "value"),
        table,
        keys=["event_id"],
        checkpoint=str(tmp_path / "ckpt_merge"),
    )
    q = writer.start()
    q.awaitTermination(120)
    assert table.read().count() == 1000

    # second AvailableNow run: checkpoint says nothing new → replica unchanged
    q2 = jobs.incremental_merge_stream(
        jobs.events_stream(spark, f"{SF_SMOKE}/events.parquet", EVENTS_SCHEMA).select(
            "event_id", "user_id", "event_type", "value"
        ),
        table,
        keys=["event_id"],
        checkpoint=str(tmp_path / "ckpt_merge"),
    ).start()
    q2.awaitTermination(120)
    assert table.read().count() == 1000


def test_running_user_totals_stateful(spark, tmp_path):
    """applyInPandasWithState: final per-user state equals the batch rollup."""
    events = jobs.events_stream(spark, f"{SF_SMOKE}/events.parquet", EVENTS_SCHEMA)
    q = (
        jobs.running_user_totals(events.select("user_id", "event_id", "value"))
        .writeStream.format("memory")
        .queryName("totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_totals"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per user = final state
    got = {
        r["user_id"]: r
        for r in spark.sql(
            """
            select * from (
              select *, row_number() over (partition by user_id order by n_events desc) rn
              from totals
            ) where rn = 1
            """
        ).collect()
    }
    (batch,) = tables(spark, SF_SMOKE, "events")
    expect = {
        r["user_id"]: r
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("event_id").alias("last_event_id"),
        )
        .collect()
    }
    assert set(got) == set(expect)
    for uid, e in expect.items():
        assert got[uid]["n_events"] == e["n_events"]
        assert got[uid]["last_event_id"] == e["last_event_id"]


def test_user_ledger_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas: final per-user ledger equals the batch
    rollup (same contract as the applyInPandasWithState twin)."""
    pytest.importorskip(
        "google.protobuf", reason="transformWithState needs protobuf (not baked in)"
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        events = jobs.events_stream(spark, f"{SF_SMOKE}/events.parquet", EVENTS_SCHEMA)
        q = (
            jobs.user_ledger_tws(events.select("user_id", "event_id", "value"))
            .writeStream.format("memory")
            .queryName("ledger_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_ledger_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is not None:
            spark.conf.set(provider_key, prev)
        else:
            spark.conf.unset(provider_key)
    got = {
        r["user_id"]: r
        for r in spark.sql(
            """
            select * from (
              select *, row_number() over (partition by user_id order by n_events desc) rn
              from ledger_tws
            ) where rn = 1
            """
        ).collect()
    }
    (batch,) = tables(spark, SF_SMOKE, "events")
    expect = {
        r["user_id"]: r
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("event_id").alias("last_event_id"),
        )
        .collect()
    }
    assert set(got) == set(expect)
    for uid, e in expect.items():
        assert got[uid]["n_events"] == e["n_events"]
        assert got[uid]["last_event_id"] == e["last_event_id"]


def test_dedup_stream_drops_replayed_rows(spark, tmp_path):
    """A doubled source (every event twice — the at-least-once replay case)
    comes out exactly-once per event_id."""
    (batch_events,) = tables(spark, SF_SMOKE, "events")
    doubled_dir = tmp_path / "doubled"
    batch_events.unionByName(batch_events).coalesce(1).write.parquet(
        str(doubled_dir)
    )
    schema = spark.read.parquet(str(doubled_dir)).schema
    stream = spark.readStream.schema(schema).parquet(str(doubled_dir))
    q = (
        jobs.dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select event_id from dedup")
    n_distinct = batch_events.select("event_id").distinct().count()
    assert got.count() == n_distinct
    assert got.distinct().count() == n_distinct


def test_click_attribution_stream_matches_batch(spark, tmp_path):
    events = jobs.events_stream(spark, f"{SF_SMOKE}/events.parquet", EVENTS_SCHEMA)
    q = (
        jobs.click_attribution_stream(events)
        .writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attrib"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("select * from attrib").collect()
    }
    (be,) = tables(spark, SF_SMOKE, "events")
    clicks = be.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = be.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    expect = {
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") < F.col("purchase_ts"))
            & (F.col("click_ts") >= F.expr("purchase_ts - INTERVAL 30 minutes")),
        ).collect()
    }
    assert got == expect and len(got) > 0


def test_near_dedup_stream_probes_and_commits(spark, tmp_path):
    """Streaming near-dup: two JSONL micro-batch files land; the stream
    probes + commits per batch, pair detection spans batches (doc 11 in
    load 2 is a near-copy of doc 1 from load 1), and a full re-run over
    the same source is a no-op (offset checkpoint + idempotent appends)."""
    import json

    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable
    from bi_gcp_stitch_repl_spark.streaming.jobs import near_dedup_stream

    base = "the quick brown fox jumps over the lazy dog again and again"
    src = tmp_path / "docs"
    src.mkdir()
    (src / "load1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": base},
                {"doc_id": 2, "text": "completely different words entirely here"},
            ]
        )
    )
    idx, pairs_p, ck = (
        str(tmp_path / "idx"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ck"),
    )

    def run():
        docs = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = near_dedup_stream(docs, idx, pairs_p, ck).start()
        q.awaitTermination(120)

    run()
    (src / "load2.jsonl").write_text(
        json.dumps({"doc_id": 11, "text": base + " zz"})
    )
    run()
    got = {
        (r["id_a"], r["id_b"])
        for r in VersionedTable(spark, pairs_p).read().collect()
    }
    assert got == {(1, 11)}  # the near-copy pair and nothing else
    # index holds bands for all three docs
    idx_docs = {
        r["doc_id"] for r in VersionedTable(spark, idx).read().collect()
    }
    assert idx_docs == {1, 2, 11}
    n_before = VersionedTable(spark, pairs_p).read().count()
    run()  # replay: no new files -> no-op
    assert VersionedTable(spark, pairs_p).read().count() == n_before


def test_web_corpus_stream_url_dedup_decon_and_replay(spark, tmp_path):
    """Streaming web front (r06 verdict #7): per micro-batch URL
    canonicalize + cross-batch URL dedup against the persisted index +
    HTML extraction + bloom->exact decontamination; exactly-once —
    a full fresh-checkpoint replay over the same source appends nothing
    (txn markers + the out-before-index commit order)."""
    import json

    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable
    from bi_gcp_stitch_repl_spark.streaming.jobs import web_corpus_stream

    gram = "alpha beta gamma delta epsilon zeta eta theta"
    bench = spark.createDataFrame(
        [(900, f"bench doc holds {gram} verbatim")], "doc_id long, text string"
    )

    def page(i, url, text):
        return {"doc_id": i, "url": url,
                "html": f"<html><body><p>{text}</p></body></html>"}

    src = tmp_path / "crawl"
    src.mkdir()
    (src / "load1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                page(1, "HTTPS://WWW.EXAMPLE.COM:443/a?utm_source=x&id=1",
                     "clean page one words"),
                page(2, "https://other.example/b", "another clean page"),
                page(3, "https://third.example/c",
                     f"bad page quoting {gram} wholesale"),
            ]
        )
    )
    urls_p, out_p, ck = (
        str(tmp_path / "urls"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )

    def run(checkpoint):
        crawl = (
            spark.readStream.schema("doc_id long, url string, html string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = web_corpus_stream(crawl, bench, urls_p, out_p, checkpoint).start()
        q.awaitTermination(120)

    run(ck)
    out1 = VersionedTable(spark, out_p).read()
    assert {r["doc_id"] for r in out1.collect()} == {1, 2}  # 3 decontaminated
    row1 = out1.filter("doc_id = 1").first()
    assert row1["url_canonical"] == "https://example.com/a?id=1"
    assert row1["text"] == "clean page one words"  # extracted, tag-free

    # load 2: doc 11 re-crawls doc 1's resource under a different raw
    # spelling (param order flipped); doc 12 is genuinely new
    (src / "load2.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                page(11, "https://example.com/a?id=1&utm_campaign=y",
                     "recrawl that must be dropped"),
                page(12, "https://fresh.example/d", "new clean page"),
            ]
        )
    )
    run(ck)
    assert {r["doc_id"] for r in VersionedTable(spark, out_p).read().collect()} == {
        1, 2, 12,
    }

    # crash-replay: a FRESH checkpoint re-delivers every batch; the out
    # table must not grow (txn dedup + index probe make replays no-ops)
    n = VersionedTable(spark, out_p).read().count()
    run(str(tmp_path / "ck2"))
    assert VersionedTable(spark, out_p).read().count() == n


def test_web_corpus_stream_domain_cap_across_batches_exactly_once(
    spark, tmp_path
):
    """Streaming per-domain quota (r7 verdict #5): the cap binds ACROSS
    micro-batches via persisted per-domain running counts — a domain
    that filled its quota in batch 1 contributes nothing from batch 2 —
    and a fresh-checkpoint full replay never double-applies the counts
    (increments are txn-marked and committed between the out sink and
    the url index)."""
    import json

    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable
    from bi_gcp_stitch_repl_spark.streaming.jobs import web_corpus_stream

    bench = spark.createDataFrame(
        [(900, "completely unrelated benchmark text")],
        "doc_id long, text string",
    )

    def page(i, url):
        return {"doc_id": i, "url": url,
                "html": f"<html><body><p>doc number {i} words</p></body></html>"}

    src = tmp_path / "crawl"
    src.mkdir()
    # batch 1: heavy.example has 3 docs (cap=2 -> keep 2), small.example 1
    (src / "load1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                page(1, "https://heavy.example/p1"),
                page(2, "https://heavy.example/p2"),
                page(3, "https://heavy.example/p3"),
                page(4, "https://small.example/q1"),
            ]
        )
    )
    urls_p, out_p, counts_p = (
        str(tmp_path / "urls"),
        str(tmp_path / "out"),
        str(tmp_path / "counts"),
    )

    def run(checkpoint):
        crawl = (
            spark.readStream.schema("doc_id long, url string, html string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = web_corpus_stream(
            crawl, bench, urls_p, out_p, checkpoint,
            domain_cap=2, domain_counts_path=counts_p,
        ).start()
        q.awaitTermination(120)

    run(str(tmp_path / "ck"))
    out1 = VersionedTable(spark, out_p).read()
    # keep-first by doc_id: 1,2 kept; 3 capped; 4 under cap
    assert {r["doc_id"] for r in out1.collect()} == {1, 2, 4}
    counts = {
        r["domain"]: r["n"]
        for r in VersionedTable(spark, counts_p)
        .read().groupBy("domain").agg(F.sum("n").alias("n")).collect()
    }
    assert counts == {"heavy.example": 2, "small.example": 1}

    # batch 2: heavy.example is ALREADY full -> both new docs capped;
    # small.example has room for exactly one more (doc 13 by id order)
    (src / "load2.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                page(11, "https://heavy.example/p4"),
                page(12, "https://heavy.example/p5"),
                page(13, "https://small.example/q2"),
                page(14, "https://small.example/q3"),
            ]
        )
    )
    run(str(tmp_path / "ck"))
    assert {
        r["doc_id"] for r in VersionedTable(spark, out_p).read().collect()
    } == {1, 2, 4, 13}
    counts2 = {
        r["domain"]: r["n"]
        for r in VersionedTable(spark, counts_p)
        .read().groupBy("domain").agg(F.sum("n").alias("n")).collect()
    }
    assert counts2 == {"heavy.example": 2, "small.example": 2}

    # crash-replay: a FRESH checkpoint re-delivers every batch — out must
    # not grow and the running counts must not double-apply
    run(str(tmp_path / "ck2"))
    assert {
        r["doc_id"] for r in VersionedTable(spark, out_p).read().collect()
    } == {1, 2, 4, 13}
    counts3 = {
        r["domain"]: r["n"]
        for r in VersionedTable(spark, counts_p)
        .read().groupBy("domain").agg(F.sum("n").alias("n")).collect()
    }
    assert counts3 == counts2


@pytest.mark.slow
def test_web_corpus_stream_domain_counts_fold_bounds_history(
    spark, tmp_path, monkeypatch
):
    """Soak (r8 verdict #3): the domain-counts table must stay O(domains)
    as the stream ages — without the fold, every batch appends an
    increment set and the per-batch prior probe re-aggregates the FULL
    history. Drives 7 micro-batches through a fold threshold of 5 and
    asserts (a) the fold physically happened (live files AND physical
    rows bounded well below one-per-batch), (b) the cap still binds
    across the fold (prior reads from the folded row are the same
    totals), and (c) a fresh-checkpoint full replay against the FOLDED
    table is a no-op — txn markers survive the overwrite commit."""
    import json

    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable
    from bi_gcp_stitch_repl_spark.streaming import jobs as sjobs

    monkeypatch.setattr(sjobs, "_COUNTS_FOLD_FILES", 5)
    bench = spark.createDataFrame(
        [(900, "completely unrelated benchmark text")],
        "doc_id long, text string",
    )
    src = tmp_path / "crawl"
    src.mkdir()
    n_batches = 7
    for b in range(1, n_batches + 1):
        rows = [
            {"doc_id": 10 * b, "url": f"https://heavy.example/p{b}",
             "html": f"<html><body><p>heavy doc {b} words</p></body></html>"},
            {"doc_id": 10 * b + 1, "url": f"https://small.example/q{b}",
             "html": f"<html><body><p>small doc {b} words</p></body></html>"},
        ]
        p = src / f"load{b:02d}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        # distinct mtimes: the file source orders batches by modification
        # time, and same-second ties would scramble the arrival order the
        # keep-first-3 assertion depends on
        import os as _os

        _os.utime(p, (1_700_000_000 + b, 1_700_000_000 + b))
    urls_p, out_p, counts_p = (
        str(tmp_path / "urls"), str(tmp_path / "out"), str(tmp_path / "counts")
    )

    def run(checkpoint):
        crawl = (
            spark.readStream.schema("doc_id long, url string, html string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = sjobs.web_corpus_stream(
            crawl, bench, urls_p, out_p, checkpoint,
            domain_cap=3, domain_counts_path=counts_p,
        ).start()
        q.awaitTermination(240)

    run(str(tmp_path / "ck"))
    counts_tbl = VersionedTable(spark, counts_p)
    # (a) bounded: ≤ threshold live files, physical rows well under the
    # one-increment-row-per-(batch, domain) unfolded shape
    assert len(counts_tbl.files_at()) <= 5
    physical_rows = counts_tbl.read().count()
    assert physical_rows < n_batches * 2, physical_rows
    # (b) cap bound across the fold: exactly the first 3 docs per domain
    kept = {r["doc_id"] for r in VersionedTable(spark, out_p).read().collect()}
    assert kept == {10, 11, 20, 21, 30, 31}
    totals = {
        r["domain"]: r["n"]
        for r in counts_tbl.read().groupBy("domain")
        .agg(F.sum("n").alias("n")).collect()
    }
    assert totals == {"heavy.example": 3, "small.example": 3}
    # (c) fresh-checkpoint full replay: txn markers survived the fold's
    # overwrite commit, so nothing re-applies
    run(str(tmp_path / "ck2"))
    assert {
        r["doc_id"] for r in VersionedTable(spark, out_p).read().collect()
    } == kept
    totals2 = {
        r["domain"]: r["n"]
        for r in counts_tbl.read().groupBy("domain")
        .agg(F.sum("n").alias("n")).collect()
    }
    assert totals2 == totals
    assert len(counts_tbl.files_at()) <= 5
