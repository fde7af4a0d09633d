"""End-to-end pipeline tests: each reference pipeline family runs
hermetically (fixture transports) against a temp warehouse, exercising
extract → normalize → merge → re-run idempotency."""

from __future__ import annotations

import os
import threading

import pytest

from pyspark.sql import Row

from bi_gcp_stitch_repl_spark.jobs import pipelines
from bi_gcp_stitch_repl_spark.jobs.schedule import JOB_MANIFEST
from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable, WatermarkStore
from bi_gcp_stitch_repl_spark.sinks.versioned import CommitConflict, VersionedTable
from bi_gcp_stitch_repl_spark.sources import rest

from .test_versioned import _jobs_of


def read_merged(spark, path):
    """Jobs default their merge targets to the commit-log VersionedTable
    (pipelines.merge_table); reads go through its snapshot view."""
    return VersionedTable(spark, path).read()


def run_job(
    spark, name, transport, warehouse_path, source=None, detail=None, **runtime
):
    """Run a JOB_MANIFEST entry as ``__main__`` does: its baked params under
    the runtime kwargs. ``source``/``detail`` override single keys of the
    baked dicts (page size, fan-out width)."""
    spec = JOB_MANIFEST[name]
    params = dict(spec.params)
    for key, override in (("source", source), ("detail", detail)):
        if override:
            params[key] = {**params[key], **override}
    fn = getattr(pipelines, spec.pipeline)
    return fn(spark, transport, warehouse_path, **{**params, **runtime})


def bexio_transport(invoices):
    def t(url, params):
        lo = params["offset"]
        return invoices[lo : lo + params["limit"]]

    return t


def make_invoice(i, title="inv", total="100.00", n_positions=2):
    return {
        "id": i,
        "contact_id": 7,
        "document_nr": f"RE-{i}",
        "title": f"{title}\n{i}",
        "total": total,
        "total_net": "90.00",
        "taxs": [{"percentage": "7.7", "value": "7.7"}],
        "updated_at": "2024-03-01 10:00:00",
        "positions": [
            {
                "id": i * 10 + p,
                "type": "KbPositionCustom" if p else "KbPositionDiscount",
                "amount": "1",
                "unit_price": f"{10 * (p + 1)}.00",
            }
            for p in range(n_positions)
        ],
    }


def sync_invoices(spark, invoices, wh, li, **runtime):
    """One ``bexio_invoices`` sync over two-invoice pages."""
    return run_job(
        spark, "bexio_invoices", bexio_transport(invoices), wh,
        source={"limit": 2}, child_warehouse_path=li, **runtime,
    )


def test_bexio_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    wh = str(tmp_path / "invoices")
    li = str(tmp_path / "line_items")
    # invoice 6 carries a garbage total and no taxes: both coerce to NULL
    garbled = dict(make_invoice(6, total="n/a"), taxs=[])
    invoices = [make_invoice(i) for i in range(1, 6)] + [garbled]
    n_h, n_i = sync_invoices(spark, invoices, wh, li)
    assert (n_h, n_i) == (6, 12)
    headers = read_merged(spark, wh)
    assert headers.count() == 6
    first = {r["bexio_id"]: r for r in headers.collect()}
    assert first[1]["title"] == "inv 1"  # newline normalized
    assert first[1]["total"] == 100.0
    assert first[1]["tax_percentage"] == "7.7"
    assert first[6]["total"] is None and first[6]["tax_percentage"] is None

    # re-run with one updated + one new invoice: upsert, keys carried
    updated = dict(make_invoice(1, total="222.00"), updated_at="2024-04-01 10:00:00")
    invoices2 = [updated] + [make_invoice(9)]
    sync_invoices(spark, invoices2, wh, li)
    after = {r["bexio_id"]: r for r in read_merged(spark, wh).collect()}
    assert len(after) == 7
    assert after[1]["total"] == 222.0            # updated
    assert after[1]["u_id"] == first[1]["u_id"]  # surrogate key carried (J1)
    assert after[1]["updated_at"] > first[1]["updated_at"]
    assert after[1]["created_at"] == first[1]["created_at"]  # carried (J1)
    assert after[9]["created_at"] == after[9]["updated_at"]  # minted
    assert after[2]["total"] == 100.0            # untouched survivor

    items = read_merged(spark, li)
    assert items.count() == 14
    disc = items.filter("type = 'KbPositionDiscount'").collect()
    assert all(r["discount_amount"] == r["unit_price"] for r in disc)


def billwerk_keyset_transport(rows):
    def t(url, params):
        start = params.get("from")
        begin = 0
        if start is not None:
            begin = next(i for i, r in enumerate(rows) if r["Id"] == start)
        return rows[begin : begin + params["take"]]

    return t


def test_billwerk_contract_refresh_flattens_with_defaults(spark, tmp_path):
    rows = [
        {
            "Id": "c1",
            "CustomerId": "k1",
            "CustomerName": "Acme",
            "LifecycleStatus": "Active",
            "Balance": -12.5,
            "PaymentBearer": {"EmailAddress": "a@b.c", "Type": "card"},
            "CurrentPhase": {"PlanVariantId": "pv9", "Quantity": 3},
            "CustomFields": {"tier": "gold"},
        },
        {  # absent optionals exercise the F23 default path
            "Id": "c2",
            "CustomerId": "k2",
            "CustomerName": "Beta",
            "LifecycleStatus": "Ended",
            "Balance": 0.0,
        },
    ]
    wh = str(tmp_path / "contracts")
    n = run_job(spark, "billwerk_contracts", billwerk_keyset_transport(rows), wh)
    assert n == 2
    got = {r["contract_id"]: r for r in read_merged(spark, wh).collect()}
    assert got["c1"]["payment_email"] == "a@b.c"
    assert got["c2"]["payment_email"] == ""      # default, not NULL
    assert got["c2"]["quantity"] == 0
    assert got["c1"]["custom_fields"] == '{"tier":"gold"}'

    # refresh is truncate semantics: second run with fewer rows shrinks
    run_job(spark, "billwerk_contracts", billwerk_keyset_transport(rows[:1]), wh)
    assert read_merged(spark, wh).count() == 1


def test_billwerk_incremental_watermark_cycle(spark, tmp_path):
    """Resume from the watermark, load only the delta, advance after the
    merge — on both table factories. The slice's size and top key ride
    the merge's own jobs, so a delta sync is two Spark jobs on either
    factory; the plain table resolves its schema from a part-file footer,
    not an inference job. An empty slice returns 0 without running a
    job: no commit, no rewrite, the watermark file untouched."""
    all_rows = [{"Id": i, "amount": i * 1.0, "status": "open"} for i in range(1, 21)]
    for factory in (VersionedTable, ParquetTable):
        wh = str(tmp_path / factory.__name__ / "invoices")
        wm = str(tmp_path / factory.__name__ / "wm.json")

        def sync(rows):
            return pipelines.billwerk_incremental_invoices(
                spark, billwerk_keyset_transport(rows), wh, wm, table_factory=factory
            )

        assert sync(all_rows[:10]) == 10
        # next run sees the full upstream; only the delta loads
        n2 = _jobs_of(spark, f"delta-{factory.__name__}", lambda: sync(all_rows))
        assert n2 == (10, 2)
        assert factory(spark, wh).read().count() == 20
        assert WatermarkStore(wm).get("billwerk_invoices") == 20
        with open(wm) as f:
            mark = f.read()
        files = sorted(os.listdir(wh))
        # nothing new → no-op
        n3 = _jobs_of(spark, f"empty-{factory.__name__}", lambda: sync(all_rows))
        assert n3 == (0, 0)
        with open(wm) as f:
            assert f.read() == mark  # watermark unmoved, not even re-stamped
        assert sorted(os.listdir(wh)) == files  # no commit, no swap
        assert factory(spark, wh).read().count() == 20


def stripe_transport(rows):
    def t(url, params):
        start = 0
        if "starting_after" in params:
            start = next(
                i for i, r in enumerate(rows) if r["id"] == params["starting_after"]
            ) + 1
        chunk = rows[start : start + params["limit"]]
        return {"data": chunk, "has_more": start + params["limit"] < len(rows)}

    return t


def test_stripe_account_rollup(spark, tmp_path):
    rows = [
        {"id": "t1", "account_id": "A", "type": "payment", "amount": 100.0, "created": 1700000000},
        {"id": "t2", "account_id": "A", "type": "payout", "amount": -40.0, "created": 1700000100},
        {"id": "t3", "account_id": "A", "type": "pending", "amount": 10.0, "created": 1700000200},
        {"id": "t4", "account_id": "B", "type": "available", "amount": 5.0, "created": 1700000300},
    ]
    wh = str(tmp_path / "accounts")
    pipelines.stripe_account_rollup(spark, stripe_transport(rows), wh)
    got = {r["account_id"]: r for r in read_merged(spark, wh).collect()}
    assert got["A"]["volume"] == 100.0 and got["A"]["payout"] == -40.0
    assert got["A"]["balance"] == 10.0 and got["B"]["balance"] == 5.0


def test_history_capture_appends_only_new(spark, tmp_path):
    hist = str(tmp_path / "history")
    snap1 = spark.createDataFrame(
        [(1, "open"), (2, "open")], "invoice_id long, status string"
    )
    assert pipelines.history_capture(spark, snap1, hist, ["invoice_id", "status"]) == 2
    snap2 = spark.createDataFrame(
        [(1, "open"), (1, "paid"), (2, "open")], "invoice_id long, status string"
    )
    assert pipelines.history_capture(spark, snap2, hist, ["invoice_id", "status"]) == 1
    assert ParquetTable(spark, hist).read().count() == 3


def test_reverse_etl_batches_and_counts(spark):
    df = spark.createDataFrame(
        [Row(company_id=i, status=f"s{i % 3}", priority=i % 2) for i in range(30)]
    )
    sent = []

    def send(batch):
        sent.append(len(batch))
        return True

    ok, failed = pipelines.reverse_etl_company_status(spark, df, send, batch_size=10)
    assert failed == 0 and ok >= 3


def lexoffice_transports(n_invoices):
    vouchers = [
        {
            "id": f"v{i}",
            "voucherType": "invoice" if i % 3 else "creditnote",
            "voucherStatus": "open",
            "archived": i % 5 == 0,
            "totalAmount": "100.0",
        }
        for i in range(n_invoices)
    ]

    def list_transport(url, params):
        page, size = params["page"], params["size"]
        chunk = vouchers[page * size : (page + 1) * size]
        return {"content": chunk, "last": (page + 1) * size >= len(vouchers)}

    def fetch_detail(vid):
        i = int(vid[1:])
        if i == 7:
            return None  # failed fetch → dropped, not fatal
        return {
            "id": vid,
            "organizationId": "org",
            "totalPrice": {"currency": "EUR", "totalNetAmount": 100.0},
            "lineItems": [
                {
                    "id": f"{vid}-l{j}",
                    "type": "custom",
                    "name": f"item {j}",
                    "quantity": 2.0,
                    "unitPrice": {"netAmount": 9.5, "taxRatePercentage": 19.0},
                    "discountPercentage": None if j else 5.0,
                    "lineItemAmount": 19.0,
                }
                for j in range(2)
            ],
        }

    return list_transport, fetch_detail


def sync_lexoffice(spark, list_t, fetch, wh, **runtime):
    """One ``lexoffice_invoice_items`` sync: six-voucher pages, three
    concurrent detail streams."""
    return run_job(
        spark, "lexoffice_invoice_items", list_t, wh,
        source={"size": 6}, detail={"parallelism": 3}, detail_fetch=fetch,
        **runtime,
    )


def test_lexoffice_pipeline_fanout_and_nested(spark, tmp_path):
    list_t, detail_t = lexoffice_transports(20)
    wh = str(tmp_path / "lex_items")
    n = sync_lexoffice(spark, list_t, detail_t, wh)
    items = read_merged(spark, wh)
    # 20 vouchers: 13 invoices (i%3!=0), minus archived (i%5==0 → 5,10 among
    # invoices) minus failed fetch v7 → each surviving invoice has 2 lines
    survivors = [
        i for i in range(20) if i % 3 and i % 5 != 0 and i != 7
    ]
    assert n == len(survivors) * 2
    assert items.count() == n
    got = {r["line_id"]: r for r in items.collect()}
    sample = got[f"v{survivors[0]}-l0"]
    assert sample["unit_net"] == 9.5 and sample["tax_rate"] == 19.0
    assert sample["discount_pct"] == 5.0
    l1 = got[f"v{survivors[0]}-l1"]
    assert l1["discount_pct"] == 0.0  # NULL coalesced


def test_lexoffice_empty_item_set_purges_stale_lines(spark, tmp_path):
    """Second run where an invoice's lineItems became EMPTY upstream: its
    warehouse rows must disappear (ADVICE r04 — explode yields no batch
    row for that invoice, so the purge must come from the fetched-id key
    frame). A FAILED fetch, by contrast, must leave its rows untouched."""
    list_t, detail_t = lexoffice_transports(20)
    wh = str(tmp_path / "lex_items")
    sync_lexoffice(spark, list_t, detail_t, wh)
    before = {r["invoice_id"] for r in read_merged(spark, wh).collect()}
    assert "v1" in before and "v2" in before

    def detail_t2(vid):
        d = detail_t(vid)
        if d is not None and vid == "v1":
            d["lineItems"] = []  # all items deleted upstream
        if vid == "v2":
            return None  # API flake this run
        return d

    sync_lexoffice(spark, list_t, detail_t2, wh)
    after = {r["invoice_id"] for r in read_merged(spark, wh).collect()}
    assert "v1" not in after  # emptied invoice purged
    assert "v2" in after  # failed fetch preserved
    assert before - {"v1"} == after


def test_job_manifest_names_resolve(spark):
    from bi_gcp_stitch_repl_spark.jobs import pipelines as p
    from bi_gcp_stitch_repl_spark.jobs.schedule import JOB_MANIFEST

    for spec in JOB_MANIFEST.values():
        assert callable(getattr(p, spec.pipeline))


def test_lexoffice_dead_letter_capture(spark, tmp_path):
    """The failed fetch lands in the dead-letter table under the key's
    explode alias, once across re-runs. Each live invoice is fetched exactly
    once per sync although both the merge and the dead-letter append read
    the fan-out, and a voucher the list filter drops is never fetched."""
    list_t, detail_t = lexoffice_transports(20)
    wh = str(tmp_path / "items")
    dl = str(tmp_path / "dead_letters")
    calls_dir = tmp_path / "calls"
    calls_dir.mkdir()
    calls_path = str(calls_dir)  # workers share the local FS in local mode

    def fetch(vid):
        import os
        import uuid

        with open(os.path.join(calls_path, uuid.uuid4().hex), "w") as f:
            f.write(vid)
        return detail_t(vid)

    listed = sorted(f"v{i}" for i in range(20) if i % 3 and i % 5)
    for run in (1, 2):
        sync_lexoffice(spark, list_t, fetch, wh, dead_letter_path=dl)
        dead = ParquetTable(spark, dl).read().collect()
        assert [r["invoice_id"] for r in dead] == ["v7"]  # the failing fetch
        calls = sorted(p.read_text() for p in calls_dir.iterdir())
        assert calls == sorted(listed * run)


def test_erase_requested_keys_across_tables(spark, tmp_path):
    from bi_gcp_stitch_repl_spark.jobs.pipelines import erase_requested_keys
    from bi_gcp_stitch_repl_spark.sinks.merge import ParquetTable

    t1, t2, req = (str(tmp_path / n) for n in ("orders_t", "events_t", "req"))
    ParquetTable(spark, t1).overwrite(
        spark.createDataFrame([(u, i) for u in (1, 2, 3) for i in range(3)],
                              "user_id long, n long")
    )
    ParquetTable(spark, t2).overwrite(
        spark.createDataFrame([(u,) for u in (2, 3, 4)], "user_id long")
    )
    ParquetTable(spark, req).overwrite(
        spark.createDataFrame([(2,), (4,)], "user_id long")
    )
    out = erase_requested_keys(
        spark, req, {t1: ["user_id"], t2: ["user_id"]}
    )
    assert out == {t1: 3, t2: 2}
    assert ParquetTable(spark, t1).read().filter("user_id = 2").count() == 0
    assert ParquetTable(spark, t2).read().count() == 1
    # daily re-run with the same outstanding requests: no-op
    assert erase_requested_keys(spark, req, {t1: ["user_id"], t2: ["user_id"]}) == {
        t1: 0, t2: 0,
    }


@pytest.mark.slow
def test_incremental_dedup_ingest_two_loads_match_full(spark, tmp_path):
    """Two sequential ingests through the versioned band index find, in
    union, every pair the one-shot full recompute finds; the committed
    index equals a fresh index over everything loaded."""
    from bi_gcp_stitch_repl_spark.functions.dedup import (
        minhash_bands,
        minhash_lsh_pairs,
    )
    from bi_gcp_stitch_repl_spark.jobs.pipelines import incremental_dedup_ingest
    from bi_gcp_stitch_repl_spark.queries.catalog import tables
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable
    from tests.conftest import SF_SMOKE

    (docs,) = tables(spark, SF_SMOKE, "documents")
    load1 = docs.filter("doc_id % 5 != 0")
    load2 = docs.filter("doc_id % 5 = 0")
    idx = str(tmp_path / "band_index")

    p1 = incremental_dedup_ingest(spark, idx, load1)
    p2 = incremental_dedup_ingest(spark, idx, load2)
    got = {(r["id_a"], r["id_b"]) for r in p1.unionByName(p2).collect()}

    full = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert got == full and len(got) > 0

    committed = VersionedTable(spark, idx).read()
    fresh = minhash_bands(docs)
    assert committed.exceptAll(fresh).isEmpty() and fresh.exceptAll(committed).isEmpty()
    # two loads -> two add-only commits
    assert VersionedTable(spark, idx).latest_version() == 1


def test_incremental_summary_refresh_folds_only_the_delta(spark, tmp_path):
    """Three appends, a fold after each: every fold reads only the new
    commits, the summary always equals the full-recompute groupBy, and a
    replayed fold (crash-retry after commit) is a no-op."""
    from decimal import Decimal

    from bi_gcp_stitch_repl_spark.jobs.pipelines import incremental_summary_refresh
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    src_path, sum_path = str(tmp_path / "src"), str(tmp_path / "sum")
    src = VersionedTable(spark, src_path)

    def batch(lo):
        return spark.createDataFrame(
            [(f"g{(lo + i) % 3}", float(lo + i)) for i in range(50)],
            "grp string, amount double",
        )

    seen = []
    for lo in (0, 50, 100):
        src.append(batch(lo))
        v = incremental_summary_refresh(
            spark, src_path, sum_path, group_cols=["grp"], sum_cols=["amount"]
        )
        assert v == src.latest_version()
        seen.extend((f"g{(lo + i) % 3}", lo + i) for i in range(50))
        got = {
            r["grp"]: (r["sum_amount"], r["n_rows"])
            for r in VersionedTable(spark, sum_path).read().collect()
        }
        expect = {}
        for g, a in seen:
            s, n = expect.get(g, (Decimal(0), 0))
            expect[g] = (s + Decimal(a), n + 1)
        assert {g: (Decimal(s), n) for g, (s, n) in got.items()} == expect

    # nothing new → no-op; and the summary never re-read the source
    assert (
        incremental_summary_refresh(
            spark, src_path, sum_path, group_cols=["grp"], sum_cols=["amount"]
        )
        is None
    )
    # replay protection: a duplicate txn-marked overwrite cannot double-fold
    t = VersionedTable(spark, sum_path)
    assert t.overwrite(t.read(), txn=("summary_fold", src.latest_version())) is None


def test_jobs_cli_runs_manifest_entry(spark, tmp_path):
    """The spark-submit seam: `-m bi_gcp_stitch_repl_spark.jobs <name>
    --config f.json` resolves the manifest, injects kwargs, runs the
    pipeline on a shared session."""
    import json

    from bi_gcp_stitch_repl_spark.jobs.__main__ import main

    tbl = str(tmp_path / "t")
    ParquetTable(spark, tbl).overwrite(
        spark.createDataFrame([(i, i) for i in range(100)], "k long, v long")
        .repartition(10)
    )
    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps({"table_paths": [tbl], "target_partitions": 2}))
    assert main(["warehouse_compact", "--config", str(cfg)]) == 0
    assert ParquetTable(spark, tbl).read().count() == 100


def test_default_merge_is_file_pruned_at_job_level(spark, tmp_path):
    """The job layer's default merge target (pipelines.merge_table →
    VersionedTable) must rewrite O(batch) files, not the table: on a
    key-clustered table, a small incremental slice's merge commit removes
    a strict minority of files."""
    all_rows = [{"Id": i, "amount": i * 1.0, "status": "open"} for i in range(1, 401)]
    wh = str(tmp_path / "invoices")
    wm = str(tmp_path / "wm.json")

    pipelines.billwerk_incremental_invoices(
        spark, billwerk_keyset_transport(all_rows[:360]), wh, wm
    )
    tbl = VersionedTable(spark, wh)
    tbl.optimize(target_files=12, zorder_by=["invoice_id"])  # key-cluster
    n_files_before = len(tbl.files_at())

    # small delta: 40 new high-key rows → should touch at most the one
    # file whose key range abuts the new keys, not all 12
    pipelines.billwerk_incremental_invoices(
        spark, billwerk_keyset_transport(all_rows), wh, wm
    )
    last_commit = tbl.latest_version()
    import json as _json
    import os as _os

    with open(_os.path.join(wh, "_log", f"{last_commit:012d}.json")) as f:
        actions = _json.load(f)["actions"]
    removed = [a for a in actions if "remove" in a]
    assert len(removed) <= 2, f"merge rewrote {len(removed)}/{n_files_before} files"
    assert read_merged(spark, wh).count() == 400


def test_jobs_accept_plain_parquet_table_factory(spark, tmp_path):
    """table_factory=ParquetTable pins the single-directory baseline layout
    (K1 full-rewrite semantics) for deployments that want plain parquet."""
    all_rows = [{"Id": i, "amount": i * 1.0, "status": "open"} for i in range(1, 11)]
    wh = str(tmp_path / "plain")
    wm = str(tmp_path / "wm.json")
    pipelines.billwerk_incremental_invoices(
        spark, billwerk_keyset_transport(all_rows), wh, wm,
        table_factory=ParquetTable,
    )
    assert ParquetTable(spark, wh).read().count() == 10


def test_erase_requested_keys_versioned_is_file_pruned(spark, tmp_path):
    """Erasure over commit-log tables: only files whose key range overlaps
    the request set are rewritten; the rest survive physically untouched."""
    import json as _json
    import os as _os

    t1, req = str(tmp_path / "orders_v"), str(tmp_path / "req")
    tbl = VersionedTable(spark, t1)
    tbl.append(
        spark.createDataFrame(
            [(u, i) for u in range(1, 101) for i in range(3)], "user_id long, n long"
        )
    )
    tbl.optimize(target_files=10, zorder_by=["user_id"])
    n_files = len(tbl.files_at())
    ParquetTable(spark, req).overwrite(
        spark.createDataFrame([(3,), (7,)], "user_id long")  # one key cluster
    )
    out = pipelines.erase_requested_keys(
        spark, req, {t1: ["user_id"]}, table_factory=VersionedTable
    )
    assert out == {t1: 6}
    assert tbl.read().count() == 294
    with open(_os.path.join(t1, "_log", f"{tbl.latest_version():012d}.json")) as f:
        actions = _json.load(f)["actions"]
    rewritten = [a for a in actions if "remove" in a]
    assert len(rewritten) < n_files / 2, f"rewrote {len(rewritten)}/{n_files}"
    # idempotent: same requests again → nothing matches, no new commit
    v = tbl.latest_version()
    assert pipelines.erase_requested_keys(
        spark, req, {t1: ["user_id"]}, table_factory=VersionedTable
    ) == {t1: 0}
    assert tbl.latest_version() == v


def test_export_training_shards_layout_and_stability(spark, tmp_path):
    """Hive-partitioned split/shard export: partition dirs exist, every doc
    keeps its split when the corpus grows (pure-hash assignment), and
    within-shard order follows the deterministic shuffle rank."""
    import os as _os

    from bi_gcp_stitch_repl_spark.queries.catalog import tables
    from tests.conftest import SF_SMOKE

    (docs,) = tables(spark, SF_SMOKE, "documents")
    dst = str(tmp_path / "export")
    counts = pipelines.export_training_shards(spark, docs.filter("doc_id < 400"), dst)
    assert set(counts) <= {"train", "valid", "test"} and sum(counts.values()) == 400
    assert counts["train"] > counts.get("valid", 0)
    # partition-pruned layout on disk
    assert _os.path.isdir(_os.path.join(dst, "split=train", "shard=0"))
    first = {
        r["doc_id"]: r["split"]
        for r in spark.read.parquet(dst).select("doc_id", "split").collect()
    }

    # corpus grows: every previously-exported doc keeps its split
    pipelines.export_training_shards(spark, docs, dst)
    after = {
        r["doc_id"]: r["split"]
        for r in spark.read.parquet(dst).select("doc_id", "split").collect()
    }
    assert len(after) == 500
    assert all(after[d] == s for d, s in first.items())


def test_prepare_training_data_end_to_end(spark, tmp_path):
    """The full curation stack: span dedup drops shared runs, quality gate
    drops junk, decontamination drops benchmark overlap, survivors carry
    token ids, export is deterministic across re-runs."""
    from bi_gcp_stitch_repl_spark.jobs.pipelines import prepare_training_data

    boiler = " ".join(f"w{i}" for i in range(10))  # shared 10-word run
    docs = spark.createDataFrame(
        [
            (0, boiler + " alpha beta gamma delta epsilon zeta"),
            (1, boiler + " one two three four five six seven"),  # loses boiler
            (2, "tiny doc"),                                     # quality-dropped
            (3, "leak leak2 leak3 leak4 leak5 leak6 leak7 leak8 tail tail2"),
            (4, "clean clean2 clean3 clean4 clean5 clean6 clean7 clean8"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "leak leak2 leak3 leak4 leak5 leak6 leak7 leak8 other")],
        "doc_id long, text string",
    )
    out_dir = str(tmp_path / "export")
    res = prepare_training_data(
        spark, docs, bench, out_dir, vocab_size=10, n_shards=2,
        collect_stats=True,
    )
    assert res["stages"]["input"] == 5
    assert res["stages"]["after_quality"] == 4          # doc 2 gone
    assert res["stages"]["after_decontamination"] == 3  # doc 3 gone
    assert res["stages"]["vocab_size"] == 10
    exported = spark.read.parquet(out_dir)
    rows = {r["doc_id"]: r for r in exported.collect()}
    assert set(rows) == {0, 1, 4}
    assert rows[1]["text"].startswith("one two")         # boiler removed
    assert rows[0]["text"].startswith("w0 w1")           # first occurrence kept
    assert all(r["n_tokens"] == len(r["token_ids"]) for r in rows.values())
    assert sum(res["splits"].values()) == 3

    # deterministic: re-export over the same corpus is byte-identical rows
    res2 = prepare_training_data(
        spark, docs, bench, str(tmp_path / "export2"), vocab_size=10, n_shards=2
    )
    again = {
        (r["doc_id"], r["split"], r["shard"], r["shuffle_rank"], tuple(r["token_ids"]))
        for r in spark.read.parquet(str(tmp_path / "export2")).collect()
    }
    first = {
        (r["doc_id"], r["split"], r["shard"], r["shuffle_rank"], tuple(r["token_ids"]))
        for r in exported.collect()
    }
    assert again == first


def test_prepare_training_data_semantic_stage(spark, tmp_path):
    """Optional semantic decontamination: a doc that shares NO 8-gram
    with the benchmark (survives the verbatim rule) but whose embedding
    is near-identical to a bench item is dropped when embeddings are
    supplied — and untouched when they are not."""
    from bi_gcp_stitch_repl_spark.jobs.pipelines import prepare_training_data

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "paraphrased copy reworded enough to defeat ngrams fully ok"),
            (2, "clean clean2 clean3 clean4 clean5 clean6 clean7 clean8"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "benchmark text that shares no gram with any training doc x")],
        "doc_id long, text string",
    )
    # doc 1's embedding ≡ the bench embedding (a paraphrase keeps its
    # neighborhood); docs 0/2 orthogonal
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.1]),
         (2, [0.0, 0.0, 1.0, 0.0])],
        "doc_id long, embedding array<double>",
    )
    bench_emb = spark.createDataFrame(
        [(100, [0.0, 1.0, 0.0, 0.05])], "doc_id long, embedding array<double>"
    )
    res = prepare_training_data(
        spark, docs, bench, str(tmp_path / "e1"), vocab_size=10, n_shards=1,
        collect_stats=True,
        embeddings=emb, bench_embeddings=bench_emb,
        semantic_threshold=0.9, semantic_n_cells=2, semantic_n_probe=2,
    )
    assert res["stages"]["after_decontamination"] == 2  # doc 1 dropped
    kept = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "e1")).collect()}
    assert kept == {0, 2}
    # without embeddings the paraphrase survives
    res2 = prepare_training_data(
        spark, docs, bench, str(tmp_path / "e2"), vocab_size=10, n_shards=1,
        collect_stats=True,
    )
    assert res2["stages"]["after_decontamination"] == 3


def test_prepare_training_data_semdedup_stage(spark, tmp_path):
    """Optional SemDeDup stage: of two docs with near-identical
    embeddings the LATER one is dropped; a doc with no embedding row
    passes through untouched (anti-join, not semi-join, semantics)."""
    from bi_gcp_stitch_repl_spark.jobs.pipelines import prepare_training_data

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "surface rewording of the alpha doc same meaning here yes"),
            (2, "clean clean2 clean3 clean4 clean5 clean6 clean7 clean8"),
            (3, "doc without any embedding row must always survive fine"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "benchmark text that shares no gram with any training doc x")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0, 0.0]),
         (2, [0.0, 0.0, 1.0, 0.0])],
        "doc_id long, embedding array<double>",
    )
    res = prepare_training_data(
        spark, docs, bench, str(tmp_path / "sd1"), vocab_size=10,
        n_shards=1, collect_stats=True,
        embeddings=emb, semantic_n_cells=2, semdedup_threshold=0.95,
    )
    assert res["stages"]["after_decontamination"] == 3  # doc 1 dropped
    kept = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "sd1")).collect()}
    assert kept == {0, 2, 3}


def test_prepare_training_data_semdedup_runs_among_survivors(spark, tmp_path):
    """SemDeDup's keep-first must operate on stage-1–3b SURVIVORS: if a
    doc's earlier near-duplicate was itself quality-filtered, the later
    doc must SURVIVE — otherwise every copy of the content is lost."""
    from bi_gcp_stitch_repl_spark.jobs.pipelines import prepare_training_data

    docs = spark.createDataFrame(
        [
            (0, "xx"),  # spam: fails the quality gate (too few tokens)
            (1, "clean near duplicate of the spam doc by embedding only ok"),
            (2, "another clean unrelated document with enough tokens here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "benchmark text sharing no gram with any training doc x")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0, 0.0]),
         (2, [0.0, 0.0, 1.0, 0.0])],
        "doc_id long, embedding array<double>",
    )
    prepare_training_data(
        spark, docs, bench, str(tmp_path / "sv"), vocab_size=10,
        n_shards=1, min_tokens=5,
        embeddings=emb, semantic_n_cells=2, semdedup_threshold=0.95,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "sv")).collect()}
    assert kept == {1, 2}  # doc 1 survives: its "keeper" (doc 0) was spam


@pytest.mark.slow
def test_job_manifest_sweep_runs_every_entry(spark, tmp_path):
    """The 'Airflow scheduling Spark jobs' north-star, proven per-MANIFEST:
    every JOB_MANIFEST entry executes end-to-end against hermetic fixtures
    (the per-job tests above prove semantics in depth; this sweep proves
    the manifest itself names runnable, correctly-signatured jobs — a
    renamed pipeline or drifted signature fails HERE, not in the
    deployment's DAG folder). Cron fields are also range-checked."""
    from bi_gcp_stitch_repl_spark.jobs.schedule import JOB_MANIFEST

    def run_billwerk_incremental_invoices():
        rows = [{"Id": i, "amount": 1.0 * i, "status": "open"} for i in range(1, 8)]
        assert pipelines.billwerk_incremental_invoices(
            spark, billwerk_keyset_transport(rows),
            str(tmp_path / "bwi"), str(tmp_path / "bwi_wm"),
        ) == 7

    def run_stripe_account_rollup():
        rows = [{"id": "t1", "account_id": "A", "type": "payment",
                 "amount": 5.0, "created": 1}]
        pipelines.stripe_account_rollup(
            spark, stripe_transport(rows), str(tmp_path / "st")
        )
        assert read_merged(spark, str(tmp_path / "st")).count() == 1

    def run_history_capture():
        snap = spark.createDataFrame([(1, "open")], "invoice_id long, status string")
        assert pipelines.history_capture(
            spark, snap, str(tmp_path / "hist"), ["invoice_id", "status"]
        ) == 1

    def run_reverse_etl_company_status():
        df = spark.createDataFrame([Row(company_id=1, status="s", priority=0)])
        ok, failed = pipelines.reverse_etl_company_status(
            spark, df, lambda b: True, batch_size=10
        )
        assert failed == 0 and ok == 1

    def run_compact_tables():
        p = str(tmp_path / "cmp")
        ParquetTable(spark, p).overwrite(spark.range(100).repartition(8))
        out = pipelines.compact_tables(spark, [p], target_partitions=1)
        assert out[p] >= 1
        assert ParquetTable(spark, p).read().count() == 100

    def run_vacuum_tables():
        p = str(tmp_path / "vac")
        ParquetTable(spark, p).overwrite(spark.range(10))
        out = pipelines.vacuum_tables(spark, [p], retention_sec=0.0)
        assert out[p] >= 0
        assert ParquetTable(spark, p).read().count() == 10

    def run_erase_requested_keys():
        req = str(tmp_path / "req")
        ParquetTable(spark, req).overwrite(
            spark.createDataFrame([(1,)], "id long")
        )
        tp = str(tmp_path / "gd")
        ParquetTable(spark, tp).overwrite(
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        )
        out = pipelines.erase_requested_keys(spark, req, {tp: ["id"]})
        assert out[tp] == 1

    def run_incremental_dedup_ingest():
        batch = spark.createDataFrame(
            [(1, "hello world this is a document about sparks"),
             (2, "another unrelated text entirely different words")],
            "doc_id long, text string",
        )
        pairs = pipelines.incremental_dedup_ingest(
            spark, str(tmp_path / "didx"), batch
        )
        assert pairs.count() >= 0  # executes the probe + index commit

    def run_incremental_ann_ingest():
        batch = _vec_batch(spark, range(20), dim=4)
        v = pipelines.incremental_ann_ingest(
            spark, str(tmp_path / "annidx"), batch, n_cells=2
        )
        assert v is not None
        assert VersionedTable(spark, str(tmp_path / "annidx")).read().count() == 20

    def run_multimodal_corpus_ingest():
        import numpy as np

        from bi_gcp_stitch_repl_spark.functions.codecs import encode_png

        batch = spark.createDataFrame(
            [(1, bytearray(encode_png(np.full((4, 4), 7, np.uint8))))],
            "media_id long, payload binary",
        )
        rows = pipelines.multimodal_corpus_ingest(
            spark, str(tmp_path / "mediacat"), batch
        )
        assert rows.count() == 1

    def run_sheet_import_snapshot():
        values = [["k", "v"], ["1", "a"]]
        assert pipelines.sheet_import_snapshot(
            spark, sheets_values_transport(values), str(tmp_path / "sheet"),
            spreadsheet_id="s", range_a1="A",
        ) == 1

    def run_incremental_summary_refresh():
        src = str(tmp_path / "src_vt")
        VersionedTable(spark, src).append(
            spark.createDataFrame([(1, "a", 10.0)], "id long, g string, amount double")
        )
        v = pipelines.incremental_summary_refresh(
            spark, src, str(tmp_path / "sum"), ["g"], ["amount"]
        )
        assert v is not None

    def run_entity_replication():
        # one declarative-archetype run; per-entity depth lives in
        # tests/test_entities.py
        from bi_gcp_stitch_repl_spark.jobs.entities import ENTITY_MANIFEST

        spec = ENTITY_MANIFEST["billwerk_subscriptions"]
        rows = [{"Id": "s1", "CustomerId": "c1", "Status": "Active"}]
        assert pipelines.entity_replication(
            spark,
            billwerk_keyset_transport(rows),
            str(tmp_path / "ent"),
            **spec.params,
        ) == 1

    def run_domain_authority_refresh():
        docs = spark.createDataFrame(
            [(1, "http://a.com/1", '<a href="http://hub.com/x">h</a>')],
            "doc_id long, url string, html string",
        )
        assert pipelines.domain_authority_refresh(
            spark, docs, str(tmp_path / "authority")
        ) == 2  # a.com + hub.com

    runners = {
        name[len("run_"):]: fn
        for name, fn in locals().items()
        if name.startswith("run_")
    }
    manifest_pipelines = {spec.pipeline for spec in JOB_MANIFEST.values()}
    assert manifest_pipelines == set(runners), (
        "every manifest entry needs a sweep runner",
        manifest_pipelines ^ set(runners),
    )
    # one run per distinct pipeline: every entity spec shares
    # entity_replication, whose per-entity depth is in test_entities.py
    for pipeline in sorted(manifest_pipelines):
        runners[pipeline]()

    for name, spec in JOB_MANIFEST.items():
        fields = spec.cron.split()
        assert len(fields) == 5, (name, spec.cron)
        for field, hi in zip(fields, (59, 23, 31, 12, 6)):
            assert field == "*" or 0 <= int(field) <= hi, (name, spec.cron)
        assert spec.description


def _vec_batch(spark, ids, dim=8, shift=0.0):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 + shift for j in range(dim)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_incremental_ann_ingest_frozen_quantizer_and_exactness(spark, tmp_path):
    """Persisted IVF index across two ingests: the coarse quantizer is
    fitted once and FROZEN (sidecar unchanged by load 2), every
    second-load vector lands in its true argmin cell against the stored
    centroids, and a full-probe query over the combined index reproduces
    exact brute-force top-k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bi_gcp_stitch_repl_spark.functions.similarity import (
        SQDIST,
        cosine,
        ivf_topk,
    )

    idx = str(tmp_path / "ann")
    n_cells = 4
    pipelines.incremental_ann_ingest(
        spark, idx, _vec_batch(spark, range(100)), n_cells=n_cells
    )
    cents_before = {
        r["ivf_cell"]: r["centroid"]
        for r in VersionedTable(spark, idx + "_centroids").read().collect()
    }
    assert len(cents_before) == n_cells
    pipelines.incremental_ann_ingest(
        spark, idx, _vec_batch(spark, range(100, 160), shift=0.25), n_cells=n_cells
    )
    cents_after = {
        r["ivf_cell"]: r["centroid"]
        for r in VersionedTable(spark, idx + "_centroids").read().collect()
    }
    assert cents_after == cents_before  # frozen quantizer

    index = VersionedTable(spark, idx).read()
    assert index.count() == 160
    assert index.filter("ivf_cell < 0 or ivf_cell >= 4").count() == 0

    # EVERY stored row — first load included — sits in its argmin cell vs
    # the stored centroids: the sidecar persists the KMeans model's final
    # centers (the rule model.transform assigned load 1 by), not
    # assignment means one Lloyd half-step away (ADVICE r03)
    cents = VersionedTable(spark, idx + "_centroids").read().select(
        F.col("ivf_cell").alias("_cid"), F.col("centroid").alias("_cv")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "_cid")
    want = (
        index
        .crossJoin(F.broadcast(cents))
        .withColumn("dist", F.expr(SQDIST.format(a="embedding", b="_cv")))
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("vec_id", F.col("_cid").alias("want_cell"), "ivf_cell")
    )
    assert want.filter("want_cell != ivf_cell").count() == 0

    # full probe == exact brute force (graceful-degradation anchor)
    queries = index.filter("vec_id % 40 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(
            index, queries, k=3, n_probe=n_cells, centroid_col="ivf_cell"
        ).collect()
    }
    qv = queries.select("query_id", F.col("embedding").alias("qv"))
    w_k = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in index.crossJoin(F.broadcast(qv))
        .withColumn("cosine", cosine("embedding", "qv"))
        .withColumn("rk", F.row_number().over(w_k))
        .filter("rk <= 3")
        .collect()
    }
    assert got == exact


def test_incremental_dedup_ingest_txn_replay_is_noop(spark, tmp_path):
    """With a txn identity, replaying the same (app, batch) against the
    dedup index re-probes but does NOT re-commit its bands — the index
    stays duplicate-free under at-least-once delivery (the streaming
    wrapper's contract)."""
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "didx")
    pipelines.incremental_dedup_ingest(
        spark, idx, batch, app_id="s", batch_id=0
    )
    n1 = VersionedTable(spark, idx).read().count()
    pipelines.incremental_dedup_ingest(  # replay of the same micro-batch
        spark, idx, batch, app_id="s", batch_id=0
    )
    assert VersionedTable(spark, idx).read().count() == n1
    # a NEW batch id still commits
    pipelines.incremental_dedup_ingest(
        spark, idx,
        spark.createDataFrame([(2, "totally different words here")],
                              "doc_id long, text string"),
        app_id="s", batch_id=1,
    )
    assert VersionedTable(spark, idx).read().count() > n1


def test_multimodal_corpus_ingest_dedups_and_decodes_once(spark, tmp_path):
    """Cross-batch content dedup against the catalog's own hash column,
    in-batch keep-first, real codec decode (PNG and JPEG) for survivors,
    error isolation for garbage, and replay-safe txn commits."""
    import numpy as np

    from bi_gcp_stitch_repl_spark.functions.codecs import encode_png
    from bi_gcp_stitch_repl_spark.functions.jpeg import encode_jpeg
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    cat = str(tmp_path / "media")
    png = encode_png(np.full((6, 4), 9, np.uint8))
    jpg = encode_jpeg(np.full((8, 16), 130, np.uint8), quality=50)

    # batch 1: a PNG, its exact duplicate under another id, and garbage
    b1 = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(png)), (3, bytearray(b"junk"))],
        "media_id long, payload binary",
    )
    rows1 = pipelines.multimodal_corpus_ingest(spark, cat, b1).collect()
    got1 = {r["media_id"]: r for r in rows1}
    assert set(got1) == {1, 3}  # keep-first: id 2 deduped in-batch
    assert got1[1]["_decode_ok"] and (got1[1]["width"], got1[1]["height"]) == (4, 6)
    assert got1[1]["mode"] == "L"
    assert not got1[3]["_decode_ok"]  # garbage cataloged, not dropped

    # batch 2: the same PNG again (cross-batch dup) + a fresh JPEG
    b2 = spark.createDataFrame(
        [(10, bytearray(png)), (11, bytearray(jpg))],
        "media_id long, payload binary",
    )
    rows2 = pipelines.multimodal_corpus_ingest(spark, cat, b2).collect()
    assert [r["media_id"] for r in rows2] == [11]  # only the JPEG is new
    assert rows2[0]["_decode_ok"] and rows2[0]["width"] == 16

    table = VersionedTable(spark, cat).read()
    assert table.count() == 3
    assert table.select("content_sha256").distinct().count() == 3

    # at-least-once replay: same (app, batch) txn id is a no-op
    pipelines.multimodal_corpus_ingest(
        spark, cat, b2, app_id="media", batch_id=7
    )
    n = VersionedTable(spark, cat).read().count()
    pipelines.multimodal_corpus_ingest(
        spark, cat, b2, app_id="media", batch_id=7
    )
    assert VersionedTable(spark, cat).read().count() == n


def test_multimodal_corpus_ingest_null_payloads_catalog_once(spark, tmp_path):
    """sha2(NULL) is NULL: without coalescing, distinct null-payload rows
    collapse in-batch AND re-append every batch (NULL never anti-joins).
    Contract: all payload-less media share ONE stable hash — cataloged
    exactly once, ever, with _decode_ok=false (review r04)."""
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    cat = str(tmp_path / "media")
    b1 = spark.createDataFrame(
        [(1, None), (2, None)], "media_id long, payload binary"
    )
    rows1 = pipelines.multimodal_corpus_ingest(spark, cat, b1).collect()
    assert len(rows1) == 1 and rows1[0]["media_id"] == 1  # keep-first
    assert not rows1[0]["_decode_ok"]
    assert rows1[0]["content_sha256"] is not None

    # later batch with another NULL payload: cross-batch dedup must hold
    b2 = spark.createDataFrame([(9, None)], "media_id long, payload binary")
    rows2 = pipelines.multimodal_corpus_ingest(spark, cat, b2).collect()
    assert rows2 == []
    assert VersionedTable(spark, cat).read().count() == 1


def test_cli_runs_rest_sync_specs(spark, tmp_path):
    """The four REST syncs that became ``entity_replication`` specs run
    through the spark-submit CLI from a JSON config: transports (and the
    lexoffice detail fetch) via the $transport resolver, deployment paths
    as plain keys, everything else from the baked JobSpec params."""
    import json

    from bi_gcp_stitch_repl_spark.jobs.__main__ import main

    def factory(name):
        return {"$transport": f"tests.fixture_transport:make_{name}"}

    dl = str(tmp_path / "lexoffice_dead_letters")
    runs = {
        "bexio_invoices": (
            {"transport": factory("bexio_invoice_transport"),
             "child_warehouse_path": str(tmp_path / "bexio_line_items")},
            3,
        ),
        "lexoffice_invoice_items": (
            {"transport": factory("lexoffice_voucher_transport"),
             "detail_fetch": factory("lexoffice_detail_fetch"),
             "dead_letter_path": dl},
            1,
        ),
        "billwerk_contracts": ({"transport": factory("billwerk_contract_transport")}, 2),
        "hubspot_tickets": ({"transport": factory("hubspot_ticket_transport")}, 2),
    }
    for job, (config, rows) in runs.items():
        cfg = tmp_path / f"{job}.json"
        cfg.write_text(json.dumps({**config, "warehouse_path": str(tmp_path / job)}))
        assert main([job, "--config", str(cfg)]) == 0
        assert read_merged(spark, str(tmp_path / job)).count() == rows, job
    assert read_merged(spark, str(tmp_path / "bexio_line_items")).count() == 4
    dead = ParquetTable(spark, dl).read().collect()
    assert [(r["invoice_id"], r["error"]) for r in dead] == [
        ("v2", "ConnectionError: upstream timeout")
    ]


def test_jobs_cli_skips_doc_keys_and_resolves_parquet(spark, tmp_path):
    """Review-r04: the shipped example config carries a __doc__ metadata
    key (previously passed through as a kwarg -> TypeError at startup),
    and DataFrame-taking jobs are CLI-expressible via {"$parquet": path}."""
    import json

    from bi_gcp_stitch_repl_spark.jobs.__main__ import main

    src = str(tmp_path / "snap")
    spark.createDataFrame(
        [(1, "open"), (2, "paid")], "invoice_id long, status string"
    ).write.parquet(src)
    hist = str(tmp_path / "hist")
    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps({
        "__doc__": "metadata only — must not become a kwarg",
        "snapshot": {"$parquet": src},
        "history_path": hist,
        "keys": ["invoice_id", "status"],
    }))
    assert main(["history_capture", "--config", str(cfg)]) == 0
    assert ParquetTable(spark, hist).read().count() == 2


def test_line_item_merge_removes_upstream_deleted_positions(spark, tmp_path):
    """Review-r04: the reference's per-invoice DELETE+INSERT removed
    positions deleted upstream; a composite-key upsert kept them forever.
    Parent-key merge must drop them in the same atomic commit."""
    wh = str(tmp_path / "invoices")
    li = str(tmp_path / "line_items")
    sync_invoices(spark, [make_invoice(1, n_positions=3)], wh, li)
    assert read_merged(spark, li).count() == 3
    # upstream edit removes a position; the re-fetched invoice has 2
    sync_invoices(spark, [make_invoice(1, n_positions=2)], wh, li)
    items = read_merged(spark, li)
    assert items.count() == 2  # the deleted position is GONE
    assert sorted(r["position_id"] for r in items.collect()) == [10, 11]


def test_incremental_ann_ingest_txn_replay_is_noop(spark, tmp_path):
    """Review r05: an at-least-once replay of a committed ANN ingest batch
    must be a no-op (txn dedup), not a double append that duplicates
    every kNN neighbor."""
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "ann")
    v = pipelines.incremental_ann_ingest(
        spark, idx, emb, n_cells=2, app_id="ann", batch_id=1
    )
    assert v is not None
    replay = pipelines.incremental_ann_ingest(
        spark, idx, emb, n_cells=2, app_id="ann", batch_id=1
    )
    assert replay is None
    from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable

    assert VersionedTable(spark, idx).read().count() == 6


def test_prepare_training_data_semantic_options_require_embeddings(spark, tmp_path):
    """Review r05: semantic options without the corpus vectors must raise,
    not silently skip the stage and ship contaminated shards."""
    docs = spark.createDataFrame([(0, "a b c d e f")], "doc_id long, text string")
    bench = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    import pytest as _pytest

    from bi_gcp_stitch_repl_spark.jobs.pipelines import prepare_training_data

    with _pytest.raises(ValueError):
        prepare_training_data(
            spark, docs, bench, str(tmp_path / "e"),
            bench_embeddings=spark.createDataFrame(
                [(1, [1.0])], "doc_id long, embedding array<double>"
            ),
        )
    with _pytest.raises(ValueError):
        prepare_training_data(
            spark, docs, bench, str(tmp_path / "e2"), semdedup_threshold=0.9
        )


# -- sheet-import + hubspot forward-ingest composed jobs (round 6) ----------


def sheets_values_transport(values):
    """Sheets v4 values.get fixture: any URL returns the one matrix."""
    calls = []

    def t(url, params):
        calls.append((url, dict(params or {})))
        return {"values": values}

    t.calls = calls
    return t


def _ltv_values():
    """Values matrix shaped like import_bi_dev_ltv.py's sheet: junk rows
    above the header, the header itself, then data rows with locale dates
    and thousands-separated numerics, plus a trailing column outside the
    reference's 0:7 slice."""
    junk = [["ignore"] * 8] * 3
    header = [
        "year-month", "Marketing other", "Marketing FTEs",
        "Partnerships FTEs", "Sales FTEs (100%)", "Key Account FTEs",
        "notes", "OUT-OF-SLICE",
    ]
    rows = [
        ["19/01/2024", "1,250", "2", "0.5", "3", "1", "x", "zzz"],
        ["20/01/2024", "980", "2,5", "", "3", "1", "y", "zzz"],
    ]
    return junk + [header] + [r + [""] for r in rows]


def test_sheet_import_snapshot_ltv_archetype(spark, tmp_path):
    """import_bi_dev_ltv.py:35-105 as one manifest config: header promotion
    at depth, column slice, dd/MM/yyyy dates, thousands strip + fillna(0),
    rename, select, truncate load."""
    wh = str(tmp_path / "ltv")
    n = pipelines.sheet_import_snapshot(
        spark,
        sheets_values_transport(_ltv_values()),
        wh,
        spreadsheet_id="sheet-1",
        range_a1="BI Sheet",
        header_row=3,
        data_start=4,
        col_slice=[0, 7],
        date_cols={"year_month": "dd/MM/yyyy"},
        thousands_cols=["Marketing_other", "Sales_FTEs__100__"],
        fill_zero=True,
        renames={
            "Marketing_other": "marketing_other",
            "Sales_FTEs__100__": "sales_ftes",
        },
        select=["year_month", "marketing_other", "sales_ftes"],
    )
    assert n == 2
    rows = {str(r["year_month"]): r for r in read_merged(spark, wh).collect()}
    assert set(rows) == {"2024-01-19", "2024-01-20"}
    assert rows["2024-01-19"]["marketing_other"] == 1250.0
    assert rows["2024-01-20"]["marketing_other"] == 980.0
    assert rows["2024-01-19"]["sales_ftes"] == 3.0
    assert read_merged(spark, wh).columns == [
        "year_month", "marketing_other", "sales_ftes",
    ]
    # truncate-refresh semantics: a re-import with fewer rows REPLACES
    smaller = _ltv_values()[:5]  # junk + header + first data row
    n2 = pipelines.sheet_import_snapshot(
        spark,
        sheets_values_transport(smaller),
        wh,
        spreadsheet_id="sheet-1",
        range_a1="BI Sheet",
        header_row=3,
        data_start=4,
        col_slice=[0, 7],
        date_cols={"year_month": "dd/MM/yyyy"},
        thousands_cols=["Marketing_other", "Sales_FTEs__100__"],
        fill_zero=True,
        renames={
            "Marketing_other": "marketing_other",
            "Sales_FTEs__100__": "sales_ftes",
        },
        select=["year_month", "marketing_other", "sales_ftes"],
    )
    assert n2 == 1
    assert read_merged(spark, wh).count() == 1


def test_sheet_import_snapshot_active_orgs_archetype(spark, tmp_path):
    """active_orgs.py:25-39: plain header promotion, no cleaning spec —
    the minimal sheet→overwrite config."""
    wh = str(tmp_path / "orgs")
    values = [["org_id", "name"], ["1", "alpha"], ["2", "beta"]]
    n = pipelines.sheet_import_snapshot(
        spark,
        sheets_values_transport(values),
        wh,
        spreadsheet_id="sheet-2",
        range_a1="Active Orgs",
    )
    assert n == 2
    got = sorted((r["org_id"], r["name"]) for r in read_merged(spark, wh).collect())
    assert got == [("1", "alpha"), ("2", "beta")]


def hubspot_ticket_transport(pages):
    """Cursor-link protocol over a canned page list (get_tickets.py:43-59):
    page i links to page i+1 via paging.next.link; the last page omits
    paging."""
    calls = []

    def t(url, params):
        calls.append((url, dict(params or {})))
        idx = int(url[len("p"):]) if url.startswith("p") else 0
        body = {"results": pages[idx]}
        if idx + 1 < len(pages):
            body["paging"] = {"next": {"link": f"p{idx + 1}"}}
        return body

    t.calls = calls
    return t


def _ticket(i, company=None):
    t = {"id": str(i), "createdAt": f"2024-01-0{i}T00:00:00Z",
         "updatedAt": f"2024-02-0{i}T00:00:00Z"}
    if company is not None:
        t["associations"] = {
            "companies": {"results": [{"id": str(company), "type": "ticket_to_company"}]}
        }
    return t


def test_hubspot_ticket_refresh(spark, tmp_path):
    """get_tickets.py:43-104: cursor-link pagination, first-company
    association extraction (NULL-safe for unassociated tickets), truncate
    load, re-run replaces."""
    wh = str(tmp_path / "tickets")
    pages = [[_ticket(1, company=77), _ticket(2)], [_ticket(3, company=88)]]
    n = run_job(spark, "hubspot_tickets", hubspot_ticket_transport(pages), wh)
    assert n == 3
    rows = {r["ticket_id"]: r for r in read_merged(spark, wh).collect()}
    assert set(rows) == {"1", "2", "3"}
    assert rows["1"]["company_id"] == "77"
    assert rows["2"]["company_id"] is None  # no association -> NULL, not error
    assert rows["3"]["company_id"] == "88"
    assert rows["1"]["created_at"] == "2024-01-01T00:00:00Z"
    # truncate semantics
    n2 = run_job(
        spark, "hubspot_tickets", hubspot_ticket_transport([[_ticket(9, company=1)]]), wh
    )
    assert n2 == 1
    assert {r["ticket_id"] for r in read_merged(spark, wh).collect()} == {"9"}


def _page(doc_id, url, text):
    html = (
        "<html><head><script>var a = 1 < 2;</script></head>"
        f"<body><p>{text}</p><!-- nav --></body></html>"
    )
    return Row(doc_id=doc_id, url=url, html=html)


_BENCH_GRAM = "alpha beta gamma delta epsilon zeta eta theta"


def _crawl(spark):
    return spark.createDataFrame(
        [
            _page(1, "HTTPS://WWW.SITE.COM:443/a/b/?utm_source=x&id=1&z=2#f",
                  "fresh words about one topic kept intact here"),
            # same RESOURCE as doc 1 in a different raw spelling: no port,
            # no www, no slash, swapped param order — URL dedup must drop it
            _page(2, "https://site.com/a/b?z=2&id=1",
                  "a recrawl body that must never be parsed into the corpus"),
            _page(3, "https://site.com/leak",
                  "prefix " + _BENCH_GRAM + " suffix"),
            _page(4, "https://other.com/ok",
                  "nine clean tokens walk into a bar tonight again"),
            _page(5, None, "first null url doc with its own words here"),
            _page(6, None, "second null url doc must also survive dedup"),
        ]
    )


def _bench(spark):
    return spark.createDataFrame([Row(doc_id=100, text=_BENCH_GRAM)])


def test_prepare_web_corpus_end_to_end(spark):
    """URL dedup (cross-spelling), HTML extraction, two-tier bloom→exact
    decontamination, NULL urls never collapsed."""
    out = pipelines.prepare_web_corpus(spark, _crawl(spark), _bench(spark))
    rows = {r.doc_id: r for r in out.collect()}
    # doc 2 fell to URL dedup (same canonical resource as doc 1, lower id
    # wins); doc 3 fell to decontamination; NULL-url docs BOTH survive
    assert set(rows) == {1, 4, 5, 6}
    assert rows[1].url_canonical == "https://site.com/a/b?id=1&z=2"
    assert rows[1].text == "fresh words about one topic kept intact here"
    assert rows[5].url_canonical is None and rows[6].url_canonical is None


def test_prepare_web_corpus_bloom_false_positives_harmless(spark):
    """With a deliberately SATURATED tiny filter every doc becomes a bloom
    candidate — the exact tier still drops only the true hit, so filter
    geometry tunes cost, never correctness."""
    # pad the bench with enough vocab to set all 17 bits (saturation makes
    # the test deterministic); the pad shares no 8-gram with any crawl doc
    pad = spark.createDataFrame(
        [Row(doc_id=200 + i, text=" ".join(f"w{i}x{j}" for j in range(12)))
         for i in range(60)]
    )
    bench = _bench(spark).unionByName(pad)
    from bi_gcp_stitch_repl_spark.functions.bloom import bloom_bit_set

    assert bloom_bit_set(bench, n=8, m=17, k=2).count() == 17  # saturated
    out = pipelines.prepare_web_corpus(
        spark, _crawl(spark), bench, bloom_m=17, bloom_k=2
    )
    assert {r.doc_id for r in out.collect()} == {1, 4, 5, 6}


def test_prepare_web_corpus_domain_cap_binds_last(spark):
    """Optional domain_cap stage: caps per registrable domain AFTER dedup
    and decontamination (a capped doc never shields a dup/contaminated
    one), keep-first by doc_id, and NULL-url docs are never collapsed
    into one quota group."""
    from pyspark.sql import Row

    crawl = _crawl(spark)
    # add more site.com resources so the domain has 4 surviving docs
    extra = spark.createDataFrame(
        [
            _page(7, "https://site.com/c", "more words on a second page"),
            _page(8, "https://site.com/d", "and words on a third page"),
            _page(9, "https://site.com/e", "plus words on a fourth page"),
        ]
    )
    out = pipelines.prepare_web_corpus(
        spark, crawl.unionByName(extra), _bench(spark), domain_cap=2
    )
    rows = {r.doc_id for r in out.collect()}
    # site.com survivors pre-cap: 1 (dedup winner), 7, 8, 9 -> cap 2 keeps
    # the two lowest ids; other.com under cap; BOTH null-url docs survive
    assert rows == {1, 7, 4, 5, 6}


def test_prepare_web_corpus_domain_psl_groups_multilabel_suffixes(spark):
    """domain_psl swaps the PSL algorithm in for the two-label heuristic:
    two *.co.uk SITES keep separate quota groups (the heuristic collapses
    them into one 'co.uk' group and the cap would bind across sites)."""
    from pyspark.sql import Row

    crawl = spark.createDataFrame(
        [
            _page(1, "https://a.alpha.co.uk/1", "first page of site alpha"),
            _page(2, "https://b.alpha.co.uk/2", "second page of site alpha"),
            _page(3, "https://c.alpha.co.uk/3", "third page of site alpha"),
            _page(4, "https://a.beta.co.uk/1", "first page of site beta"),
            _page(5, "https://b.beta.co.uk/2", "second page of site beta"),
        ]
    )
    psl = spark.createDataFrame([("uk",), ("co.uk",)], "rule string")
    out = pipelines.prepare_web_corpus(
        spark, crawl, _bench(spark), domain_cap=2, domain_psl=psl
    )
    # PSL grouping: alpha.co.uk {1,2,3} capped to {1,2}; beta.co.uk {4,5}
    assert {r.doc_id for r in out.collect()} == {1, 2, 4, 5}
    # the heuristic would collapse BOTH sites into one 'co.uk' group
    out_h = pipelines.prepare_web_corpus(
        spark, crawl, _bench(spark), domain_cap=2
    )
    assert {r.doc_id for r in out_h.collect()} == {1, 2}


def test_rank_domains_authority_ordering(spark):
    """Hub/authority link structure: three sites all link to hub.com,
    hub.com links to one of them; hub.com must outrank everything, and
    the hub-endorsed site must outrank its unendorsed peers. Single- and
    double-quoted hrefs both count; relative and same-domain links are
    ignored."""
    pages = [
        ("http://a.com/1", '<a href="http://hub.com/x">h</a>'
                           '<a href="/same-site-relative">r</a>'),
        ("http://b.com/1", "<a href='http://hub.com/y'>h</a>"),
        ("http://c.com/1", '<a href="http://hub.com/z">h</a>'
                           '<a href="http://c.com/self">self</a>'),
        ("http://hub.com/1", '<a href="http://a.com/back">back</a>'),
    ]
    docs = spark.createDataFrame(pages, "url string, html string")
    # the hub<->a 2-cycle oscillates (decay 0.85^2 per round); 20 rounds
    # puts the residual well under the steady-state hub-a gap
    ranks = {
        r.domain: r.rank_fp
        for r in pipelines.rank_domains(docs, n_iter=20).collect()
    }
    assert set(ranks) == {"a.com", "b.com", "c.com", "hub.com"}
    assert ranks["hub.com"] > ranks["a.com"]      # 3 in-links beat 1
    assert ranks["a.com"] > ranks["b.com"]        # hub endorsement counts
    assert ranks["b.com"] == ranks["c.com"]       # symmetric peers tie exactly
    # deterministic: a second run is bit-identical
    again = {
        r.domain: r.rank_fp
        for r in pipelines.rank_domains(docs, n_iter=20).collect()
    }
    assert again == ranks


def test_rank_domains_linkless_and_uppercase_pages(spark):
    """A crawled page with no cross-domain hrefs still gets a (base)
    rank — most small sites link relatively, and vanishing from the
    ranking would gate them out of any authority-join downstream.
    Uppercase attribute/scheme spellings count as links."""
    pages = [
        ("http://quiet.com/1", "<p>no links here</p>"),
        ("http://loud.com/1", '<A HREF="HTTP://quiet.com/x">up</A>'),
    ]
    docs = spark.createDataFrame(pages, "url string, html string")
    ranks = {r.domain: r.rank_fp for r in pipelines.rank_domains(docs).collect()}
    assert set(ranks) == {"quiet.com", "loud.com"}
    assert ranks["quiet.com"] > ranks["loud.com"]  # the uppercase link counted


def test_rank_domains_psl_keeps_multilabel_sites_apart(spark):
    """With PSL rules, *.co.uk sites rank as separate nodes instead of
    one collapsed co.uk blob."""
    rules = spark.createDataFrame([("com",), ("co.uk",)], "rule string")
    pages = [
        ("http://one.co.uk/", '<a href="http://hub.com/x">h</a>'),
        ("http://two.co.uk/", '<a href="http://hub.com/y">h</a>'),
    ]
    docs = spark.createDataFrame(pages, "url string, html string")
    ranks = {
        r.domain: r.rank_fp
        for r in pipelines.rank_domains(docs, domain_psl=rules).collect()
    }
    assert set(ranks) == {"one.co.uk", "two.co.uk", "hub.com"}
    heur = {
        r.domain for r in pipelines.rank_domains(docs).collect()
    }
    assert heur == {"co.uk", "hub.com"}  # the distortion the PSL fixes


def test_cli_runs_domain_authority_job(spark, tmp_path):
    """domain_authority through the spark-submit CLI path: the docs
    table arrives via the $parquet resolver (the batch-taking-job
    pattern), rank_domains solves the link graph, and the (domain,
    rank_fp) table truncate-refreshes."""
    import json as _json

    from bi_gcp_stitch_repl_spark.jobs.__main__ import main

    docs_p = str(tmp_path / "crawl_docs")
    spark.createDataFrame(
        [
            (1, "http://a.com/1", '<a href="http://hub.com/x">h</a>'),
            (2, "http://b.com/1", "<a href='http://hub.com/y'>h</a>"),
        ],
        "doc_id long, url string, html string",
    ).write.parquet(docs_p)
    cfg = tmp_path / "job.json"
    cfg.write_text(
        _json.dumps(
            {
                "docs": {"$parquet": docs_p},
                "warehouse_path": str(tmp_path / "authority"),
            }
        )
    )
    assert main(["domain_authority", "--config", str(cfg)]) == 0
    out = {
        r.domain: r.rank_fp
        for r in pipelines.merge_table(
            spark, str(tmp_path / "authority")
        ).read().collect()
    }
    assert set(out) == {"a.com", "b.com", "hub.com"}
    assert out["hub.com"] > out["a.com"] == out["b.com"]
    # truncate semantics: a re-run replaces, never appends
    assert main(["domain_authority", "--config", str(cfg)]) == 0
    assert (
        pipelines.merge_table(spark, str(tmp_path / "authority")).read().count()
        == 3
    )


# ---------------------------------------------------------------------------
# extract: converted once per sync, then read from the JVM
# ---------------------------------------------------------------------------


def _watch_extract(monkeypatch):
    """Record every frame ``rest.to_dataframe`` returns and count the rows
    handed to its driver-side conversion (``rest._chunk_frame``)."""
    seen = {"rows": 0, "frames": []}
    to_dataframe, chunk_frame = rest.to_dataframe, rest._chunk_frame

    def counted_chunk(spark, rows, *args):
        seen["rows"] += len(rows)
        return chunk_frame(spark, rows, *args)

    def recorded(*args, **kwargs):
        df = to_dataframe(*args, **kwargs)
        seen["frames"].append(df)
        return df

    monkeypatch.setattr(rest, "_chunk_frame", counted_chunk)
    monkeypatch.setattr(rest, "to_dataframe", recorded)
    return seen


def _runs_python_worker(df) -> bool:
    """Whether executing ``df`` runs a Python worker (a PythonRDD in the
    lineage of its executed plan)."""
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def _order(i, total="10.00", n_positions=2):
    return {
        "id": i,
        "total": total,
        "positions": [
            {"id": i * 10 + p, "amount": f"{p + 1}.50"} for p in range(n_positions)
        ],
    }


#: a BEXIO_ORDERS_DE-shaped spec, cut down: offset pages, header upsert,
#: positions exploded into an upserted child table
ORDER_SYNC = {
    "source": {
        "protocol": "offset",
        "url": "https://api.example/orders",
        "limit": 3,
        "schema": "id bigint, total string,"
        " positions array<struct<id:bigint,amount:string>>",
    },
    "select": [{"name": "id"}, {"name": "total", "sql": "try_cast(total as double)"}],
    "sink": {"mode": "upsert", "keys": ["id"]},
    "child": {
        "array_col": "positions",
        "parent_map": {"id": "order_id"},
        "select": [
            {"name": "order_id"},
            {"name": "position_id", "sql": "id"},
            {"name": "amount", "sql": "try_cast(amount as double)"},
        ],
        "keys": ["order_id"],
    },
}


def sync_orders(spark, rows, wh, items):
    return pipelines.entity_replication(
        spark, bexio_transport(rows), wh, child_warehouse_path=items,
        clock="2026-03-01 00:00:00", **ORDER_SYNC,
    )


def test_entity_replication_evaluates_extract_once(spark, tmp_path, monkeypatch):
    """The extract is held in the JVM: no action over it — counts, key
    frames, merges — runs a Python worker, and each sync (initial load
    and changed re-sync alike) converts each fetched row exactly once."""
    seen = _watch_extract(monkeypatch)
    wh, items = str(tmp_path / "orders"), str(tmp_path / "items")

    def sync(rows):
        before = seen["rows"]
        return sync_orders(spark, rows, wh, items), seen["rows"] - before

    base = [_order(i) for i in range(1, 8)]
    assert sync(base) == ((7, 14), 7)
    resync = base[:3] + [_order(4, total="99.00", n_positions=1)] + base[4:] + [_order(8)]
    assert sync(resync) == ((8, 15), 8)
    assert len(seen["frames"]) == 2
    assert not any(_runs_python_worker(df) for df in seen["frames"])
    got = {r["id"]: r["total"] for r in read_merged(spark, wh).collect()}
    assert len(got) == 8 and got[4] == 99.0
    assert read_merged(spark, items).filter("order_id = 4").count() == 1


def test_bexio_invoice_replication_evaluates_extract_once(spark, tmp_path, monkeypatch):
    seen = _watch_extract(monkeypatch)
    wh, li = str(tmp_path / "invoices"), str(tmp_path / "line_items")
    invoices = [make_invoice(i) for i in range(1, 6)]
    assert sync_invoices(spark, invoices, wh, li) == (5, 10)
    assert seen["rows"] == 5
    invoices2 = [make_invoice(1, total="222.00")] + [make_invoice(9)]
    assert sync_invoices(spark, invoices2, wh, li) == (2, 4)
    assert seen["rows"] == 5 + 2
    assert len(seen["frames"]) == 2
    assert not any(_runs_python_worker(df) for df in seen["frames"])


def test_entity_replication_wrong_typed_payload_fails_before_commit(spark, tmp_path):
    """The driver-side schema verification runs in front of the extract's
    conversion: a string in a bigint column raises out of the sync, and
    neither target gains a commit."""
    wh, items = str(tmp_path / "orders"), str(tmp_path / "items")
    sync_orders(spark, [_order(1), _order(2)], wh, items)
    versions = [VersionedTable(spark, p).latest_version() for p in (wh, items)]
    bad = [_order(1, total="11.00"), dict(_order(3), id="three")]
    with pytest.raises(TypeError, match="LongType.*can not accept object 'three'"):
        sync_orders(spark, bad, wh, items)
    assert [VersionedTable(spark, p).latest_version() for p in (wh, items)] == versions
    assert read_merged(spark, wh).filter("id = 1").first()["total"] == 10.0


def _sync_as(spark, rows, wh, items, mode, factory):
    spec = dict(ORDER_SYNC, sink={"mode": mode, "keys": ["id"]})
    return pipelines.entity_replication(
        spark, bexio_transport(rows), wh, child_warehouse_path=items,
        clock="2026-03-01 00:00:00", table_factory=factory, **spec,
    )


@pytest.mark.parametrize("factory", [VersionedTable, ParquetTable])
@pytest.mark.parametrize("mode", ["truncate", "upsert"])
def test_entity_replication_counts_rows_on_the_sink_jobs(spark, tmp_path, mode, factory):
    """The returned ``(parent_rows, child_rows)`` are observed on the sinks'
    own jobs and equal the extract's row and position counts: initial load,
    changed re-sync and an empty extract, on both table factories."""
    wh, items = str(tmp_path / "orders"), str(tmp_path / "items")
    base = [_order(i) for i in range(1, 6)]
    resync = [_order(2, total="5.00", n_positions=0), _order(6, n_positions=3)]
    for rows in (base, resync, []):
        expected = (len(rows), sum(len(r["positions"]) for r in rows))
        assert _sync_as(spark, rows, wh, items, mode, factory) == expected
    got = [factory(spark, p).read().count() for p in (wh, items)]
    # upsert keeps orders 1-6; order 2's positions were purged by the re-sync
    assert got == ([0, 0] if mode == "truncate" else [6, 4 * 2 + 3])


@pytest.mark.parametrize("factory", [VersionedTable, ParquetTable])
def test_entity_replication_append_dedup_sink(spark, tmp_path, factory):
    """``append_dedup`` appends only orders whose id is not yet in the
    parent table, so a second identical sync appends nothing."""
    wh, items = str(tmp_path / "orders"), str(tmp_path / "items")
    rows = [_order(1), _order(2)]
    for _ in range(2):
        assert _sync_as(spark, rows, wh, items, "append_dedup", factory) == (2, 4)
        assert sorted(r["id"] for r in factory(spark, wh).read().collect()) == [1, 2]
    _sync_as(spark, [_order(2, total="7.00"), _order(3)], wh, items, "append_dedup", factory)
    got = {r["id"]: r["total"] for r in factory(spark, wh).read().collect()}
    assert got == {1: 10.0, 2: 10.0, 3: 10.0}
    assert factory(spark, items).read().count() == 6


def test_entity_replication_unknown_sink_mode_fails_before_extract(spark, tmp_path):
    """A config the archetype cannot run raises ValueError before any page
    is fetched: an unknown sink mode, ``carry`` outside upsert mode or
    with more than one key, and a dead-letter path without a detail
    fan-out."""

    def transport(url, params):
        raise AssertionError("extract must not run")

    bad_configs = [
        ({"sink": {"mode": "merge", "keys": ["id"]}}, "unknown sink mode 'merge'"),
        (
            {"sink": {"mode": "truncate", "keys": ["id"], "carry": ["total"]}},
            "carry needs upsert mode with a single key",
        ),
        (
            {"sink": {"mode": "upsert", "keys": ["id", "total"], "carry": ["total"]}},
            "carry needs upsert mode with a single key",
        ),
        (
            {"dead_letter_path": str(tmp_path / "dead")},
            "dead_letter_path needs a detail config",
        ),
    ]
    for bad, match in bad_configs:
        with pytest.raises(ValueError, match=match):
            pipelines.entity_replication(
                spark, transport, str(tmp_path / "t"), **dict(ORDER_SYNC, **bad),
            )


def test_entity_replication_child_failure_raised_after_parent_sink(
    spark, tmp_path, monkeypatch
):
    """The sinks run concurrently: a failing child merge does not stop the
    parent merge, its error leaves the sync only once the parent has
    committed, and no thread outlives the call. A re-run repairs the child
    table."""
    wh, items = str(tmp_path / "orders"), str(tmp_path / "items")
    sync_orders(spark, [_order(1)], wh, items)
    merge, events = VersionedTable.merge_upsert, []

    def child_conflicts(self, batch, keys, **kwargs):
        if self.path == items:
            events.append("child raised")
            raise CommitConflict("injected")
        v = merge(self, batch, keys, **kwargs)
        events.append("parent committed")
        return v

    monkeypatch.setattr(VersionedTable, "merge_upsert", child_conflicts)
    threads = threading.active_count()
    versions = [VersionedTable(spark, p).latest_version() for p in (wh, items)]
    rows = [_order(1, total="20.00"), _order(2)]
    with pytest.raises(CommitConflict, match="injected"):
        sync_orders(spark, rows, wh, items)
    assert sorted(events) == ["child raised", "parent committed"]
    assert threading.active_count() == threads
    assert [VersionedTable(spark, p).latest_version() for p in (wh, items)] == [
        versions[0] + 1, versions[1],
    ]
    monkeypatch.undo()
    assert sync_orders(spark, rows, wh, items) == (2, 4)
    assert sorted(r["order_id"] for r in read_merged(spark, items).collect()) == [1, 1, 2, 2]


def test_entity_replication_resync_job_count(spark, tmp_path):
    """A changed re-sync is six Spark jobs: per merge (parent and child,
    run concurrently) one eager checkpoint of the batch and its key frame,
    which also yields the key bounds and the returned row count, the
    broadcast of the delete keys, and the write."""
    wh, items = str(tmp_path / "orders"), str(tmp_path / "items")
    base = [_order(i) for i in range(1, 8)]
    sync_orders(spark, base, wh, items)
    resync = base[:3] + [_order(4, total="99.00", n_positions=1)] + base[4:] + [_order(8)]
    assert _jobs_of(spark, "resync", lambda: sync_orders(spark, resync, wh, items)) == (
        (8, 15), 6,
    )


def test_rest_syncs_run_on_entity_replication():
    """Every REST-extract entry of JOB_MANIFEST is an ``entity_replication``
    spec, save two whose shape the archetype has no stage for:

    - ``billwerk_invoices_incremental`` resumes from a persisted keyset
      watermark and advances it only after the merge commits — state that
      outlives the sync;
    - ``stripe_accounts`` rolls the transactions up per account
      (grouped conditional sums), where the archetype's projection is
      row by row."""
    import inspect

    rest_syncs = {
        name: spec.pipeline
        for name, spec in JOB_MANIFEST.items()
        if "rest." in inspect.getsource(getattr(pipelines, spec.pipeline))
    }
    bespoke = {n: p for n, p in rest_syncs.items() if p != "entity_replication"}
    assert bespoke == {
        "billwerk_invoices_incremental": "billwerk_incremental_invoices",
        "stripe_accounts": "stripe_account_rollup",
    }
    for name in ("hubspot_tickets", "billwerk_contracts", "bexio_invoices",
                 "lexoffice_invoice_items"):
        assert rest_syncs[name] == "entity_replication", name


def test_bexio_invoices_resync_job_count(spark, tmp_path):
    """A changed ``bexio_invoices`` re-sync is eight Spark jobs (twelve for
    the bespoke pipeline it replaced): per merge (header and line items,
    run concurrently) the observed snapshot of the batch and its key
    frame, the broadcast of the delete keys and the write, plus the J1
    lookup under the header snapshot — one existing row per key, an
    aggregate and its broadcast."""
    wh, li = str(tmp_path / "invoices"), str(tmp_path / "line_items")
    sync_invoices(spark, [make_invoice(i) for i in range(1, 6)], wh, li)
    resync = [make_invoice(1, total="222.00", n_positions=1), make_invoice(9)]
    assert _jobs_of(spark, "bexio-resync", lambda: sync_invoices(spark, resync, wh, li)) == (
        (2, 3), 8,
    )


def test_lexoffice_invoice_items_resync_job_count(spark, tmp_path):
    """A changed ``lexoffice_invoice_items`` re-sync with a dead-letter
    path is eight Spark jobs (eleven for the bespoke pipeline it
    replaced): the fan-out's repartition and eager checkpoint, the
    merge's snapshot, broadcast and write, and the dead-letter append's
    anti-join and append, which runs beside the merge. Reading the
    existing dead-letter table takes its schema from a parquet footer,
    so it runs no inference job."""
    list_t, detail_t = lexoffice_transports(20)
    wh, dl = str(tmp_path / "items"), str(tmp_path / "dead_letters")
    sync_lexoffice(spark, list_t, detail_t, wh, dead_letter_path=dl)

    def detail_t2(vid):
        d = detail_t(vid)
        if d is not None and vid == "v1":
            d["lineItems"] = []
        return d

    n, jobs = _jobs_of(
        spark, "lexoffice-resync",
        lambda: sync_lexoffice(spark, list_t, detail_t2, wh, dead_letter_path=dl),
    )
    assert (n, jobs) == (18, 8)
