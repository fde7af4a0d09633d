"""Hermetic end-to-end tests for the per-entity manifest
(jobs/entities.py): one representative per family runs its manifest entry
exactly as __main__ would — resolve JobSpec.pipeline, pass JobSpec.params
under runtime kwargs — over fixture transports and a temp warehouse.
Breadth closure (every entry resolvable + JSON-expressible + ref-cited) is
asserted across ALL entries.
"""

from __future__ import annotations

import json
import os

import pytest

from bi_gcp_stitch_repl_spark.jobs import pipelines
from bi_gcp_stitch_repl_spark.jobs.entities import ENTITY_MANIFEST
from bi_gcp_stitch_repl_spark.jobs.schedule import JOB_MANIFEST

CLOCK = "2026-01-02 03:04:05"


def run_entry(spark, name, transport, tmp_path, **extra):
    spec = ENTITY_MANIFEST[name]
    fn = getattr(pipelines, spec.pipeline)
    kwargs = {**(spec.params or {}), **extra}
    return fn(
        spark,
        transport,
        str(tmp_path / name),
        clock=CLOCK,
        **kwargs,
    )


def read(spark, tmp_path, name):
    return pipelines.merge_table(spark, str(tmp_path / name)).read()


# --------------------------------------------------------------------------
# breadth closure
# --------------------------------------------------------------------------


def test_every_entity_entry_is_declarative_and_resolvable():
    assert len(ENTITY_MANIFEST) >= 30
    for name, spec in ENTITY_MANIFEST.items():
        assert hasattr(pipelines, spec.pipeline), name
        assert spec.ref, name  # parity audit trail is mandatory here
        # params must survive a JSON round-trip — that IS the
        # "declarative config" claim
        assert spec.params == json.loads(json.dumps(spec.params)), name
        assert name in JOB_MANIFEST  # merged into the master manifest


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/dags"),
    reason="reference checkout not present",
)
def test_entity_refs_point_at_real_reference_dags():
    for name, spec in ENTITY_MANIFEST.items():
        assert os.path.isfile(f"/root/reference/{spec.ref}"), (name, spec.ref)


# --------------------------------------------------------------------------
# billwerk family: keyset + flatten + truncate; detail fan-out; child explode
# --------------------------------------------------------------------------


def keyset_transport(rows, id_key="Id"):
    def t(url, params):
        data = sorted(rows, key=lambda r: r[id_key])
        start = params.get("from")
        if start is not None:
            data = [r for r in data if r[id_key] >= start]
        return data[: params["take"]]

    return t


def test_billwerk_customers_flatten_and_truncate(spark, tmp_path):
    rows = [
        {
            "Id": f"c{i}",
            "CustomerName": f"Cust {i}",
            "Address": {
                "Street": "Main",
                "HouseNumber": str(i),
                "City": "Bern",
                "Country": "CH",
            },
            "CustomFields": {"tier": "gold"},
            "Hidden": False,
        }
        for i in range(7)
    ]
    n = run_entry(spark, "billwerk_customers", keyset_transport(rows), tmp_path)
    assert n == 7
    out = read(spark, tmp_path, "billwerk_customers")
    row = out.filter("id = 'c3'").first()
    assert row["address"] == "Main 3"  # the street+house concat
    assert json.loads(row["custom_fields"]) == {"tier": "gold"}
    assert str(row["created_at"]).startswith("2026-01-02")  # injected clock
    # truncate semantics: a shrunk upstream fully replaces the table
    run_entry(spark, "billwerk_customers", keyset_transport(rows[:2]), tmp_path)
    assert read(spark, tmp_path, "billwerk_customers").count() == 2


def test_billwerk_plans_localized_text_unwrap(spark, tmp_path):
    rows = [
        {"Id": "p1", "Name": {"_c": "Basic"}, "Hidden": False},
        {"Id": "p2", "Hidden": True},  # no Name struct -> NULL, not crash
    ]
    n = run_entry(spark, "billwerk_plans", keyset_transport(rows), tmp_path)
    assert n == 2
    out = {r["id"]: r["name"] for r in read(spark, tmp_path, "billwerk_plans").collect()}
    assert out == {"p1": "Basic", "p2": None}


def test_billwerk_invoice_line_items_child_explode(spark, tmp_path):
    rows = [
        {
            "Id": f"inv{i}",
            "InvoiceNumber": f"N-{i}",
            "Items": [
                {"Description": f"item{j}", "Quantity": float(j), "TotalNet": 10.0 * j}
                for j in range(3)
            ],
        }
        for i in range(4)
    ]
    n, n_child = run_entry(
        spark,
        "billwerk_invoice_line_items",
        keyset_transport(rows),
        tmp_path,
        child_warehouse_path=str(tmp_path / "bw_items"),
    )
    assert (n, n_child) == (4, 12)
    items = pipelines.merge_table(spark, str(tmp_path / "bw_items")).read()
    assert items.count() == 12
    assert items.filter("invoice_id = 'inv2' AND description = 'item1'").count() == 1


def test_billwerk_component_subscriptions_detail_fanout(spark, tmp_path):
    rows = [{"Id": f"ct{i}", "CustomerId": f"cu{i}"} for i in range(5)]

    def fetch(contract_id):
        if contract_id == "ct3":
            return None  # failed fetch: isolated, not fatal
        return {
            "Id": contract_id,
            "ComponentId": f"comp-{contract_id}",
            "Quantity": 2.0,
        }

    n = run_entry(
        spark,
        "billwerk_component_subscriptions",
        keyset_transport(rows),
        tmp_path,
        detail_fetch=fetch,
    )
    assert n == 4  # ct3 dead-lettered
    out = read(spark, tmp_path, "billwerk_component_subscriptions")
    assert out.filter("contract_id = 'ct1'").first()["component_id"] == "comp-ct1"


# --------------------------------------------------------------------------
# bexio family: offset + per-id fan-out + upsert (delete+insert collapsed)
# --------------------------------------------------------------------------


def offset_transport(rows):
    def t(url, params):
        lo = params["offset"]
        return rows[lo : lo + params["limit"]]

    return t


def test_bexio_orders_header_child_and_upsert(spark, tmp_path):
    def order(i):
        return {
            "id": i,
            "document_nr": f"O-{i}",
            "total": str(100 + i),
            "taxs": [{"percentage": "7.7", "value": "1.0"}],
            "positions": [
                {"id": i * 10 + j, "type": "KbPositionCustom", "amount": "1.5"}
                for j in range(2)
            ],
        }

    rows = [order(i) for i in range(6)]
    n, n_child = run_entry(
        spark,
        "bexio_orders_de",
        offset_transport(rows),
        tmp_path,
        child_warehouse_path=str(tmp_path / "bexio_positions"),
    )
    assert (n, n_child) == (6, 12)
    out = read(spark, tmp_path, "bexio_orders_de")
    assert out.filter("id = 2").first()["tax_percentage"] == 7.7
    assert out.filter("id = 2").first()["total"] == 102.0
    # upsert: refetch with changed totals updates in place, no duplicates
    rows2 = [dict(order(i), total=str(200 + i)) for i in range(6)]
    run_entry(
        spark,
        "bexio_orders_de",
        offset_transport(rows2),
        tmp_path,
        child_warehouse_path=str(tmp_path / "bexio_positions"),
    )
    out2 = read(spark, tmp_path, "bexio_orders_de")
    assert out2.count() == 6
    assert out2.filter("id = 2").first()["total"] == 202.0


def test_bexio_orders_child_purges_emptied_parent_positions(spark, tmp_path):
    """Per-parent DELETE+INSERT for the child sink: a refetched order
    whose positions array became EMPTY contributes zero batch rows, and
    only the key_frame (the full fetched parent-id set) purges its stale
    positions — a batch-keyed merge would keep them alive forever
    (the reference's per-invoice DELETE+INSERT)."""

    def order(i, n_pos):
        return {
            "id": i,
            "document_nr": f"O-{i}",
            "total": str(100 + i),
            "taxs": [{"percentage": "7.7", "value": "1.0"}],
            "positions": [
                {"id": i * 10 + j, "type": "KbPositionCustom", "amount": "1.5"}
                for j in range(n_pos)
            ],
        }

    child_path = str(tmp_path / "bexio_positions")
    run_entry(
        spark,
        "bexio_orders_de",
        offset_transport([order(i, 2) for i in range(3)]),
        tmp_path,
        child_warehouse_path=child_path,
    )
    items = pipelines.merge_table(spark, child_path).read()
    assert items.filter("order_id = 1").count() == 2
    # order 1's position list shrinks to EMPTY upstream; orders 0/2 keep 2
    run_entry(
        spark,
        "bexio_orders_de",
        offset_transport([order(0, 2), order(1, 0), order(2, 2)]),
        tmp_path,
        child_warehouse_path=child_path,
    )
    items2 = pipelines.merge_table(spark, child_path).read()
    assert items2.filter("order_id = 1").count() == 0  # stale rows died
    assert items2.count() == 4


def test_bexio_payments_purges_emptied_invoice_payments(spark, tmp_path):
    """Explode-path main merge: an invoice whose payments list became
    EMPTY between runs explodes to zero batch rows; the sink's explicit
    key_frame mapping (kb_invoice_id = fetched invoice id) widens the
    delete scope so its stale payment rows are purged."""

    def fetcher(n_by_invoice):
        def fetch(invoice_id):
            return {
                "id": invoice_id,
                "payments": [
                    {
                        "id": invoice_id * 100 + j,
                        "kb_invoice_id": invoice_id,
                        "value": "12.50",
                        "is_cash_discount": False,
                    }
                    for j in range(n_by_invoice.get(invoice_id, 0))
                ],
            }

        return fetch

    rows = [{"id": i} for i in range(3)]
    run_entry(
        spark,
        "bexio_payments_de",
        offset_transport(rows),
        tmp_path,
        detail_fetch=fetcher({0: 2, 1: 2, 2: 2}),
    )
    out = read(spark, tmp_path, "bexio_payments_de")
    assert out.filter("kb_invoice_id = 1").count() == 2
    # invoice 1 refunds everything: payments list now empty
    run_entry(
        spark,
        "bexio_payments_de",
        offset_transport(rows),
        tmp_path,
        detail_fetch=fetcher({0: 2, 1: 0, 2: 2}),
    )
    out2 = read(spark, tmp_path, "bexio_payments_de")
    assert out2.filter("kb_invoice_id = 1").count() == 0  # stale rows died
    assert out2.count() == 4


def test_bexio_payments_list_detail_explodes_to_rows(spark, tmp_path):
    rows = [{"id": i} for i in range(4)]

    def fetch(invoice_id):
        return {
            "id": invoice_id,
            "payments": [
                {
                    "id": invoice_id * 100 + j,
                    "kb_invoice_id": invoice_id,
                    "value": "12.50",
                    "is_cash_discount": False,
                }
                for j in range(2)
            ],
        }

    n = run_entry(
        spark,
        "bexio_payments_de",
        offset_transport(rows),
        tmp_path,
        detail_fetch=fetch,
    )
    assert n == 8  # 4 invoices x 2 payments
    out = read(spark, tmp_path, "bexio_payments_de")
    assert out.filter("kb_invoice_id = 2").count() == 2
    assert out.first()["value"] == 12.5


def test_bexio_order_intervals_struct_defaults(spark, tmp_path):
    rows = [{"id": i} for i in range(3)]

    def fetch(order_id):
        d = {"id": order_id, "start": "2026-01-01", "end": "2026-12-31"}
        if order_id != 1:  # order 1 has no repetition struct -> NULLs
            d["repetition"] = {"type": "monthly", "interval": 1}
        return d

    n = run_entry(
        spark,
        "bexio_order_intervals_de",
        offset_transport(rows),
        tmp_path,
        detail_fetch=fetch,
    )
    assert n == 3
    out = {r["order_id"]: r["type"] for r in read(
        spark, tmp_path, "bexio_order_intervals_de"
    ).collect()}
    assert out == {0: "monthly", 1: None, 2: "monthly"}


# --------------------------------------------------------------------------
# lexoffice family: page-counter voucherlist + per-voucher detail
# --------------------------------------------------------------------------


def voucherlist_transport(vouchers):
    def t(url, params):
        page, size = params["page"], params["size"]
        chunk = vouchers[page * size : (page + 1) * size]
        return {"content": chunk, "last": (page + 1) * size >= len(vouchers)}

    return t


def test_lexoffice_credits_voucherlist_pages(spark, tmp_path):
    vouchers = [
        {"id": f"v{i}", "voucherType": "creditnote", "totalAmount": 5.0 + i}
        for i in range(23)
    ]
    n = run_entry(
        spark,
        "lexoffice_credits",
        voucherlist_transport(vouchers),
        tmp_path,
        # small pages to force real pagination through the page_flag path
        source={
            **ENTITY_MANIFEST["lexoffice_credits"].params["source"],
            "size": 10,
        },
    )
    assert n == 23
    assert read(spark, tmp_path, "lexoffice_credits").count() == 23


def test_lexoffice_payments_detail_per_invoice(spark, tmp_path):
    vouchers = [{"id": f"inv{i}", "voucherType": "invoice"} for i in range(5)]

    def fetch(vid):
        return {"id": vid, "openAmount": 1.25, "paymentStatus": "openRevenue"}

    n = run_entry(
        spark,
        "lexoffice_payments",
        voucherlist_transport(vouchers),
        tmp_path,
        detail_fetch=fetch,
    )
    assert n == 5
    row = read(spark, tmp_path, "lexoffice_payments").first()
    assert row["paymentStatus"] == "openRevenue"
    assert row["openAmount"] == 1.25


def test_lexoffice_credit_items_nested_line_items(spark, tmp_path):
    vouchers = [{"id": f"cn{i}", "voucherType": "creditnote"} for i in range(3)]

    def fetch(vid):
        return {
            "id": vid,
            "organizationId": f"org-{vid}",
            "address": {"countryCode": "DE"},
            "lineItems": [
                {
                    "id": f"{vid}-li{j}",
                    "name": f"prod{j}",
                    "quantity": 1.0,
                    "unitPrice": {"currency": "EUR", "netAmount": 9.99},
                }
                for j in range(2)
            ],
        }

    n, n_child = run_entry(
        spark,
        "lexoffice_credit_items",
        voucherlist_transport(vouchers),
        tmp_path,
        detail_fetch=fetch,
        child_warehouse_path=str(tmp_path / "credit_lines"),
    )
    assert (n, n_child) == (3, 6)
    lines = pipelines.merge_table(spark, str(tmp_path / "credit_lines")).read()
    row = lines.filter("productid = 'cn1-li0'").first()
    assert row["credit_id"] == "cn1"
    assert row["net_amount"] == 9.99
    assert row["currency"] == "EUR"


# --------------------------------------------------------------------------
# hubspot cursor family + stripe starting_after
# --------------------------------------------------------------------------


def cursor_transport(pages):
    """pages: list of results lists; link chain p0 -> p1 -> ..."""

    def t(url, params):
        idx = int(url.split("#page=")[1]) if "#page=" in url else 0
        data = {"results": pages[idx]}
        if idx + 1 < len(pages):
            data["paging"] = {"next": {"link": f"{url.split('#')[0]}#page={idx + 1}"}}
        return data

    return t


def test_hubspot_ticket_claims_cursor_and_association(spark, tmp_path):
    def ticket(i):
        return {
            "id": str(i),
            "properties": {"claim": f"cl{i}", "currency": "EUR"},
            "associations": {
                "companies": {"results": [{"id": f"co{i}", "type": "t"}]}
            },
        }

    pages = [[ticket(i) for i in range(3)], [ticket(i) for i in range(3, 5)]]
    n = run_entry(
        spark, "hubspot_ticket_claims", cursor_transport(pages), tmp_path
    )
    assert n == 5
    row = read(spark, tmp_path, "hubspot_ticket_claims").filter(
        "ticket_id = '4'"
    ).first()
    assert row["claim"] == "cl4"
    assert row["company_id"] == "co4"


def starting_after_transport(rows):
    def t(url, params):
        start = params.get("starting_after")
        data = rows
        if start is not None:
            ids = [r["id"] for r in rows]
            data = rows[ids.index(start) + 1 :]
        page = data[: params["limit"]]
        return {"data": page, "has_more": len(data) > len(page)}

    return t


def test_stripe_charges_cursor_and_epoch(spark, tmp_path):
    rows = [
        {"id": f"ch_{i:03d}", "amount": 100 * i, "currency": "eur",
         "status": "succeeded", "created": 1700000000 + i}
        for i in range(250)  # > one 100-row page
    ]
    n = run_entry(
        spark, "stripe_charges", starting_after_transport(rows), tmp_path
    )
    assert n == 250
    out = read(spark, tmp_path, "stripe_charges")
    assert out.count() == 250
    assert str(out.filter("id = 'ch_000'").first()["created"]).startswith("2023-11-14")


# --------------------------------------------------------------------------
# sheet family rides sheet_import_snapshot with per-entity params
# --------------------------------------------------------------------------


def sheets_values_transport(values):
    def t(url, params):
        return {"values": values}

    return t


def test_ka_inactive_orgs_sheet_entity(spark, tmp_path):
    values = [
        ["org_id", "org_name", "status"],
        ["1", "Acme", "inactive"],
        ["2", "Beta", "inactive"],
    ]
    spec = ENTITY_MANIFEST["ka_inactive_orgs"]
    fn = getattr(pipelines, spec.pipeline)
    n = fn(
        spark,
        sheets_values_transport(values),
        str(tmp_path / "ka_inactive"),
        spreadsheet_id="sheet-1",
        **spec.params,
    )
    assert n == 2
    out = pipelines.merge_table(spark, str(tmp_path / "ka_inactive")).read()
    assert sorted(out.columns) == ["org_id", "org_name", "status"]


def test_billwerk_cease_date_sheet_date_normalize(spark, tmp_path):
    """The one reference DAG whose core is a per-row date transform over
    a sheet (billwerk_cease_date.py:25-29): 4-column projection + typed
    yyyy-MM-dd parse (empty/malformed cells -> NULL, not a crashed load)
    -> truncate refresh."""
    import datetime

    values = [
        ["No", "customer_id", "admin_cease_date", "Note", "extra_col"],
        ["1", "cu1", "2026-03-31", "churn", "ignored"],
        ["2", "cu2", "", "no date yet", "ignored"],
        ["3", "cu3", "not-a-date", "typo'd cell", "ignored"],
    ]
    spec = ENTITY_MANIFEST["billwerk_cease_date"]
    fn = getattr(pipelines, spec.pipeline)
    n = fn(
        spark,
        sheets_values_transport(values),
        str(tmp_path / "cease"),
        spreadsheet_id="sheet-1",
        **spec.params,
    )
    assert n == 3
    out = pipelines.merge_table(spark, str(tmp_path / "cease")).read()
    assert out.columns == ["No", "customer_id", "admin_cease_date", "Note"]
    rows = {r["customer_id"]: r for r in out.collect()}
    assert rows["cu1"]["admin_cease_date"] == datetime.date(2026, 3, 31)
    assert rows["cu2"]["admin_cease_date"] is None
    assert rows["cu3"]["admin_cease_date"] is None
    # truncate: a shrunk sheet fully replaces the table
    fn(
        spark,
        sheets_values_transport(values[:2]),
        str(tmp_path / "cease"),
        spreadsheet_id="sheet-1",
        **spec.params,
    )
    assert pipelines.merge_table(spark, str(tmp_path / "cease")).read().count() == 1


def test_cli_runs_entity_job_with_baked_params(spark, tmp_path):
    """The spark-submit CLI path end-to-end for a per-entity job: __main__
    merges the entity's baked JobSpec.params UNDER the runtime config
    (transport via the $transport resolver + warehouse path), runs
    entity_replication, and the table lands."""
    import json as _json

    from bi_gcp_stitch_repl_spark.jobs.__main__ import main

    cfg = tmp_path / "job.json"
    cfg.write_text(
        _json.dumps(
            {
                "transport": {
                    "$transport": "tests.fixture_transport:"
                    "make_billwerk_customer_transport"
                },
                "warehouse_path": str(tmp_path / "cust"),
            }
        )
    )
    assert main(["billwerk_customers", "--config", str(cfg)]) == 0
    out = pipelines.merge_table(spark, str(tmp_path / "cust")).read()
    assert out.count() == 3
    assert out.filter("id = 'c1'").first()["address"] == "Main 1"


def test_cli_runs_billwerk_cease_date_sheet_job(spark, tmp_path):
    """The cease-date sheet job driven through the spark-submit CLI path
    (r8 verdict #8): __main__ resolves the sheets $transport, merges the
    baked JobSpec.params (projection + typed yyyy-MM-dd parse), and the
    truncate-refreshed table lands with the NULL coercions intact."""
    import datetime
    import json as _json

    from bi_gcp_stitch_repl_spark.jobs.__main__ import main

    cfg = tmp_path / "job.json"
    cfg.write_text(
        _json.dumps(
            {
                "transport": {
                    "$transport": "tests.fixture_transport:"
                    "make_cease_date_sheet_transport"
                },
                "warehouse_path": str(tmp_path / "cease"),
                "spreadsheet_id": "sheet-1",
            }
        )
    )
    assert main(["billwerk_cease_date", "--config", str(cfg)]) == 0
    out = pipelines.merge_table(spark, str(tmp_path / "cease")).read()
    assert out.columns == ["No", "customer_id", "admin_cease_date", "Note"]
    rows = {r["customer_id"]: r for r in out.collect()}
    assert rows["cu1"]["admin_cease_date"] == datetime.date(2026, 3, 31)
    assert rows["cu2"]["admin_cease_date"] is None
    assert rows["cu3"]["admin_cease_date"] is None


def test_detail_fanout_fetches_each_key_exactly_once(spark, tmp_path):
    """The fan-out is checkpointed before count/sink actions: without it,
    every downstream action re-runs the mapInPandas fetch and the API
    sees each key once PER ACTION (double traffic + rate-limit burn)."""
    calls_dir = tmp_path / "calls"
    calls_dir.mkdir()
    calls_path = str(calls_dir)  # workers share the local FS in local mode
    rows = [{"Id": f"ct{i}"} for i in range(4)]

    def fetch(contract_id):
        import os
        import uuid

        with open(os.path.join(calls_path, uuid.uuid4().hex), "w") as f:
            f.write(contract_id)
        return {"Id": contract_id, "ComponentId": "c", "Quantity": 1.0}

    run_entry(
        spark,
        "billwerk_component_subscriptions",
        keyset_transport(rows),
        tmp_path,
        detail_fetch=fetch,
    )
    calls = sorted(p.read_text() for p in calls_dir.iterdir())
    assert calls == [f"ct{i}" for i in range(4)]  # once each


def test_explode_plus_child_purges_emptied_parent(spark, tmp_path):
    """When the MAIN rows are themselves exploded array elements AND a
    child sink exists, the child's completeness frame must come from the
    PRE-explode fetched parents: a parent whose main array emptied has
    zero post-explode frame rows, and deriving key_frame from the frame
    would silently drop it from the delete scope — its stale child rows
    would survive every merge (the same bug class the main/child sinks
    fixed separately this round)."""

    def parent(i, n_pay):
        return {
            "id": i,
            "payments": [
                {
                    "pid": i * 10 + j,
                    "lines": [
                        {"lid": i * 100 + j * 10 + k, "amt": "1.0"}
                        for k in range(2)
                    ],
                }
                for j in range(n_pay)
            ],
        }

    spec = dict(
        source={
            "protocol": "offset",
            "url": "https://api.example.test/parents",
            "limit": 500,
            "schema": (
                "id bigint, payments array<struct<pid:bigint,"
                "lines:array<struct<lid:bigint,amt:string>>>>"
            ),
        },
        explode={"array_col": "payments", "parent_map": {"id": "parent_id"}},
        select=[{"name": "parent_id"}, {"name": "pid"}],
        sink={"mode": "upsert", "keys": ["pid"]},
        child={
            "array_col": "lines",
            "parent_map": {"parent_id": "parent_id"},
            "select": [{"name": "parent_id"}, {"name": "lid"}],
            "keys": ["parent_id"],
        },
        child_warehouse_path=str(tmp_path / "lines"),
    )
    pipelines.entity_replication(
        spark,
        offset_transport([parent(1, 1), parent(2, 1)]),
        str(tmp_path / "main"),
        clock=CLOCK,
        **spec,
    )
    lines = pipelines.merge_table(spark, str(tmp_path / "lines")).read()
    assert lines.filter("parent_id = 1").count() == 2
    # parent 1's payments array empties upstream: its child rows must die
    pipelines.entity_replication(
        spark,
        offset_transport([parent(1, 0), parent(2, 1)]),
        str(tmp_path / "main"),
        clock=CLOCK,
        **spec,
    )
    lines2 = pipelines.merge_table(spark, str(tmp_path / "lines")).read()
    assert lines2.filter("parent_id = 1").count() == 0
    assert lines2.filter("parent_id = 2").count() == 2
