"""Transport factories for the CLI ``$transport`` resolver tests (must be
importable by module path — the resolver imports ``module:function``)."""

from __future__ import annotations


def make_billwerk_customer_transport():
    """Factory for the CLI $transport resolver test: a tiny keyset
    'customers' API (jobs/entities.py billwerk_customers entity)."""
    rows = [
        {
            "Id": f"c{i}",
            "CustomerName": f"Cust {i}",
            "Address": {"Street": "Main", "HouseNumber": str(i)},
            "Hidden": False,
        }
        for i in range(3)
    ]

    def transport(url, params):
        data = sorted(rows, key=lambda r: r["Id"])
        start = params.get("from")
        if start is not None:
            data = [r for r in data if r["Id"] >= start]
        return data[: params["take"]]

    return transport


def make_cease_date_sheet_transport():
    """Factory for the CLI $transport resolver: the billwerk cease-date
    admin sheet (jobs/entities.py BILLWERK_CEASE_DATE) — a well-formed
    date, an empty cell and a malformed cell, so the CLI smoke covers
    the typed-parse NULL coercions end to end."""
    values = [
        ["No", "customer_id", "admin_cease_date", "Note", "extra_col"],
        ["1", "cu1", "2026-03-31", "churn", "ignored"],
        ["2", "cu2", "", "no date yet", "ignored"],
        ["3", "cu3", "not-a-date", "typo'd cell", "ignored"],
    ]

    def transport(url, params):
        return {"values": values}

    return transport


# -- the JOB_MANIFEST REST syncs, for the CLI $transport resolver ------------


def make_bexio_invoice_transport():
    """Offset-paged bexio invoices (``bexio_invoices``): two with
    positions, one with none."""
    invoices = [
        {
            "id": i,
            "title": f"inv\n{i}",
            "total": "10.00",
            "updated_at": "2024-03-01 10:00:00",
            "positions": [
                {"id": i * 10 + p, "type": "KbPositionCustom", "amount": "1",
                 "unit_price": "5.00"}
                for p in range(2 if i < 3 else 0)
            ],
        }
        for i in (1, 2, 3)
    ]

    def transport(url, params):
        lo = params["offset"]
        return invoices[lo : lo + params["limit"]]

    return transport


def make_lexoffice_voucher_transport():
    """One voucherlist page (``lexoffice_invoice_items``): two live
    invoices, an archived one and a credit note."""
    vouchers = [
        {"id": "v1", "voucherType": "invoice", "archived": False},
        {"id": "v2", "voucherType": "invoice", "archived": False},
        {"id": "v3", "voucherType": "invoice", "archived": True},
        {"id": "v4", "voucherType": "creditnote", "archived": False},
    ]

    def transport(url, params):
        return {"content": vouchers, "last": True}

    return transport


def make_lexoffice_detail_fetch():
    """Invoice detail by id: v1 has one line item, v2 fails."""

    def fetch(vid):
        if vid == "v2":
            raise ConnectionError("upstream timeout")
        return {"id": vid, "lineItems": [{"id": f"{vid}-l0", "quantity": 1.0}]}

    return fetch


def make_billwerk_contract_transport():
    """Keyset-paged billwerk contracts (``billwerk_contracts``)."""
    rows = [
        {"Id": "c1", "CustomFields": {"tier": "gold"}},
        {"Id": "c2", "PaymentBearer": {"EmailAddress": "a@b.c"}},
    ]

    def transport(url, params):
        start = params.get("from")
        data = [r for r in rows if start is None or r["Id"] >= start]
        return data[: params["take"]]

    return transport


def make_hubspot_ticket_transport():
    """Two cursor-linked ticket pages (``hubspot_tickets``)."""
    pages = {
        None: {"results": [{"id": "1"}], "paging": {"next": {"link": "page-2"}}},
        "page-2": {"results": [{"id": "2", "associations": {"companies": {
            "results": [{"id": "77", "type": "ticket_to_company"}]}}}]},
    }

    def transport(url, params):
        return pages.get(url if url == "page-2" else None)

    return transport
