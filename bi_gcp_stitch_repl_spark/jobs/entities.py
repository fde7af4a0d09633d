"""Per-entity replication manifest: every reference DAG file as ONE
declarative JobSpec over a shipped archetype.

The reference runs ~50 Airflow DAG files that are each a copy-pasted
fetch→flatten→load script differing only in endpoint, pagination protocol,
column map, and cron (SURVEY §2.12). Here each becomes a ``JobSpec`` whose
``params`` is the JSON config of an archetype pipeline — almost all of
them ``pipelines.entity_replication`` (paginate → optional detail fan-out
→ declarative SQL projection → optional child explode → K1/K2/K7 sink);
the sheet family rides ``sheet_import_snapshot`` and the CRM write-back
family rides ``reverse_etl_company_status``. Runtime concerns (transport,
warehouse paths) come from the ``--config`` file; everything below is the
entity's identity and is byte-stable across deployments.

The REST syncs of the core ``schedule.JOB_MANIFEST`` are specs here too:
``BEXIO_INVOICES`` (J1 carry-forward + line items),
``LEXOFFICE_INVOICE_ITEMS`` (filtered list → detail fan-out → line items,
with a dead-letter path at deployment), ``BILLWERK_CONTRACTS`` and
``HUBSPOT_TICKETS``. They keep their manifest names and crons and are not
in ``ENTITY_MANIFEST``.
Only two REST syncs keep a function of their own: the billwerk invoice
watermark and the stripe account rollup (see ``pipelines``).

Each entry's ``ref`` cites the reference DAG it replaces; the README's
parity table is generated from this module, and ``tests/test_entities.py``
runs one hermetic end-to-end per family over fixture transports.

Crons mirror the reference's staggered ``schedule_interval`` values where
the file pins one (e.g. billwerk customers '15 22 * * *',
``dags/billwerk/biilwerk_customers.py:209``).
"""

from __future__ import annotations

from .spec import JobSpec

# --------------------------------------------------------------------------
# billwerk: keyset pagination (`from=<last Id>`), flatten with struct
# defaults, WRITE_TRUNCATE loads (dags/billwerk/*.py)
# --------------------------------------------------------------------------

#: audit columns the reference inserts on every billwerk frame
#: (biilwerk_customers.py:126-127: created_at/updated_at = now)
_AUDIT = [
    {"name": "created_at", "sql": "_now"},
    {"name": "updated_at", "sql": "_now"},
]


def _billwerk(entity: str, take: int = 500) -> dict:
    return {
        "protocol": "keyset",
        "url": f"https://app.billwerk.com/api/v1/{entity}",
        "take": take,
        "id_key": "Id",
    }


BILLWERK_CUSTOMERS = JobSpec(
    "entity_replication", "15 22 * * *",
    "Billwerk customers keyset scan -> flatten -> truncate-refresh",
    ref="dags/billwerk/biilwerk_customers.py",
    params={
        "source": {
            **_billwerk("customers"),
            "schema": (
                "Id string, CreatedAt string, DeletedAt string,"
                " IsDeletable boolean, IsLocked boolean, CustomerName string,"
                " CustomerSubName string, ExternalCustomerId string,"
                " CompanyName string, FirstName string, LastName string,"
                " Language string, EmailAddress string, Notes string,"
                " Address struct<Street:string,HouseNumber:string,"
                "City:string,Country:string>, Locale string,"
                " CustomFields map<string,string>, Hidden boolean"
            ),
        },
        # biilwerk_customers.py:124-147 flat_entry, incl. the address
        # concat and the custom-fields dict serialized to a string
        "select": [
            {"name": "id", "sql": "Id"},
            *_AUDIT,
            {"name": "deleted_at", "sql": "DeletedAt"},
            {"name": "is_deletable", "sql": "IsDeletable"},
            {"name": "is_locked", "sql": "IsLocked"},
            {"name": "customer_name", "sql": "CustomerName"},
            {"name": "customer_subname", "sql": "CustomerSubName"},
            {"name": "external_customer_id", "sql": "ExternalCustomerId"},
            {"name": "company_name", "sql": "CompanyName"},
            {"name": "first_name", "sql": "FirstName"},
            {"name": "last_name", "sql": "LastName"},
            {"name": "language", "sql": "Language"},
            {"name": "email_address", "sql": "EmailAddress"},
            {"name": "notes", "sql": "Notes"},
            {
                "name": "address",
                "sql": "concat(coalesce(Address.Street, ''), ' ',"
                " coalesce(Address.HouseNumber, ''))",
            },
            {"name": "city", "sql": "Address.City"},
            {"name": "country", "sql": "Address.Country"},
            {"name": "locale", "sql": "Locale"},
            {"name": "custom_fields", "sql": "to_json(CustomFields)"},
            {"name": "hidden", "sql": "Hidden"},
        ],
        "sink": {"mode": "truncate"},
    },
)

BILLWERK_DISCOUNTS = JobSpec(
    "entity_replication", "30 22 * * *",
    "Billwerk discounts keyset scan -> effect/duration flatten -> truncate",
    ref="dags/billwerk/biilwerk_discounts.py",
    params={
        "source": {
            **_billwerk("discounts"),
            "schema": (
                "Id string, PlanGroupId string,"
                " Description struct<additionalProp1:string>,"
                " InternalName string,"
                " Effect struct<Type:string,ReductionPercent:double>,"
                " IncludeSetup boolean, CreateSeparateLineItem boolean,"
                " Notes string, Hidden boolean,"
                " Duration struct<Quantity:int,Unit:string>"
            ),
        },
        # biilwerk_discounts.py:126-137: nested gets with defaults + the
        # newline/quote scrub on Notes
        "select": [
            {"name": "id", "sql": "Id"},
            *_AUDIT,
            {"name": "plan_group_id", "sql": "PlanGroupId"},
            {"name": "internal_name", "sql": "InternalName"},
            {"name": "description", "sql": "Description.additionalProp1"},
            {"name": "effect_type", "sql": "Effect.Type"},
            {"name": "reduction_percent", "sql": "Effect.ReductionPercent"},
            {"name": "include_setup", "sql": "IncludeSetup"},
            {"name": "create_separate_line_item", "sql": "CreateSeparateLineItem"},
            {
                "name": "notes",
                "sql": r"regexp_replace(coalesce(Notes, ''), '[\\n\\r]', ' ')",
            },
            {"name": "hidden", "sql": "Hidden"},
            {"name": "duration_quantity", "sql": "Duration.Quantity"},
            {"name": "duration_unit", "sql": "Duration.Unit"},
        ],
        "sink": {"mode": "truncate"},
    },
)

BILLWERK_PLANS = JobSpec(
    "entity_replication", "15 23 * * *",
    "Billwerk plans keyset scan -> localized-text flatten -> truncate",
    ref="dags/billwerk/biilwerk_plans.py",
    params={
        "source": {
            **_billwerk("plans"),
            "schema": (
                "Id string, PlanGroupId string, Name struct<_c:string>,"
                " PlanDescription struct<_c:string>,"
                " SetupDescription struct<_c:string>, TrialEndPolicy string,"
                " TaxPolicyId string, IsQuantityBased boolean, Hidden boolean"
            ),
        },
        # biilwerk_plans.py:83-90: the Name._c localized-text unwrap
        "select": [
            {"name": "id", "sql": "Id"},
            *_AUDIT,
            {"name": "plan_group_id", "sql": "PlanGroupId"},
            {"name": "name", "sql": "Name._c"},
            {"name": "plan_description", "sql": "PlanDescription._c"},
            {"name": "setup_description", "sql": "SetupDescription._c"},
            {"name": "trial_end_policy", "sql": "TrialEndPolicy"},
            {"name": "tax_policy_id", "sql": "TaxPolicyId"},
            {"name": "is_quantity_based", "sql": "IsQuantityBased"},
            {"name": "hidden", "sql": "Hidden"},
        ],
        "sink": {"mode": "truncate"},
    },
)

BILLWERK_PLAN_VARIANTS = JobSpec(
    "entity_replication", "30 23 * * *",
    "Billwerk plan variants keyset scan -> period flatten -> truncate",
    ref="dags/billwerk/billwerk_plan_variants.py",
    params={
        "source": {
            **_billwerk("planVariants"),
            "schema": (
                "Id string, PlanId string, EndAfterFirstContractPeriod boolean,"
                " AllowSelfService boolean,"
                " ContractPeriod struct<Quantity:int,Unit:string>,"
                " LaterContractPeriod struct<Quantity:int,Unit:string>"
            ),
        },
        # billwerk_plan_variants.py:91-98
        "select": [
            {"name": "id", "sql": "Id"},
            *_AUDIT,
            {"name": "plan_id", "sql": "PlanId"},
            {
                "name": "end_after_first_contract_period",
                "sql": "EndAfterFirstContractPeriod",
            },
            {"name": "allow_self_service", "sql": "AllowSelfService"},
            {"name": "contract_period_quantity", "sql": "ContractPeriod.Quantity"},
            {"name": "contract_period_unit", "sql": "ContractPeriod.Unit"},
            {
                "name": "later_contract_period_quantity",
                "sql": "LaterContractPeriod.Quantity",
            },
            {
                "name": "later_contract_period_unit",
                "sql": "LaterContractPeriod.Unit",
            },
        ],
        "sink": {"mode": "truncate"},
    },
)

BILLWERK_SUBSCRIPTIONS = JobSpec(
    "entity_replication", "0 23 * * *",
    "Billwerk subscriptions keyset scan -> audit columns -> truncate",
    ref="dags/billwerk/biilwerk_subscriptions.py",
    params={
        "source": {
            **_billwerk("subscriptions"),
            "schema": (
                "Id string, CustomerId string, ContractId string,"
                " PlanVariantId string, Status string"
            ),
        },
        # biilwerk_subscriptions.py:73-75: passthrough + created/updated
        # audit columns inserted after Id
        "select": [
            {"name": "id", "sql": "Id"},
            *_AUDIT,
            {"name": "customer_id", "sql": "CustomerId"},
            {"name": "contract_id", "sql": "ContractId"},
            {"name": "plan_variant_id", "sql": "PlanVariantId"},
            {"name": "status", "sql": "Status"},
        ],
        "sink": {"mode": "truncate"},
    },
)

BILLWERK_INVOICES_V3 = JobSpec(
    "entity_replication", "45 23 * * *",
    "Billwerk invoices keyset scan -> recipient-address flatten -> truncate",
    ref="dags/billwerk/biilwerk_invoices_v3.py",
    params={
        "source": {
            **_billwerk("invoices"),
            "schema": (
                "Id string, InvoiceNumber string, CustomerId string,"
                " ContractId string, SentAt string, DueDate string,"
                " RecipientName string, RecipientSubName string,"
                " RecipientAddress struct<Street:string,PostalCode:string,"
                "City:string,Country:string>, TotalGross double,"
                " TotalNet double, Currency string, PaymentStatus string"
            ),
        },
        # biilwerk_invoices_v3.py:116-124
        "select": [
            {"name": "id", "sql": "Id"},
            *_AUDIT,
            {"name": "invoice_number", "sql": "InvoiceNumber"},
            {"name": "customer_id", "sql": "CustomerId"},
            {"name": "contract_id", "sql": "ContractId"},
            {"name": "sent_at", "sql": "SentAt"},
            {"name": "due_date", "sql": "DueDate"},
            {"name": "recipient_name", "sql": "RecipientName"},
            {"name": "recipient_subname", "sql": "RecipientSubName"},
            {"name": "recipient_address", "sql": "RecipientAddress.Street"},
            {"name": "recipient_zipcode", "sql": "RecipientAddress.PostalCode"},
            {"name": "recipient_city", "sql": "RecipientAddress.City"},
            {"name": "recipient_country", "sql": "RecipientAddress.Country"},
            {"name": "total_gross", "sql": "TotalGross"},
            {"name": "total_net", "sql": "TotalNet"},
            {"name": "currency", "sql": "Currency"},
            {"name": "payment_status", "sql": "PaymentStatus"},
        ],
        "sink": {"mode": "truncate"},
    },
)

BILLWERK_INVOICE_LINE_ITEMS = JobSpec(
    "entity_replication", "15 0 * * *",
    "Billwerk invoices detailLevel=2 -> line-item explode -> truncate",
    ref="dags/billwerk/biilwerk_invoices_line_items.py",
    params={
        "source": {
            **_billwerk("invoices"),
            "params": {"detailLevel": 2},
            "schema": (
                "Id string, InvoiceNumber string, CustomerId string,"
                " Currency string, RecipientName string,"
                " Items array<struct<PeriodStart:string,PeriodEnd:string,"
                "Description:string,Quantity:double,PricePerUnit:double,"
                "TotalNet:double,TotalGross:double>>"
            ),
        },
        "select": [
            {"name": "id", "sql": "Id"},
            *_AUDIT,
            {"name": "invoice_number", "sql": "InvoiceNumber"},
            {"name": "customer_id", "sql": "CustomerId"},
            {"name": "currency", "sql": "Currency"},
        ],
        # biilwerk_invoices_line_items.py:94-130: per-invoice items
        "child": {
            "array_col": "Items",
            "parent_map": {"Id": "invoice_id"},
            "select": [
                {"name": "invoice_id"},
                {"name": "period_start", "sql": "PeriodStart"},
                {"name": "period_end", "sql": "PeriodEnd"},
                {"name": "description", "sql": "Description"},
                {"name": "quantity", "sql": "Quantity"},
                {"name": "price_per_unit", "sql": "PricePerUnit"},
                {"name": "total_net", "sql": "TotalNet"},
                {"name": "total_gross", "sql": "TotalGross"},
            ],
        },
        "sink": {"mode": "truncate"},
    },
)

BILLWERK_COMPONENT_SUBSCRIPTIONS = JobSpec(
    "entity_replication", "45 22 * * *",
    "Billwerk contracts -> per-contract componentSubscriptions fan-out",
    ref="dags/billwerk/biilwerk_plans_component_subscription.py",
    params={
        "source": {
            **_billwerk("contracts"),
            "params": {"detailLevel": 2},
            "schema": "Id string, CustomerId string",
        },
        # biilwerk_plans_component_subscription.py:69: GET
        # /contracts/{id}/componentSubscriptions per listed contract
        "detail": {
            "key_col": "Id",
            "schema": (
                "Id string, ComponentId string, Quantity double,"
                " StartDate string, EndDate string"
            ),
        },
        "select": [
            {"name": "contract_id", "sql": "Id"},
            *_AUDIT,
            {"name": "component_id", "sql": "ComponentId"},
            {"name": "quantity", "sql": "Quantity"},
            {"name": "start_date", "sql": "StartDate"},
            {"name": "end_date", "sql": "EndDate"},
        ],
        "sink": {"mode": "truncate"},
    },
)

BILLWERK_CONTRACTS = JobSpec(
    "entity_replication", "30 22 * * *",
    "Billwerk contract snapshot truncate-refresh",
    ref="dags/billwerk/biilwerk_contracts.py",
    params={
        "source": {
            **_billwerk("contracts"),
            "schema": (
                "Id string NOT NULL, LastBillingDate string,"
                " NextBillingDate string, PlanId string, CustomerId string,"
                " LifecycleStatus string, CustomerName string,"
                " Balance double, ReferenceCode string, Currency string,"
                " PlanGroupId string,"
                " PaymentBearer struct<EmailAddress:string,Type:string>,"
                " CurrentPhase struct<Type:string,StartDate:string,"
                "PlanVariantId:string,PlanId:string,Quantity:bigint,"
                "InheritStartDate:boolean>,"
                " StartDate string, BilledUntil string, PlanVariantId string,"
                " EndDate string, CustomFields map<string,string>"
            ),
        },
        # biilwerk_contracts.py:126-169: nested gets with defaults (F23)
        # and the custom-fields dict serialized to a string (F25)
        "select": [
            {"name": "contract_id", "sql": "Id"},
            {"name": "customer_id", "sql": "CustomerId"},
            {"name": "customer_name", "sql": "CustomerName"},
            {"name": "lifecycle_status", "sql": "LifecycleStatus"},
            {"name": "balance", "sql": "Balance"},
            {
                "name": "payment_email",
                "sql": "coalesce(PaymentBearer.EmailAddress, '')",
            },
            {
                "name": "plan_variant_id",
                "sql": "coalesce(CurrentPhase.PlanVariantId, '')",
            },
            {"name": "quantity", "sql": "coalesce(CurrentPhase.Quantity, 0)"},
            {"name": "custom_fields", "sql": "to_json(CustomFields)"},
        ],
        "sink": {"mode": "truncate"},
    },
)

# --------------------------------------------------------------------------
# bexio: offset pagination, per-id detail fan-outs, DELETE+INSERT loads
# (dags/bexio/*.py; the engine's atomic merge replaces the delete window).
# The _ch/_de pairs are the SAME config pointed at a different tenant —
# exactly the "one archetype, N configs" claim.
# --------------------------------------------------------------------------


def _bexio_contacts(country: str, cron: str) -> JobSpec:
    return JobSpec(
        "entity_replication", cron,
        f"Bexio {country.upper()} contacts scan -> typed clean -> upsert",
        ref=f"dags/bexio/bexio_contact_{country}.py",
        params={
            "source": {
                "protocol": "offset",
                "url": "https://api.bexio.com/2.0/contact",
                "limit": 500,
                "schema": (
                    "id bigint, nr string, contact_type_id int, name_1 string,"
                    " name_2 string, address string, postcode string,"
                    " city string, country_id int, mail string,"
                    " mail_second string, phone_fixed string,"
                    " phone_mobile string, url string, remarks string,"
                    " language_id int, is_lead boolean, updated_at string"
                ),
            },
            # bexio_contact_de.py:144-153: language_id fillna(0) int +
            # the desired_order projection; delete-by-id + insert = upsert
            "select": [
                {"name": "updated_at", "sql": "_now"},
                {
                    "name": "u_id",
                    "sql": "sha2(concat('bexio-contact:', cast(id as string)), 256)",
                },
                {"name": "id"},
                {"name": "nr"},
                {"name": "contact_type_id"},
                {"name": "name_1"},
                {"name": "name_2"},
                {"name": "address"},
                {"name": "postcode"},
                {"name": "city"},
                {"name": "country_id"},
                {"name": "mail"},
                {"name": "mail_second"},
                {"name": "phone_fixed"},
                {"name": "phone_mobile"},
                {"name": "url"},
                {"name": "remarks"},
                {"name": "language_id", "sql": "coalesce(language_id, 0)"},
                {"name": "is_lead"},
            ],
            "sink": {"mode": "upsert", "keys": ["id"]},
        },
    )


BEXIO_CONTACTS_DE = _bexio_contacts("de", "35 20 * * *")
BEXIO_CONTACTS_CH = _bexio_contacts("ch", "40 20 * * *")


def _bexio_orders(country: str, cron: str) -> JobSpec:
    return JobSpec(
        "entity_replication", cron,
        f"Bexio {country.upper()} orders scan -> header clean +"
        " position explode -> upsert",
        ref=f"dags/bexio/bexio_orders_{country}.py",
        params={
            "source": {
                "protocol": "offset",
                "url": "https://api.bexio.com/2.0/kb_order",
                "limit": 500,
                "schema": (
                    "id bigint, contact_id bigint, user_id bigint,"
                    " kb_item_status_id int, document_nr string, title string,"
                    " total_gross string, total_net string, total_taxes string,"
                    " total string, mwst_type int, mwst_is_net boolean,"
                    " is_valid_from string, delivery_address_type int,"
                    " is_recurring boolean, updated_at string,"
                    " taxs array<struct<percentage:string,value:string>>,"
                    " positions array<struct<id:bigint,type:string,"
                    "amount:string,unit_price:string,position_total:string,"
                    "text:string,discount_in_percent:string>>"
                ),
            },
            # bexio_orders_de.py:146-156: tax_percentage from taxs[0],
            # to_numeric coercions, desired_order projection
            "select": [
                {"name": "created_at", "sql": "_now"},
                {"name": "updated_at", "sql": "_now"},
                {
                    "name": "u_id",
                    "sql": "sha2(concat('bexio-order:', cast(id as string)), 256)",
                },
                {"name": "id"},
                {"name": "contact_id"},
                {"name": "user_id"},
                {"name": "kb_item_status_id"},
                {"name": "document_nr"},
                {"name": "title"},
                {"name": "total_gross", "sql": "try_cast(total_gross as double)"},
                {"name": "total_net", "sql": "try_cast(total_net as double)"},
                {"name": "total_taxes", "sql": "try_cast(total_taxes as double)"},
                {"name": "total", "sql": "try_cast(total as double)"},
                {
                    "name": "tax_percentage",
                    "sql": "try_cast(taxs[0].percentage as double)",
                },
                {"name": "mwst_type"},
                {"name": "mwst_is_net"},
                {"name": "is_valid_from"},
                {"name": "delivery_address_type"},
                {"name": "is_recurring"},
            ],
            # bexio_orders_de.py:260-265 (order_items desired_order)
            "child": {
                "array_col": "positions",
                "parent_map": {"id": "order_id"},
                "select": [
                    {"name": "created_at", "sql": "_now"},
                    {"name": "order_id"},
                    {"name": "position_id", "sql": "id"},
                    {"name": "type"},
                    {"name": "text"},
                    {"name": "amount", "sql": "try_cast(amount as double)"},
                    {
                        "name": "unit_price",
                        "sql": "try_cast(unit_price as double)",
                    },
                    {
                        "name": "position_total",
                        "sql": "try_cast(position_total as double)",
                    },
                    {
                        "name": "discount_in_percent",
                        "sql": "try_cast(discount_in_percent as double)",
                    },
                ],
                "keys": ["order_id"],
            },
            "sink": {"mode": "upsert", "keys": ["id"]},
        },
    )


BEXIO_ORDERS_DE = _bexio_orders("de", "45 20 * * *")
BEXIO_ORDERS_CH = _bexio_orders("ch", "50 20 * * *")


def _bexio_payments(country: str, cron: str) -> JobSpec:
    return JobSpec(
        "entity_replication", cron,
        f"Bexio {country.upper()} invoice list -> per-invoice /payment"
        " fan-out -> upsert",
        ref=f"dags/bexio/bexio_payments_{country}.py",
        params={
            "source": {
                "protocol": "offset",
                "url": "https://api.bexio.com/2.0/kb_invoice",
                "limit": 500,
                "schema": "id bigint",
            },
            # bexio_payments_de.py:130: GET /kb_invoice/{id}/payment
            # returns a LIST of payments per invoice — the detail schema
            # carries it as an array and the main rows are its elements
            "detail": {
                "key_col": "id",
                "schema": (
                    "id bigint, payments array<struct<id:bigint,"
                    "kb_invoice_id:bigint,kb_credit_voucher_id:bigint,"
                    "kb_bill_id:bigint,payment_service_id:bigint,"
                    "date:string,title:string,kb_credit_voucher_text:string,"
                    "value:string,is_client_account_redemption:boolean,"
                    "is_cash_discount:boolean>>"
                ),
            },
            "explode": {
                "array_col": "payments",
                "parent_map": {"id": "fetched_invoice_id"},
            },
            # bexio_payments_de.py:190-198: value to_numeric +
            # desired_order
            "select": [
                {"name": "created_at", "sql": "_now"},
                {
                    "name": "u_id",
                    "sql": "sha2(concat('bexio-payment:',"
                    " cast(id as string)), 256)",
                },
                {"name": "id"},
                {"name": "kb_invoice_id"},
                {"name": "kb_credit_voucher_id"},
                {"name": "kb_bill_id"},
                {"name": "payment_service_id"},
                {"name": "date"},
                {"name": "title"},
                {"name": "kb_credit_voucher_text"},
                {"name": "value", "sql": "try_cast(value as double)"},
                {"name": "is_client_account_redemption"},
                {"name": "is_cash_discount"},
            ],
            # key_frame: delete scope = EVERY fetched invoice id (a
            # payment row's kb_invoice_id IS its parent invoice's id), so
            # an invoice whose payment list became empty upstream purges
            # its stale rows — the reference's per-parent DELETE+INSERT
            # (bexio_payments_de.py full-refetch semantics)
            "sink": {
                "mode": "upsert",
                "keys": ["kb_invoice_id"],
                "key_frame": {"kb_invoice_id": "id"},
            },
        },
    )


BEXIO_PAYMENTS_DE = _bexio_payments("de", "55 20 * * *")
BEXIO_PAYMENTS_CH = _bexio_payments("ch", "0 21 * * *")


def _bexio_intervals(country: str, cron: str) -> JobSpec:
    return JobSpec(
        "entity_replication", cron,
        f"Bexio {country.upper()} orders -> per-order /repetition"
        " fan-out -> upsert",
        ref=f"dags/bexio/bexio_order_intervals_{country}.py",
        params={
            "source": {
                "protocol": "offset",
                "url": "https://api.bexio.com/2.0/kb_order",
                "limit": 1000,
                "schema": "id bigint",
            },
            # bexio_order_intervals_de.py:131,164-168: /kb_order/{id}/
            # repetition -> start/end/type/interval/schedule
            "detail": {
                "key_col": "id",
                "schema": (
                    "id bigint, start string, end string,"
                    " repetition struct<type:string,interval:int,"
                    "schedule:string>"
                ),
            },
            # bexio_order_intervals_de.py:220-222 desired_order
            "select": [
                {"name": "created_at", "sql": "_now"},
                {"name": "updated_at", "sql": "_now"},
                {"name": "order_id", "sql": "id"},
                {"name": "start"},
                {"name": "end"},
                {"name": "type", "sql": "repetition.type"},
                {"name": "interval", "sql": "repetition.interval"},
                {"name": "schedule", "sql": "repetition.schedule"},
            ],
            "sink": {"mode": "upsert", "keys": ["order_id"]},
        },
    )


BEXIO_INTERVALS_DE = _bexio_intervals("de", "5 21 * * *")
BEXIO_INTERVALS_CH = _bexio_intervals("ch", "10 21 * * *")


#: the reference's richest pipeline (SURVEY §3.1): invoice headers with the
#: J1 carry-forward, positions exploded into line items
#: (bexio_invoice_and_line_items_de.py:155-234,262-286)
BEXIO_INVOICES = JobSpec(
    "entity_replication", "35 21 * * *",
    "Bexio invoice + line-item upsert replication",
    ref="dags/bexio/bexio_invoice_and_line_items_de.py",
    params={
        "source": {
            "protocol": "offset",
            "url": "https://api.bexio.com/2.0/kb_invoice",
            "limit": 2000,
            "schema": (
                "id bigint NOT NULL, contact_id bigint,"
                " kb_item_status_id bigint, document_nr string,"
                " is_valid_from string, title string, total_gross string,"
                " total_net string, total_taxes string, total string,"
                " mwst_type bigint, mwst_is_net boolean,"
                " contact_address string, updated_at string,"
                " taxs array<struct<percentage:string,value:string>>,"
                " positions array<struct<id:bigint,type:string,"
                "amount:string,unit_price:string,position_total:string,"
                "tax_id:bigint,tax_value:string,discount_in_percent:string,"
                "account_id:bigint,unit_id:bigint,unit_name:string,"
                "text:string,is_optional:boolean>>"
            ),
        },
        "select": [
            {"name": "bexio_id", "sql": "id"},
            {"name": "contact_id"},
            {"name": "document_nr"},
            # F1: embedded newlines to spaces
            {"name": "title", "sql": r"regexp_replace(title, '[\\n\\r]+', ' ')"},
            {"name": "total", "sql": "try_cast(total as double)"},
            {"name": "total_net", "sql": "try_cast(total_net as double)"},
            # F20: NULL-safe taxs[0]['percentage'] (empty taxs is normal)
            {"name": "tax_percentage", "sql": "try_element_at(taxs, 1).percentage"},
            {"name": "updated_at", "sql": "to_timestamp(updated_at)"},
            # minted for new invoices only (sink carry); key-derived, so a
            # re-run mints the same values — the reference used
            # uuid4()/now() (SURVEY §7.5)
            {
                "name": "u_id",
                "sql": "sha2(concat('bexio:', cast(id as string)), 256)",
            },
            {"name": "created_at", "sql": "to_timestamp(updated_at)"},
        ],
        "sink": {
            "mode": "upsert",
            "keys": ["bexio_id"],
            "carry": ["u_id", "created_at"],
        },
        "child": {
            "array_col": "positions",
            "parent_map": {"id": "invoice_id", "updated_at": "updated_at"},
            "select": [
                {"name": "invoice_id"},
                {"name": "updated_at", "sql": "to_timestamp(updated_at)"},
                {"name": "position_id", "sql": "id"},
                {"name": "type"},
                {"name": "amount", "sql": "try_cast(amount as double)"},
                {"name": "unit_price", "sql": "try_cast(unit_price as double)"},
                {
                    "name": "discount_amount",
                    "sql": "if(type = 'KbPositionDiscount',"
                    " try_cast(unit_price as double), 0D)",
                },
            ],
            "keys": ["invoice_id"],
        },
    },
)

# --------------------------------------------------------------------------
# lexoffice: page-counter voucherlist + per-voucher detail fetches
# (dags/lex_office/*.py)
# --------------------------------------------------------------------------

#: the voucherlist page protocol + row shape shared by the whole family
#: (lex_office_credits.py:54-87: page/size params, 'last' flag)
_VOUCHERLIST_SCHEMA = (
    "id string, voucherType string, voucherStatus string,"
    " voucherNumber string, voucherDate string, createdDate string,"
    " updatedDate string, contactId string, contactName string,"
    " totalAmount double, openAmount double, currency string,"
    " archived boolean"
)

#: lex_office_credits.py:135-137 desired_order
_VOUCHER_SELECT = [
    {"name": "id"},
    {"name": "voucherType"},
    {"name": "voucherStatus"},
    {"name": "voucherNumber"},
    {"name": "voucherDate"},
    {"name": "createdDate"},
    {"name": "updatedDate"},
    {"name": "contactId"},
    {"name": "contactName"},
    {"name": "totalAmount"},
    {"name": "openAmount"},
    {"name": "currency"},
    {"name": "archived"},
]


def _voucherlist(voucher_type: str) -> dict:
    return {
        "protocol": "page_flag",
        "url": "https://api.lexoffice.io/v1/voucherlist",
        "size": 250,
        "params": {"voucherType": voucher_type, "voucherStatus": "any"},
        "schema": _VOUCHERLIST_SCHEMA,
    }


LEXOFFICE_INVOICES = JobSpec(
    "entity_replication", "20 22 * * *",
    "LexOffice invoice voucherlist -> upsert",
    ref="dags/lex_office/lex_office_invoices.py",
    params={
        "source": _voucherlist("purchaseinvoice,invoice"),
        "select": _VOUCHER_SELECT,
        "sink": {"mode": "upsert", "keys": ["id"]},
    },
)

LEXOFFICE_CREDITS = JobSpec(
    "entity_replication", "25 22 * * *",
    "LexOffice credit-note voucherlist -> upsert",
    ref="dags/lex_office/lex_office_credits.py",
    params={
        "source": _voucherlist("creditnote"),
        "select": _VOUCHER_SELECT,
        "sink": {"mode": "upsert", "keys": ["id"]},
    },
)

LEXOFFICE_PAYMENTS = JobSpec(
    "entity_replication", "35 22 * * *",
    "LexOffice invoices -> per-invoice /payments fan-out -> upsert",
    ref="dags/lex_office/lex_office_payments.py",
    params={
        "source": _voucherlist("purchaseinvoice,invoice"),
        # lex_office_payments.py:181: GET /v1/payments/{id}
        "detail": {
            "key_col": "id",
            "schema": (
                "id string, openAmount double, paymentStatus string,"
                " currency string, voucherType string, voucherStatus string,"
                " paidDate string"
            ),
        },
        # lex_office_payments.py:267 desired_order
        "select": [
            {"name": "invoice_id", "sql": "id"},
            {"name": "openAmount"},
            {"name": "paymentStatus"},
            {"name": "currency"},
            {"name": "voucherType"},
            {"name": "voucherStatus"},
            {"name": "paidDate"},
            {"name": "updated_at", "sql": "_now"},
        ],
        "sink": {"mode": "upsert", "keys": ["invoice_id"]},
    },
)

LEXOFFICE_CREDIT_ITEMS = JobSpec(
    "entity_replication", "40 22 * * *",
    "LexOffice credit notes -> per-note detail -> line-item explode",
    ref="dags/lex_office/lex_office_credit_items.py",
    params={
        "source": _voucherlist("creditnote"),
        # lex_office_credit_items.py:164: GET /v1/credit-notes/{id}
        "detail": {
            "key_col": "id",
            "schema": (
                "id string, organizationId string,"
                " address struct<countryCode:string>,"
                " lineItems array<struct<id:string,type:string,name:string,"
                "description:string,quantity:double,unitName:string,"
                "unitPrice:struct<currency:string,netAmount:double,"
                "grossAmount:double,taxRatePercentage:double>>>"
            ),
        },
        "select": [
            {"name": "credit_id", "sql": "id"},
            {"name": "organisation_id", "sql": "organizationId"},
            {"name": "countrycode", "sql": "address.countryCode"},
        ],
        # lex_office_credit_items.py:199-215,248-252
        "child": {
            "array_col": "lineItems",
            "parent_map": {
                "id": "credit_id",
                "organizationId": "organisation_id",
            },
            "select": [
                {"name": "credit_id"},
                {"name": "organisation_id"},
                {"name": "productid", "sql": "id"},
                {"name": "type"},
                {"name": "name"},
                {"name": "description"},
                {"name": "quantity"},
                {"name": "unitName"},
                {"name": "currency", "sql": "unitPrice.currency"},
                {"name": "net_amount", "sql": "unitPrice.netAmount"},
                {"name": "gross_amount", "sql": "unitPrice.grossAmount"},
                {
                    "name": "tax_rate_percentage",
                    "sql": "unitPrice.taxRatePercentage",
                },
            ],
            "keys": ["credit_id"],
        },
        "sink": {"mode": "upsert", "keys": ["credit_id"]},
    },
)

#: lex_office_invoice_items.py:187-298: live invoices only, one detail
#: fetch per invoice, line items exploded with the nested unitPrice read
#: through defaults (F22/F23)
LEXOFFICE_INVOICE_ITEMS = JobSpec(
    "entity_replication", "0 22 * * *",
    "LexOffice voucher list + detail fan-out + line items",
    ref="dags/lex_office/lex_office_invoice_items.py",
    params={
        "source": {
            "protocol": "page_flag",
            "url": "https://api.lexoffice.io/v1/voucherlist",
            "size": 250,
            "schema": (
                "id string NOT NULL, voucherType string,"
                " voucherStatus string, voucherNumber string,"
                " voucherDate string, contactId string, contactName string,"
                " totalAmount string, currency string, archived boolean"
            ),
            "where": "voucherType = 'invoice' AND NOT archived",
        },
        "detail": {
            "key_col": "id",
            "parallelism": 5,
            "schema": (
                "id string NOT NULL, organizationId string,"
                " address struct<countryCode:string>,"
                " totalPrice struct<currency:string,totalNetAmount:double,"
                "totalGrossAmount:double,totalTaxAmount:double>,"
                " lineItems array<struct<id:string,type:string,name:string,"
                "quantity:double,unitName:string,unitPrice:struct<"
                "netAmount:double,grossAmount:double,"
                "taxRatePercentage:double>,discountPercentage:double,"
                "lineItemAmount:double>>"
            ),
        },
        "explode": {"array_col": "lineItems", "parent_map": {"id": "invoice_id"}},
        "select": [
            {"name": "invoice_id"},
            {"name": "line_id", "sql": "id"},
            {"name": "type"},
            {"name": "name"},
            {"name": "quantity"},
            {"name": "unit_net", "sql": "coalesce(unitPrice.netAmount, 0D)"},
            {
                "name": "tax_rate",
                "sql": "coalesce(unitPrice.taxRatePercentage, 0D)",
            },
            {"name": "discount_pct", "sql": "coalesce(discountPercentage, 0D)"},
            {"name": "amount", "sql": "lineItemAmount"},
        ],
        # the delete scope is every fetched invoice: one whose items all
        # went upstream loses its stale rows, a failed fetch keeps them
        "sink": {"mode": "upsert", "keys": ["invoice_id"]},
    },
)

# --------------------------------------------------------------------------
# hubspot: cursor-link ticket scans with per-DAG property sets
# (dags/hubspot/churn_reasons, tickets/*) and CRM batch write-backs (BM/POS)
# --------------------------------------------------------------------------


def _hubspot_tickets(props: list[str], extra: str = "") -> dict:
    prop_fields = ", ".join(f"{p}:string" for p in props)
    return {
        "protocol": "cursor_link",
        "url": (
            "https://api.hubapi.com/crm/v3/objects/tickets"
            f"?limit=100&archived=false{extra}"
        ),
        "schema": (
            f"id string, properties struct<{prop_fields}>,"
            " associations struct<companies:struct<results:"
            "array<struct<id:string,type:string>>>>"
        ),
    }


def _props_select(props: list[str]) -> list[dict]:
    return [
        {"name": "ticket_id", "sql": "id"},
        *[{"name": p, "sql": f"properties.{p}"} for p in props],
        {
            "name": "company_id",
            "sql": "try_element_at(associations.companies.results, 1).id",
        },
        {"name": "updated_at", "sql": "_now"},
    ]


_CHURN_PROPS = [
    "churn_reason", "churn_reason_details", "hs_pipeline",
    "hs_pipeline_stage", "closed_date", "subject",
]
HUBSPOT_CHURN_REASONS = JobSpec(
    "entity_replication", "45 7 * * *",
    "HubSpot churn-reason tickets cursor scan -> truncate",
    ref="dags/hubspot/churn_reasons/churn_reasons.py",
    params={
        "source": _hubspot_tickets(_CHURN_PROPS),
        "select": _props_select(_CHURN_PROPS),
        "sink": {"mode": "truncate"},
    },
)

#: get_tickets.py:43-104: the first associated company per ticket (F21),
#: NULL for a ticket with none (the reference's np.nan passthrough)
HUBSPOT_TICKETS = JobSpec(
    "entity_replication", "30 7 * * *",
    "HubSpot tickets cursor scan + company-association extraction "
    "-> truncate load",
    ref="dags/hubspot/tickets/get_tickets.py",
    params={
        "source": {
            "protocol": "cursor_link",
            "url": "https://api.hubapi.com/crm/v3/objects/tickets",
            "params": {
                "associations": "companies",
                "properties": "createdate",
                "limit": 100,
                "archived": "false",
            },
            "schema": (
                "id string NOT NULL, createdAt string, updatedAt string,"
                " associations struct<companies:struct<results:"
                "array<struct<id:string,type:string>>>>"
            ),
        },
        "select": [
            {"name": "ticket_id", "sql": "id"},
            {"name": "created_at", "sql": "createdAt"},
            {"name": "updated_at", "sql": "updatedAt"},
            {
                "name": "company_id",
                "sql": "try_element_at(associations.companies.results, 1).id",
            },
        ],
        "sink": {"mode": "truncate"},
    },
)

# get_ticket_claims.py:42 property list
_CLAIM_PROPS = [
    "claim", "currency", "recovered_amount_2", "stripe_invoice_id",
    "payment_date", "dispute_date",
]
HUBSPOT_TICKET_CLAIMS = JobSpec(
    "entity_replication", "50 7 * * *",
    "HubSpot ticket claims cursor scan + company association -> truncate",
    ref="dags/hubspot/tickets/get_ticket_claims.py",
    params={
        "source": _hubspot_tickets(_CLAIM_PROPS, "&associations=companies"),
        "select": _props_select(_CLAIM_PROPS),
        "sink": {"mode": "truncate"},
    },
)

# price_increase_churn.py:43 property list
_PI_CHURN_PROPS = [
    "organization_id__b_m_", "hs_ticket_category", "source_type",
    "hubspot_team_id", "hs_pipeline_stage", "hs_pipeline", "closed_date",
    "churn_request_between_price_increase_communication_and_renewal",
    "subject",
]
HUBSPOT_PRICE_INCREASE_CHURN = JobSpec(
    "entity_replication", "55 7 * * *",
    "HubSpot price-increase churn tickets cursor scan -> truncate",
    ref="dags/hubspot/tickets/price_increase_churn.py",
    params={
        "source": _hubspot_tickets(_PI_CHURN_PROPS, "&associations=companies"),
        "select": _props_select(_PI_CHURN_PROPS),
        "sink": {"mode": "truncate"},
    },
)


def _hubspot_writeback(name: str, ref: str, cron: str, key_col: str) -> JobSpec:
    return JobSpec(
        "reverse_etl_company_status", cron,
        f"Warehouse aggregate -> HubSpot {name} batch/update write-back",
        cli=False,  # needs a send callable
        ref=ref,
        params={"key_col": key_col},
    )


HUBSPOT_BM_COMPANY_STATUS_V3 = _hubspot_writeback(
    "BM company status v3",
    "dags/hubspot/BM/hubspot_bm_company_status_v3.py", "35 9 * * *",
    "company_id",
)
HUBSPOT_BM_CONTACT = _hubspot_writeback(
    "BM contact",
    "dags/hubspot/BM/hubspot_bm_contact.py", "40 9 * * *", "contact_id",
)
HUBSPOT_BM_CONTACT_ROLE = _hubspot_writeback(
    "BM contact role",
    "dags/hubspot/BM/hubspot_bm_contact_role.py", "45 9 * * *", "contact_id",
)
HUBSPOT_POS_COMPANY_STATUS = _hubspot_writeback(
    "POS company status v2",
    "dags/hubspot/POS/hubspot_pos_company_status_v2.py", "50 9 * * *",
    "company_id",
)
HUBSPOT_POS_CONTACT_ROLE = _hubspot_writeback(
    "POS contact role",
    "dags/hubspot/POS/hubspot_pos_contact_role.py", "55 9 * * *",
    "contact_id",
)

# --------------------------------------------------------------------------
# stripe: starting_after cursor over /v1/charges (dags/stripe/stripe_charges.py)
# --------------------------------------------------------------------------

STRIPE_CHARGES = JobSpec(
    "entity_replication", "35 23 * * *",
    "Stripe charges starting_after scan -> typed clean -> upsert",
    ref="dags/stripe/stripe_charges.py",
    params={
        "source": {
            "protocol": "starting_after",
            "url": "https://api.stripe.com/v1/charges",
            "limit": 100,
            "schema": (
                "id string, amount bigint, currency string, customer string,"
                " description string, status string, paid boolean,"
                " refunded boolean, created bigint"
            ),
        },
        "select": [
            {"name": "id"},
            {"name": "amount"},
            {"name": "currency"},
            {"name": "customer"},
            {"name": "description"},
            {"name": "status"},
            {"name": "paid"},
            {"name": "refunded"},
            # F10: epoch seconds -> timestamp
            {"name": "created", "sql": "cast(created as timestamp)"},
            {"name": "updated_at", "sql": "_now"},
        ],
        "sink": {"mode": "upsert", "keys": ["id"]},
    },
)

# --------------------------------------------------------------------------
# sheet imports: key_accounts + price-increase + finance disputes
# (sheet_import_snapshot archetype; runtime config adds spreadsheet_id)
# --------------------------------------------------------------------------

KA_INACTIVE_ORGS = JobSpec(
    "sheet_import_snapshot", "20 7 * * *",
    "Key-accounts Inactive Orgs sheet -> truncate-refresh",
    ref="dags/key_accounts/inactive_orgs.py",
    params={"range_a1": "Inactive Orgs", "header_row": 0},
)
KA_ORGS = JobSpec(
    "sheet_import_snapshot", "25 7 * * *",
    "Key-accounts KA Orgs sheet -> truncate-refresh",
    ref="dags/key_accounts/ka_org.py",
    params={"range_a1": "KA Orgs", "header_row": 0},
)
IMPORT_BI_DEV = JobSpec(
    "sheet_import_snapshot", "35 7 * * *",
    "Price-increase BI-Dev sheet -> renamed/typed -> truncate-refresh",
    ref="dags/price-increase/import_bi_dev.py",
    params={
        "range_a1": "BI - Dev file",
        "header_row": 0,
        # import_bi_dev.py:55-56 rename map (sanitized header names)
        "renames": {
            "new_price_2_after_discount": "new_price_after_discount",
        },
    },
)
IMPORT_BI_DEV_GROSS_MARGIN = JobSpec(
    "sheet_import_snapshot", "40 7 * * *",
    "Price-increase gross-margin sheet -> truncate-refresh",
    ref="dags/price-increase/import_bi_dev_gross_margin.py",
    params={"range_a1": "Gross Margin", "header_row": 0},
)
BILLWERK_CEASE_DATE = JobSpec(
    "sheet_import_snapshot", "0 23 * * *",
    "Billwerk admin cease-date sheet -> date normalize -> truncate-refresh",
    ref="dags/billwerk/billwerk_cease_date.py",
    params={
        "range_a1": "Billwerk Cease Date",
        "header_row": 0,
        # billwerk_cease_date.py:45: 4-column projection
        "select": ["No", "customer_id", "admin_cease_date", "Note"],
        # billwerk_cease_date.py:25-29 (dataset_transform): per-row
        # yyyy-MM-dd parse + re-render — here one typed to_date column;
        # the reference's empty-string passthrough becomes NULL (F8
        # sentinel->NULL, the engine's norm), malformed cells coerce to
        # NULL instead of killing the nightly load
        "date_cols": {"admin_cease_date": "yyyy-MM-dd"},
    },
)
STRIPE_DISPUTES = JobSpec(
    "sheet_import_snapshot", "45 7 * * *",
    "Finance stripe-disputes sheet -> truncate-refresh",
    ref="dags/finance/disputed_invoices/stripe_dispute.py",
    # neutral placeholder tab name (the real deployment sets range_a1 in
    # its runtime config; the reference hardcodes its own sheet tab)
    params={"range_a1": "Stripe Disputes", "header_row": 0},
)

# --------------------------------------------------------------------------

ENTITY_MANIFEST: dict[str, JobSpec] = {
    "billwerk_customers": BILLWERK_CUSTOMERS,
    "billwerk_discounts": BILLWERK_DISCOUNTS,
    "billwerk_plans": BILLWERK_PLANS,
    "billwerk_plan_variants": BILLWERK_PLAN_VARIANTS,
    "billwerk_subscriptions": BILLWERK_SUBSCRIPTIONS,
    "billwerk_invoices_v3": BILLWERK_INVOICES_V3,
    "billwerk_invoice_line_items": BILLWERK_INVOICE_LINE_ITEMS,
    "billwerk_component_subscriptions": BILLWERK_COMPONENT_SUBSCRIPTIONS,
    "bexio_contacts_de": BEXIO_CONTACTS_DE,
    "bexio_contacts_ch": BEXIO_CONTACTS_CH,
    "bexio_orders_de": BEXIO_ORDERS_DE,
    "bexio_orders_ch": BEXIO_ORDERS_CH,
    "bexio_payments_de": BEXIO_PAYMENTS_DE,
    "bexio_payments_ch": BEXIO_PAYMENTS_CH,
    "bexio_order_intervals_de": BEXIO_INTERVALS_DE,
    "bexio_order_intervals_ch": BEXIO_INTERVALS_CH,
    "lexoffice_invoices": LEXOFFICE_INVOICES,
    "lexoffice_credits": LEXOFFICE_CREDITS,
    "lexoffice_payments": LEXOFFICE_PAYMENTS,
    "lexoffice_credit_items": LEXOFFICE_CREDIT_ITEMS,
    "hubspot_churn_reasons": HUBSPOT_CHURN_REASONS,
    "hubspot_ticket_claims": HUBSPOT_TICKET_CLAIMS,
    "hubspot_price_increase_churn": HUBSPOT_PRICE_INCREASE_CHURN,
    "hubspot_bm_company_status_v3": HUBSPOT_BM_COMPANY_STATUS_V3,
    "hubspot_bm_contact": HUBSPOT_BM_CONTACT,
    "hubspot_bm_contact_role": HUBSPOT_BM_CONTACT_ROLE,
    "hubspot_pos_company_status": HUBSPOT_POS_COMPANY_STATUS,
    "hubspot_pos_contact_role": HUBSPOT_POS_CONTACT_ROLE,
    "stripe_charges": STRIPE_CHARGES,
    "ka_inactive_orgs": KA_INACTIVE_ORGS,
    "ka_orgs": KA_ORGS,
    "import_bi_dev": IMPORT_BI_DEV,
    "import_bi_dev_gross_margin": IMPORT_BI_DEV_GROSS_MARGIN,
    "billwerk_cease_date": BILLWERK_CEASE_DATE,
    "stripe_disputes": STRIPE_DISPUTES,
}
