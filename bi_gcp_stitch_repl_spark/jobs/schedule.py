"""Job scheduling manifest: "Airflow scheduling Spark jobs" (BASELINE.json
north_star / spark_approach).

The reference embeds its schedule in 52 DAG files (daily crons staggered
20:00-09:30, ``catchup=False``, retries=1/5min — SURVEY §2.12); the engine
keeps orchestration OUT of the data plane: each pipeline is a plain
function, and this manifest is what an Airflow deployment maps to one
``SparkSubmitOperator`` (or ``spark-submit`` cron) per entry. No Airflow
import here — the scheduler owns retries/cadence, Spark owns the data.

Example Airflow DAG (deployment-side, not part of the engine):

    for name, spec in JOB_MANIFEST.items():
        SparkSubmitOperator(
            task_id=name,
            application="-m bi_gcp_stitch_repl_spark.jobs",
            application_args=[name],
            dag=DAG(name, schedule_interval=spec.cron, catchup=False,
                    default_args={"retries": 1,
                                  "retry_delay": timedelta(minutes=5)}),
        )
"""

from __future__ import annotations

from .entities import (
    BEXIO_INVOICES,
    BILLWERK_CONTRACTS,
    ENTITY_MANIFEST,
    HUBSPOT_TICKETS,
    LEXOFFICE_INVOICE_ITEMS,
)
from .spec import JobSpec

__all__ = ["JOB_MANIFEST", "JobSpec"]


#: cadences mirror the reference's staggered schedule_interval values
#: (e.g. dags/bexio/bexio_invoice_and_line_items_de.py:47 '35 21 * * *')
JOB_MANIFEST: dict[str, JobSpec] = {
    "bexio_invoices": BEXIO_INVOICES,
    "lexoffice_invoice_items": LEXOFFICE_INVOICE_ITEMS,
    "billwerk_contracts": BILLWERK_CONTRACTS,
    "billwerk_invoices_incremental": JobSpec(
        "billwerk_incremental_invoices", "0 23 * * *",
        "Billwerk invoices keyset-watermark incremental",
    ),
    "stripe_accounts": JobSpec(
        "stripe_account_rollup", "30 23 * * *",
        "Stripe balance-transaction conditional rollup",
    ),
    "history_capture": JobSpec(
        "history_capture", "0 6 * * *",
        "Invoice status change-history append",
    ),
    "sheets_bi_dev_ltv": JobSpec(
        "sheet_import_snapshot", "0 7 * * *",
        "Sheet-import archetype: BI Dev LTV sheet slice -> clean -> "
        "truncate-refresh (import_bi_dev_ltv.py config)",
    ),
    "sheets_active_orgs": JobSpec(
        "sheet_import_snapshot", "15 7 * * *",
        "Sheet-import archetype: key-accounts Active Orgs sheet -> "
        "truncate-refresh (active_orgs.py config)",
    ),
    "hubspot_tickets": HUBSPOT_TICKETS,
    "reverse_etl_company_status": JobSpec(
        "reverse_etl_company_status", "30 9 * * *",
        "Warehouse aggregates -> CRM batch update",
        cli=False,  # needs a send callable — library/streaming-driven
    ),
    # -- engine maintenance (no reference analog: it had no lake to keep) --
    "warehouse_compact": JobSpec(
        "compact_tables", "0 3 * * 0",
        "Weekly small-file compaction across warehouse tables",
    ),
    "warehouse_vacuum": JobSpec(
        "vacuum_tables", "30 3 * * 0",
        "Weekly GC of orphaned write generations past retention",
    ),
    "gdpr_erasure": JobSpec(
        "erase_requested_keys", "0 4 * * *",
        "Daily right-to-be-forgotten pass: delete requested keys lake-wide",
    ),
    "dedup_index_ingest": JobSpec(
        "incremental_dedup_ingest", "30 4 * * *",
        "Probe+commit the MinHash band index for the day's document batch",
    ),
    "ann_index_ingest": JobSpec(
        "incremental_ann_ingest", "45 4 * * *",
        "Assign the day's embeddings to frozen IVF cells, O(1) index append",
    ),
    "summary_refresh": JobSpec(
        "incremental_summary_refresh", "0 5 * * *",
        "Fold the day's change feed into the additive summary view",
    ),
    "multimodal_ingest": JobSpec(
        "multimodal_corpus_ingest", "15 5 * * *",
        "Hash-dedup + real-codec metadata decode of the day's media batch",
    ),
    "domain_authority": JobSpec(
        "domain_authority_refresh", "30 5 * * *",
        "Crawl link-graph PageRank -> (domain, rank_fp) truncate-refresh",
    ),
}

# per-entity declarative configs (one JobSpec per reference DAG file)
JOB_MANIFEST.update(ENTITY_MANIFEST)
