"""Scheduled jobs: each reference pipeline family re-expressed as extract →
transform → merge, composed entirely from the engine's sources/ops/sinks.
Most REST syncs are ``JobSpec`` configs of the one declarative archetype
``pipelines.entity_replication`` (``entities``, merged into
``schedule.JOB_MANIFEST``); the functions exported here are the jobs that
keep their own code. These are the proof that a user of the reference can
switch: same inputs (API payload shapes), same warehouse outcomes
(upsert/refresh/history semantics), one Spark job instead of a 10-task
Airflow DAG with XCom round-trips (SURVEY §3.1-3.3).
"""

from .pipelines import (
    billwerk_incremental_invoices,
    entity_replication,
    history_capture,
    reverse_etl_company_status,
    stripe_account_rollup,
)

__all__ = [
    "billwerk_incremental_invoices",
    "entity_replication",
    "history_capture",
    "reverse_etl_company_status",
    "stripe_account_rollup",
]
