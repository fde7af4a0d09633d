"""Change-history capture and dedup (SURVEY.md J3/J4/K7, A1/A2, §2.6).

The reference materializes "what changed" by anti-joining the current
snapshot against an append-only history table on a composite key
(``dags/sql-queries/bexio_and_stripe/execute_bexio_and_stripe_sql_queries.py:
45-57`` — (invoice_id, status); ``dags/finance/disputed_invoices/
stripe_dispute.py:32-46`` — 4-column NOT EXISTS). It has no window
functions at all (SURVEY §2.6), so "latest row per key" is only ever implied;
``latest_per_key`` supplies it natively with ``row_number`` since the Spark
engine gets windows for free — and it's the scalable form of the pattern
(one shuffle on the key, no self-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def append_only_delta(
    snapshot: DataFrame,
    history: DataFrame,
    keys: list[str],
    dedup_batch: bool = False,
) -> DataFrame:
    """Rows of ``snapshot`` whose composite key is absent from ``history``
    (the K7/J3/J4 anti-join). Caller appends the result to the history table
    (see ``sinks.merge.ParquetTable.append_if_absent`` for the sink-side
    form).

    ``dedup_batch=False`` matches the reference exactly (its INSERT…SELECT
    anti-join does not dedup within the batch) and keeps the plan a pure
    broadcast anti-join — zero hash shuffles. ``dedup_batch=True`` adds a
    ``dropDuplicates(keys)`` (one shuffle + arbitrary-row pick per key) for
    callers whose snapshot may repeat keys."""
    batch = snapshot.dropDuplicates(keys) if dedup_batch else snapshot
    # null-safe key match (the sinks' convention): a plain equi-anti-join
    # never matches NULL = NULL, so a row with a NULL key column would be
    # "absent from history" on EVERY run and re-append one duplicate per
    # night, unbounded.
    # Both frames are ALIASED and the condition built from the aliased
    # references: with batch[k].eqNullSafe(hist[k]) directly, a snapshot
    # sharing lineage with history can resolve both sides to the SAME
    # attribute (trivially-true predicate or AMBIGUOUS_SELF_JOIN) and
    # anti-join away the whole batch
    batch = batch.alias("_aod_b")
    hist = history.select(*keys).alias("_aod_h")
    cond = None
    for k in keys:
        c = F.col(f"_aod_b.`{k}`").eqNullSafe(F.col(f"_aod_h.`{k}`"))
        cond = c if cond is None else cond & c
    return batch.join(hist, on=cond, how="left_anti")


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    descending: bool = True,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Newest row per key via ``row_number() over (partition by keys order by
    order_col desc)`` — a single hash-partitioned shuffle, skew-safe under
    AQE; never a self-join with max().

    ``tiebreak_cols`` make equal ``order_col`` values deterministic (the
    partition keys are CONSTANT within the window, so appending them —
    the old behavior — tie-broke nothing: equal-timestamp rows were
    picked per shuffle layout, breaking re-run idempotency). Default:
    every remaining column, descending with ``order_col`` — pass an
    explicit unique column (e.g. the event id) in hot paths so the sort
    key stays narrow."""
    if tiebreak_cols is None:
        # skip unorderable types: a map column (a property-bag payload
        # such as billwerk's CustomFields) in the default tiebreak
        # list fails analysis with INVALID_ORDERING_TYPE — the default
        # must work on any frame, and map contents are not a meaningful
        # tiebreaker anyway
        unorderable = {
            c for c, t in df.dtypes if t.startswith("map<") or "map<" in t
        }
        tiebreak_cols = [
            c
            for c in df.columns
            if c not in keys and c != order_col and c not in unorderable
        ]
    cols = [F.col(order_col), *[F.col(c) for c in tiebreak_cols]]
    order = [c.desc() if descending else c.asc() for c in cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
