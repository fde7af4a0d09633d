"""Cleaning / coercion expressions (SURVEY.md §2.9 scalar-function surface).

Every reference "UDF" that survives into the engine is a native Column
expression here — zero Python scalar UDFs (SURVEY §2.11 rule). Reference
sites cited per function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def percent_to_fraction(c: Column | str, scale: int = 3) -> Column:
    """F4: strip a ``%`` suffix, /100, round
    (``dags/price-increase/import_bi_dev_gross_margin.py:56-58``)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(F.regexp_replace(col, "%$", "").try_cast("double") / 100.0, scale)


def strip_thousands(c: Column | str) -> Column:
    """F5: drop thousands separators
    (``dags/price-increase/import_bi_dev_ltv.py:55-59``)."""
    return F.regexp_replace(F.col(c) if isinstance(c, str) else c, ",", "")


def null_if_in(c: Column | str, sentinels: list[str]) -> Column:
    """F8: sentinel strings ('n.a.', '') to NULL
    (``dags/price-increase/import_bi_dev_gross_margin.py:51,56``)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(col.isin(sentinels), F.lit(None)).otherwise(col)


def unix_micros_ts(c: Column | str) -> Column:
    """F9: unix MICROseconds -> timestamp, NULL on garbage
    (``convert_unix_microseconds_to_datetime``,
    ``dags/bexio/bexio_invoice_and_line_items_de.py:96-100``). try_cast,
    not cast: under ANSI (Spark 4 default) a stray '' or 'null' string in
    an epoch column would throw and kill the job — this module's surface
    is coerce-to-NULL throughout."""
    return F.timestamp_micros(
        (F.col(c) if isinstance(c, str) else c).try_cast("long")
    )


def unix_seconds_ts(c: Column | str) -> Column:
    """F10: epoch seconds -> timestamp, NULL on garbage
    (``dags/stripe/account.py:120``). Direct ``timestamp_seconds`` — the
    old from_unixtime→to_timestamp spelling round-tripped every row
    through a formatted string (extra work, second-resolution string
    dependency); try_cast for the same ANSI coerce-to-NULL contract as
    unix_micros_ts."""
    return F.timestamp_seconds(
        (F.col(c) if isinstance(c, str) else c).try_cast("long")
    )


def euro_date(c: Column | str) -> Column:
    """F6: ``dd.mm.yyyy`` -> DATE, NULL on garbage
    (``dags/finance/disputed_invoices/stripe_dispute.py:80-82``).
    try_to_date: a blank sheet cell ('' is how sheets.py delivers empty
    cells by design) or an 'n.a.' sentinel must coerce to NULL, not
    throw CANNOT_PARSE_TIMESTAMP under ANSI."""
    return F.try_to_date(F.col(c) if isinstance(c, str) else c, "dd.MM.yyyy")


def month_end(c: Column | str) -> Column:
    """F14: truncate to month, take month-end
    (``dags/price-increase/import_bi_dev_gross_margin.py:52-54``)."""
    return F.last_day(F.date_trunc("month", F.col(c) if isinstance(c, str) else c))


def int_key(c: Column | str) -> Column:
    """F17/F18: fillna(0) + truncating int cast for key columns
    (``dags/bexio/bexio_invoice_and_line_items_de.py:281-286``,
    ``dags/hubspot/BM/hubspot_bm_company_status_v2.py:78``). The double
    hop handles pandas' float-formatted ids ('28.0' — the exact case the
    reference's truncating cast existed for); try_cast both hops so a
    garbage key coerces through the fillna(0) instead of throwing under
    ANSI."""
    col = F.col(c) if isinstance(c, str) else c
    # try the DIRECT long cast first: the double hop rounds integers
    # above 2^53 (silent key corruption); only float-formatted ids
    # ('28.0') fall through to the double path
    return F.coalesce(
        col.try_cast("long"), col.try_cast("double").try_cast("long"), F.lit(0)
    )
