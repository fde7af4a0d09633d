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


def month_end(c: Column | str) -> Column:
    """F14: truncate to month, take month-end
    (``dags/price-increase/import_bi_dev_gross_margin.py:52-54``)."""
    return F.last_day(F.date_trunc("month", F.col(c) if isinstance(c, str) else c))
