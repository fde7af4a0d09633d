"""Spreadsheet-range source (SURVEY.md S10).

The reference reads Google Sheets via ``get_all_values()`` — a rectangular
list-of-lists — then slices rows/columns positionally and promotes a header
row (``dags/key_accounts/active_orgs.py:25-39``; header at row 375 with data
from 376 ``dags/price-increase/import_bi_dev_ltv.py:35-45``; rows 157:191,
cols 0:7 + drop-empty-column ``dags/price-increase/import_bi_dev_gross_margin.py:
35-46``).

Sheets are driver-sized by nature (≤ a few 10⁵ cells), so the fetch is
driver-side; the rows reach the JVM through the REST sources' conversion
(``rest.to_dataframe``), and everything after it is distributed. The sheet
client is injectable — the engine takes the values matrix, not a live API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .rest import to_dataframe


def fetch_sheet_values(
    transport,
    spreadsheet_id: str,
    range_a1: str,
    api_base: str = "https://sheets.googleapis.com/v4/spreadsheets",
) -> list[list[str]]:
    """Fetch a rectangular values matrix from the Google Sheets API v4
    ``values.get`` endpoint — the public-REST equivalent of the reference's
    ``gspread.worksheet(...).get_all_values()``
    (``dags/key_accounts/active_orgs.py:25-39``).

    ``transport`` is the same injectable ``(url, params) -> parsed JSON``
    seam as the REST sources: production passes
    ``http_transport.HttpTransport(auth=BearerTokenAuth(<service token>))``
    (Sheets accepts standard OAuth bearer tokens), tests pass a fixture.
    Returns ``[]`` for an empty range — mirror the API, let
    ``sheet_to_dataframe`` raise on genuinely empty input."""
    from urllib.parse import quote

    # percent-encode the path segments (gspread does the same): a sheet
    # title containing '/' would otherwise split the URL path (404), and
    # '?' or '#' would silently truncate it into query/fragment
    resp = transport(
        f"{api_base}/{quote(spreadsheet_id, safe='')}"
        f"/values/{quote(range_a1, safe='')}",
        {"majorDimension": "ROWS"},
    )
    return resp.get("values", [])


def sheet_source(
    spark: SparkSession,
    transport,
    spreadsheet_id: str,
    range_a1: str,
    api_base: str = "https://sheets.googleapis.com/v4/spreadsheets",
    **layout,
) -> DataFrame:
    """S10 end to end: API fetch + header-promotion/slicing layout rules
    (``sheet_to_dataframe`` kwargs: header_row, data_start/end, col_slice,
    drop_empty_cols)."""
    values = fetch_sheet_values(transport, spreadsheet_id, range_a1, api_base)
    return sheet_to_dataframe(spark, values, **layout)


def _clean_header(name: str, idx: int) -> str:
    name = (name or "").strip()
    return name if name else f"_c{idx}"


def sheet_to_dataframe(
    spark: SparkSession,
    values: list[list[str]],
    header_row: int = 0,
    data_start: int | None = None,
    data_end: int | None = None,
    col_slice: tuple[int, int] | None = None,
    drop_empty_cols: bool = True,
) -> DataFrame:
    """Rectangular values → DataFrame with header promotion and slicing.

    All cells arrive as strings (sheet semantics); downstream coercion is
    ``ops.clean`` (percent strip, thousands separators, locale dates — the
    reference's import_bi_dev_* cleanup chain).
    """
    if not values:
        raise ValueError("empty sheet values")
    if data_start is None:
        data_start = header_row + 1
    header = list(values[header_row])
    rows = values[data_start:data_end]
    if col_slice is not None:
        lo, hi = col_slice
        header = header[lo:hi]
        rows = [r[lo:hi] for r in rows]
    # the Sheets values API trims trailing empty cells PER ROW, so a
    # header with a trailing blank arrives SHORTER than its data rows —
    # pad the header to the widest data row (the pads are unnamed, so
    # drop_empty_cols removes them and drop_empty_cols=False surfaces
    # them as _c<i>) instead of silently dropping those data columns
    width = max([len(header), *(len(r) for r in rows)] or [len(header)])
    header += [""] * (width - len(header))
    keep = list(range(len(header)))
    if drop_empty_cols:
        keep = [i for i in keep if (header[i] or "").strip() != ""]
    names = [_clean_header(header[i], i) for i in keep]
    # sanitize to plain identifiers: dots would parse as struct access in
    # every downstream F.col()/ops.clean reference and most punctuation
    # needs backticks; then de-duplicate (two identical headers would
    # otherwise make ANY later select of that name AMBIGUOUS_REFERENCE)
    import re

    out_names: list[str] = []
    used: set[str] = set()
    for n in names:
        base = re.sub(r"[^0-9A-Za-z_]", "_", n.replace(" ", "_"))
        # bump the suffix until genuinely unused: a literal 'a_2' header
        # coexisting with duplicate 'a's would otherwise still collide
        name, k = base, 2
        while name in used:
            name = f"{base}_{k}"
            k += 1
        used.add(name)
        out_names.append(name)
    schema = T.StructType(
        [T.StructField(n, T.StringType()) for n in out_names]
    )
    data = [
        {n: (r[i] if i < len(r) else None) for n, i in zip(out_names, keep)}
        for r in rows
    ]
    return to_dataframe(spark, [data], schema)
