"""Paginated REST sources (SURVEY.md S1-S7) — the engine's one genuinely
custom "physical operator" family (SURVEY §4.3.1).

The reference implements four pagination protocols plus a threaded per-key
detail fan-out against six SaaS APIs; this module re-expresses them as:

- a driver-side **page iterator** per protocol (pages are API-bound, not
  data-bound: page counts are 10²-10⁴, so the driver loop is not the
  bottleneck — the *fetch latency* is, which the reference also serialized
  per page);
- ``to_dataframe``: pages → a JVM-held frame with an explicit schema
  (SURVEY §1.3): each chunk is checked by PySpark's row verifier, then
  shipped as an Arrow table, so no later action re-runs the conversion in
  Python workers;
- ``fanout_fetch``: the per-key detail fetch (S7/J6) as ``mapInPandas``
  over the key DataFrame — Spark's distributed replacement for the
  reference's ThreadPoolExecutor (MAX_WORKERS 2-10,
  ``dags/bexio/bexio_invoice_and_line_items_de.py:190-216``): parallelism
  = partition count, rate limiting = per-partition token bucket, retry =
  per-request with exponential backoff
  (``dags/lex_office/lex_office_invoice_items.py:175-189``).

Transport is injectable (callable ``(url, params) -> dict``), so tests run
hermetically against fixture transports and production wires ``requests``
with auth; the engine never imports requests itself.

Protocols (reference sites):
- S1 offset/limit     ``dags/bexio/bexio_invoice_and_line_items_de.py:62-75``
- S2 page counter + ``last`` flag  ``dags/lex_office/lex_office_invoices.py:50-91``
- S3 keyset ``from=<last id>``     ``dags/billwerk/biilwerk_contracts.py:85-113``
- S4 = S3 + persisted watermark + row cap ``dags/billwerk/billwerk_invoices.py:49-99``
- S5 cursor link       ``dags/hubspot/tickets/get_tickets.py:43-58``
- S6 ``starting_after`` cursor     ``dags/stripe/stripe_charges.py:40-59``
  (the reference's first-page-only debug cap at ``stripe_charges.py:52`` is
  a defect we do not replicate, SURVEY §4.4)
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

Transport = Callable[[str, dict], Any]


@dataclass
class RetryPolicy:
    """urllib3-Retry-equivalent: bounded retries with exponential backoff on
    retryable failures (reference: Retry(total=5, backoff_factor=1) on
    429/5xx)."""

    total: int = 5
    backoff_factor: float = 1.0
    sleep: Callable[[float], None] = time.sleep

    def call(self, fn: Callable[[], Any]) -> Any:
        last: Exception | None = None
        for attempt in range(self.total + 1):
            try:
                return fn()
            except RetryableError as e:  # noqa: PERF203
                last = e
                if attempt < self.total:
                    self.sleep(self.backoff_factor * (2**attempt))
        raise last  # type: ignore[misc]


class RetryableError(Exception):
    """Transport should raise this for 429/5xx-class failures."""


@dataclass
class RateLimiter:
    """Client-side pacing (reference: time.sleep(2-3) per detail request).
    min_interval=0 disables; per-partition instances keep cluster-wide rate
    ≈ partitions / min_interval."""

    min_interval: float = 0.0
    clock: Callable[[], float] = time.monotonic
    sleep: Callable[[float], None] = time.sleep
    _last: float | None = field(default=None, repr=False)

    def wait(self) -> None:
        if self.min_interval <= 0:
            return
        now = self.clock()
        if self._last is not None:
            delta = self._last + self.min_interval - now
            if delta > 0:
                self.sleep(delta)
        self._last = self.clock()


# ---------------------------------------------------------------------------
# Page iterators — one per reference pagination protocol
# ---------------------------------------------------------------------------


def paginate_offset(
    transport: Transport,
    url: str,
    limit: int = 500,
    params: dict | None = None,
    items_key: str | None = None,
    retry: RetryPolicy | None = None,
) -> Iterator[list[dict]]:
    """S1: ``?offset=N&limit=M`` until a short/empty page."""
    retry = retry or RetryPolicy()
    offset = 0
    while True:
        p = dict(params or {}, offset=offset, limit=limit)
        data = retry.call(lambda: transport(url, p))
        items = data[items_key] if items_key else data
        if not items:
            return
        yield items
        if len(items) < limit:
            return
        offset += limit


def _require_items(data: dict, items_key: str, url: str) -> list:
    """A payload MISSING its items container raises instead of reading as
    an empty page: a renamed key after an API version bump (or a
    misconfigured ``items_key``) would otherwise produce a ZERO-row
    extract with zero errors — and a truncate-refresh pipeline would then
    overwrite its target with an empty table. An empty LIST under the key
    is a legitimate empty page and passes through."""
    if items_key not in data:
        raise KeyError(
            f"items container {items_key!r} missing from {url} response "
            f"(keys: {sorted(data)[:8]}) — refusing to read a renamed "
            "payload as an empty extract"
        )
    return data[items_key]


def paginate_page_flag(
    transport: Transport,
    url: str,
    size: int = 250,
    params: dict | None = None,
    items_key: str = "content",
    last_key: str = "last",
    retry: RetryPolicy | None = None,
) -> Iterator[list[dict]]:
    """S2: ``?page=0,1,…`` until the payload's ``last`` flag.

    A payload MISSING the flag raises instead of defaulting to "last":
    a renamed/dropped flag after an API version bump would otherwise
    silently truncate a multi-page extract to page 0 — partial
    replication with zero errors. An empty page with ``last=false``
    also stops (progress guard): looping on a stuck server would spin
    forever yielding nothing."""
    retry = retry or RetryPolicy()
    page = 0
    while True:
        p = dict(params or {}, page=page, size=size)
        data = retry.call(lambda: transport(url, p))
        if last_key not in data:
            raise KeyError(
                f"pagination flag {last_key!r} missing from {url} response "
                f"(keys: {sorted(data)[:8]}) — refusing to guess whether "
                "more pages exist"
            )
        items = _require_items(data, items_key, url)
        yield items
        if data[last_key] or not items:
            return
        page += 1


def paginate_keyset(
    transport: Transport,
    url: str,
    take: int = 500,
    params: dict | None = None,
    id_key: str = "Id",
    start_after: Any = None,
    row_limit: int | None = None,
    retry: RetryPolicy | None = None,
) -> Iterator[list[dict]]:
    """S3/S4: ``?from=<last id>`` keyset pages; stops when the cursor stops
    advancing. ``start_after`` resumes from a persisted watermark and
    ``row_limit`` caps total rows (the reference's billwerk_invoices
    incremental contract). Keyset (not offset) is the protocol that stays
    O(page) on arbitrarily large upstream tables."""
    retry = retry or RetryPolicy()
    cursor = start_after
    emitted = 0
    while True:
        p = dict(params or {}, take=take)
        if cursor is not None:
            p["from"] = cursor
        data = retry.call(lambda: transport(url, p))
        raw = list(data)
        items = raw
        if cursor is not None:
            # keyset APIs re-include the cursor row first (reference skips it)
            items = [it for it in items if it[id_key] != cursor]
        if not items:
            return
        # stall guard on the UNFILTERED page: after dropping the cursor
        # row, items can never contain the cursor id, so comparing the
        # filtered tail to it is dead code — a misbehaving endpoint that
        # re-serves the same page for from=<cursor> (pagination bug,
        # stale replica) would loop forever emitting duplicates. The raw
        # page's last id not advancing past the cursor IS the stall.
        new_cursor = raw[-1][id_key]
        if cursor is not None and new_cursor == cursor:
            return
        if row_limit is not None:
            items = items[: max(0, row_limit - emitted)]
            if not items:
                return
        emitted += len(items)
        yield items
        cursor = new_cursor
        if row_limit is not None and emitted >= row_limit:
            return


def paginate_cursor_link(
    transport: Transport,
    url: str,
    params: dict | None = None,
    items_key: str = "results",
    next_path: tuple[str, ...] = ("paging", "next", "link"),
    retry: RetryPolicy | None = None,
) -> Iterator[list[dict]]:
    """S5: follow ``paging.next.link`` until absent (HubSpot). A server
    re-serving a PREVIOUSLY SEEN link (pagination bug, stale replica,
    load-balanced A→B→A two-link cycle) would loop forever emitting
    duplicate pages — the keyset stall guard, applied to the full set of
    visited links, not just the immediate predecessor."""
    retry = retry or RetryPolicy()
    next_url: str | None = url
    next_params = dict(params or {})
    # bounded memory on a months-long backfill (millions of pages): a
    # real cycle revisits a RECENT link, so remembering the last 4096 is
    # enough to break any plausible loop without holding every URL
    from collections import OrderedDict

    seen: OrderedDict[str, None] = OrderedDict()
    while next_url:
        u = next_url
        pp = next_params
        seen[u] = None
        if len(seen) > 4096:
            seen.popitem(last=False)
        data = retry.call(lambda: transport(u, pp))
        yield _require_items(data, items_key, u)
        node: Any = data
        for k in next_path:
            node = node.get(k) if isinstance(node, dict) else None
            if node is None:
                break
        if node in seen:
            return  # stall/cycle: the link revisits a fetched page
        next_url = node
        next_params = {}  # cursor links embed their own params


def paginate_starting_after(
    transport: Transport,
    url: str,
    limit: int = 100,
    params: dict | None = None,
    items_key: str = "data",
    more_key: str = "has_more",
    id_key: str = "id",
    retry: RetryPolicy | None = None,
) -> Iterator[list[dict]]:
    """S6: Stripe-style ``starting_after=<last id>`` + ``has_more``. A
    server that ignores ``starting_after`` and re-serves the same page
    with ``has_more=true`` stalls the cursor — return instead of looping
    forever emitting duplicates (the keyset stall guard)."""
    retry = retry or RetryPolicy()
    cursor = None
    while True:
        p = dict(params or {}, limit=limit)
        if cursor is not None:
            p["starting_after"] = cursor
        data = retry.call(lambda: transport(url, p))
        items = _require_items(data, items_key, url)
        if items:
            new_cursor = items[-1][id_key]
            if cursor is not None and new_cursor == cursor:
                return  # stall: the cursor did not advance
            yield items
            cursor = new_cursor
        if not data.get(more_key, False) or not items:
            return


# ---------------------------------------------------------------------------
# Pages → DataFrame
# ---------------------------------------------------------------------------


#: leaf types whose Python → Spark conversion Arrow reproduces exactly for
#: every value the row verifier accepts, or refuses (a refusal takes the
#: list conversion). Datetime-family types stay on the list conversion: it
#: reads a naive ``datetime`` in the host zone, Arrow reads it as UTC.
_ARROW_LEAVES = (
    T.StringType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
    T.LongType, T.FloatType, T.DoubleType, T.DecimalType, T.BinaryType,
    T.NullType,
)


def _arrow_exact(dt: T.DataType) -> bool:
    if isinstance(dt, T.StructType):
        return all(_arrow_exact(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _arrow_exact(dt.elementType)
    if isinstance(dt, T.MapType):
        return _arrow_exact(dt.keyType) and _arrow_exact(dt.valueType)
    return type(dt) in _ARROW_LEAVES


def _chunk_frame(spark: SparkSession, rows: list, schema, verify, arrow_schema):
    """One chunk of fetched rows → a JVM-held frame.

    PySpark's own row verifier runs first, so every payload
    ``createDataFrame(list)`` rejects still raises here, before anything
    commits — Arrow alone would, e.g., turn 1.5 into 1 in a ``bigint``.
    Then the rows become an Arrow table, and the frame reads its batches
    from the JVM: no Python worker runs on any later action. Rows Arrow
    cannot take exactly (a non-``str`` scalar in a ``string`` field, a
    non-dict row, a datetime-family schema) take the list conversion
    instead, landed once with an eager local checkpoint so later actions
    do not re-run it through Python workers; those rows are rendered as
    the list conversion always rendered them (``5`` → ``'5'``). Arrow does
    take ``bytes`` in a ``string`` field: it decodes them as UTF-8 where
    the list conversion stored their repr (``"b'ab'"``)."""
    arrow = arrow_schema is not None
    for row in rows:
        verify(row)
        # from_pylist reads a non-dict row by key lookup and would turn
        # it into NULLs without complaint
        arrow = arrow and isinstance(row, dict)
    if arrow:
        try:
            table = pa.Table.from_pylist(rows, schema=arrow_schema)
        except Exception:  # noqa: BLE001 — any refusal: list conversion
            table = None
        if table is not None:
            return spark.createDataFrame(table, schema)
    return spark.createDataFrame(rows, schema, verifySchema=False).localCheckpoint(
        eager=True
    )


def to_dataframe(
    spark: SparkSession,
    pages: Iterator[list[dict]],
    schema,
    chunk_rows: int = 50_000,
) -> DataFrame:
    """Materialize a page iterator into a DataFrame with an explicit schema
    (a ``StructType`` or a DDL string).

    The reference pickles whole pandas frames through Airflow XCom between
    tasks (SURVEY §3.1 stage 3); here pages are shipped to the JVM in
    ``chunk_rows`` slices as they arrive, so driver residency is bounded
    by one chunk of Python dicts — not the whole extract (the API-side
    pagination is inherently driver-sequential). Each chunk is verified
    against the schema and converted through Arrow (``_chunk_frame``);
    nested struct/array payloads convert as dicts and lists, and rows
    missing keys get NULL (the reference's required_columns padding) —
    explicit schema = schema-on-write (SURVEY §1.3). The result is held
    in the JVM, so counts, key frames and merges over it never re-run the
    conversion."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    arrow_schema = to_arrow_schema(schema) if _arrow_exact(schema) else None
    chunks: list[DataFrame] = []
    buf: list[dict] = []

    def flush() -> None:
        nonlocal buf
        chunks.append(_chunk_frame(spark, buf, schema, verify, arrow_schema))
        buf = []

    for page in pages:
        buf.extend(page)
        if len(buf) >= chunk_rows:
            flush()
    if buf or not chunks:
        flush()
    # balanced union tree, not a left-leaning chain: a large backfill's
    # thousands of chunks would otherwise build an O(n)-deep Union plan
    # (quadratic analysis time, driver StackOverflow risk) — pairwise
    # folding keeps depth at log2(n)
    while len(chunks) > 1:
        nxt = []
        for i in range(0, len(chunks), 2):
            pair = chunks[i : i + 2]
            nxt.append(pair[0] if len(pair) == 1 else pair[0].unionByName(pair[1]))
        chunks = nxt
    return chunks[0]


# ---------------------------------------------------------------------------
# S7: per-key detail fan-out (the reference's ThreadPoolExecutor, distributed)
# ---------------------------------------------------------------------------


def fanout_fetch(
    keys_df: DataFrame,
    fetch_one: Callable[[Any], dict | None],
    result_schema,
    key_col: str = "id",
    parallelism: int = 10,
    rate_limit_interval: float = 0.0,
    retry: RetryPolicy | None = None,
    error_col: str | None = None,
):
    """Correlated per-key remote fetch as ``mapInPandas`` over the key frame.

    ``fetch_one(key) -> dict | None`` runs once per key inside each
    partition with retry + rate limiting; None (failed fetch) is dropped and
    surfaced in the ``_fetch_ok`` accounting column instead of aborting the
    job — the reference's error-isolation semantics
    (``dags/lex_office/lex_office_invoice_items.py:187-210``).

    The catch is deliberately broad (``fetch_one`` is arbitrary caller
    code over an arbitrary transport — transport failures cannot be
    enumerated here), which means a SYSTEMATIC bug (typo, bad auth)
    surfaces as every row ``_fetch_ok=false`` rather than a traceback.
    Pass ``error_col`` (e.g. ``"_fetch_err"``) to capture
    ``ExceptionType: message`` per failed key — the dead-letter frame
    then says WHY, and a monitoring check on distinct error strings
    separates "API flaked for 0.1% of keys" from "every key failed the
    same way". Off by default so declared result schemas stay stable.

    ``parallelism`` maps MAX_WORKERS: it is the repartition count of the key
    frame, i.e. the number of concurrent API streams cluster-wide. At 100 TB
    the keys frame itself is distributed — no driver materialization.
    """
    import pandas as pd
    from pyspark.sql import types as T

    retry = retry or RetryPolicy()
    field_names = [f.name for f in result_schema.fields if f.name != "_fetch_ok"]
    # failure rows carry NULLs in every non-key field, so the output schema
    # must be fully nullable regardless of the caller's declaration —
    # codegen NPEs on a null in a non-nullable slot otherwise
    out_fields = [
        T.StructField(f.name, f.dataType, True) for f in result_schema.fields
    ]
    if error_col is not None:
        out_fields.append(T.StructField(error_col, T.StringType(), True))
    out_schema = T.StructType(out_fields)
    out_cols = [f.name for f in out_fields]

    def run(batches):
        limiter = RateLimiter(min_interval=rate_limit_interval)
        for pdf in batches:
            out = []
            for key in pdf[key_col]:
                limiter.wait()
                err = None
                try:
                    detail = retry.call(lambda k=key: fetch_one(k))
                    if detail is not None and not isinstance(detail, dict):
                        # a truthy non-dict (list/string error envelope)
                        # must dead-letter like any other failure — built
                        # into the row it would crash the whole stage
                        raise TypeError(
                            f"fetch_one returned {type(detail).__name__}, "
                            "expected dict or None"
                        )
                except Exception as exc:  # noqa: BLE001 — see docstring
                    detail = None
                    err = f"{type(exc).__name__}: {exc}"[:500]
                row = {k: (detail or {}).get(k) for k in field_names}
                if row.get(key_col) is None:
                    row[key_col] = key  # failed fetches still identify their key
                row["_fetch_ok"] = detail is not None
                if error_col is not None:
                    row[error_col] = err
                out.append(row)
            yield pd.DataFrame(out, columns=out_cols)

    return (
        keys_df.repartition(parallelism)
        .mapInPandas(run, schema=out_schema)
    )
