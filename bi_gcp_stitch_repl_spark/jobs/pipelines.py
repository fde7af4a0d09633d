"""The scheduled jobs, engine-composed.

Every REST sync but two runs on one declarative archetype,
``entity_replication`` (paginate → optional detail fan-out → SQL
projection → optional child explode → sink), configured per entity by a
``JobSpec`` in ``jobs.entities``. The two that keep their own function
need state or a shape the archetype has no stage for:
``billwerk_incremental_invoices`` (a persisted keyset watermark) and
``stripe_account_rollup`` (a grouped rollup). Beside them sit the sheet
import, history capture, reverse-ETL, table maintenance and the corpus
ingest/curation jobs.

Each job takes (spark, transport, warehouse paths) — transport injectable,
so the whole pipeline runs hermetically in tests and against live APIs in
production. Compare the stage tables in SURVEY §3.1-3.3: every XCom hop,
pickled frame, and Jinja-templated SQL string in the reference collapses
into DataFrame lineage here; the only process boundaries left are
API→cluster and cluster→table.
"""

from __future__ import annotations

import itertools
import os
from functools import partial

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ops.clean import strip_thousands
from ..ops.keys import carry_forward_keys
from ..ops.normalize import explode_with_parent
from ..sinks.merge import ParquetTable, WatermarkStore
from ..sinks.reverse import post_batches
from ..sinks.versioned import VersionedTable
from ..sources import rest


def merge_table(spark: SparkSession, path: str, table_factory=None):
    """The job layer's table seam for merge targets.

    Defaults to the commit-log ``VersionedTable``: its MERGE is file-pruned
    (only files whose logged key [min,max] overlaps the batch are rewritten
    — O(affected data), not O(table)), commits are atomic and snapshot-
    isolated, and replay dedup/time travel come free. On a key-clustered
    table (``optimize``/zorder) a small daily batch touches a few files out
    of millions — the difference between a merge that costs minutes and one
    that rewrites 100 TB. Pass ``table_factory=ParquetTable`` for the plain
    single-directory layout (full-rewrite merge, K1 baseline semantics).
    """
    return (table_factory or VersionedTable)(spark, path)


def billwerk_incremental_invoices(
    spark: SparkSession,
    transport: rest.Transport,
    warehouse_path: str,
    watermark_path: str,
    api_base: str = "https://api.example/invoices",
    row_limit: int | None = None,
    table_factory=None,
) -> int:
    """S4 incremental replication: resume from the persisted keyset
    watermark, merge the slice, advance the watermark only after the merge
    commits (billwerk_invoices.py:49-99,160-163 semantics, minus the
    crash-window)."""
    ws = WatermarkStore(watermark_path)
    cursor = ws.get("billwerk_invoices")
    pages = rest.paginate_keyset(
        transport, api_base, take=500, start_after=cursor, row_limit=row_limit
    )
    # the paginator yields only non-empty pages: a slice with nothing new
    # returns here, before any job, commit or watermark write
    first = next(pages, None)
    if first is None:
        return 0
    # to_dataframe, not a driver list: the catch-up run (first load, or
    # after an outage with row_limit=None) is exactly when the slice is
    # the WHOLE upstream history — driver residency must stay one chunk
    schema = "Id long, amount double, status string"
    batch, stats = _observe_rows(
        rest.to_dataframe(spark, itertools.chain([first], pages), schema)
        .withColumnRenamed("Id", "invoice_id"),
        F.max("invoice_id").alias("hi"),
    )
    # the slice's size and top key come from the merge's own jobs
    merge_table(spark, warehouse_path, table_factory).merge_upsert(
        batch, keys=["invoice_id"]
    )
    ws.advance("billwerk_invoices", stats.get["hi"])
    return stats.get["n"]


def sheet_import_snapshot(
    spark: SparkSession,
    transport,
    warehouse_path: str,
    spreadsheet_id: str,
    range_a1: str,
    header_row: int = 0,
    data_start: int | None = None,
    data_end: int | None = None,
    col_slice=None,
    date_cols: dict[str, str] | None = None,
    thousands_cols: list[str] | None = None,
    renames: dict[str, str] | None = None,
    select: list[str] | None = None,
    fill_zero: bool = False,
    api_base: str = "https://sheets.googleapis.com/v4/spreadsheets",
    table_factory=None,
) -> int:
    """Sheets-import archetype: S10 sheet scan → declarative clean
    (F4 locale dates / F5 thousands strip / rename / select) → K2
    truncate-refresh. One pipeline covers the reference's whole
    sheet-import family — ``dags/price-increase/import_bi_dev_ltv.py:35-105``
    (header at row 375, data from 376, cols 0:7, '%d/%m/%Y' dates,
    comma-stripped FTE columns, fillna(0), rename, WRITE_TRUNCATE) and
    ``dags/key_accounts/active_orgs.py:25-39`` (header promotion +
    straight truncate load) are two configs of this function, not two
    DAG files.

    All config is JSON-expressible, so every sheet import is CLI-runnable
    (``$transport`` resolver for the API client). ``date_cols`` maps
    column → Java datetime pattern (``{"year_month": "dd/MM/yyyy"}``);
    parse failures coerce to NULL (the module's try_-everything contract —
    a stray header fragment or 'n.a.' cell must not kill the nightly
    load). ``thousands_cols`` strip ',' and cast double; with
    ``fill_zero`` they default 0.0 (the reference's ``fillna(0)``).
    Column names in the cleaning spec use the SANITIZED header names
    (sheet_to_dataframe's identifier rules); ``renames`` then maps them
    to warehouse names and ``select`` fixes the final column set/order.
    Sheets are driver-sized by nature (≤ a few 10⁵ cells) — the fetch is
    driver-side, everything after createDataFrame is distributed; at
    100 TB warehouse scale this job's cost is the OVERWRITE commit, which
    is O(sheet), not O(table)."""
    from ..sources.sheets import sheet_source

    df = sheet_source(
        spark,
        transport,
        spreadsheet_id,
        range_a1,
        api_base=api_base,
        header_row=header_row,
        data_start=data_start,
        data_end=data_end,
        col_slice=tuple(col_slice) if col_slice is not None else None,
    )
    for col, fmt in (date_cols or {}).items():
        df = df.withColumn(col, F.try_to_date(F.col(col), fmt))
    for col in thousands_cols or []:
        df = df.withColumn(col, strip_thousands(col).try_cast("double"))
        if fill_zero:
            df = df.withColumn(col, F.coalesce(F.col(col), F.lit(0.0)))
    for old, new in (renames or {}).items():
        df = df.withColumnRenamed(old, new)
    if select:
        df = df.select(*select)
    n = df.count()  # count BEFORE the swap invalidates lineage
    merge_table(spark, warehouse_path, table_factory).overwrite(df)
    return n


def stripe_account_rollup(
    spark: SparkSession,
    transport: rest.Transport,
    warehouse_path: str,
    api_base: str = "https://api.example/balance_transactions",
    table_factory=None,
) -> DataFrame:
    """Stripe accounts pipeline (SURVEY A3 + S6 + K6): cursor-paged txn
    scan → per-account conditional rollup (balance/payout/volume — the
    reference's per-row python accumulation as one grouped pass) →
    staging-merge into the warehouse."""
    pages = rest.paginate_starting_after(transport, api_base, limit=100)
    txns = rest.to_dataframe(
        spark,
        pages,
        # created: epoch seconds
        "id string NOT NULL, account_id string NOT NULL, type string,"
        " amount double, created bigint",
    )
    t = F.col("type")
    rollup = txns.groupBy("account_id").agg(
        F.sum(F.when(t.isin("available", "connect_reserved", "pending"), F.col("amount")).otherwise(0.0)).alias("balance"),
        F.sum(F.when(t == "payout", F.col("amount")).otherwise(0.0)).alias("payout"),
        F.sum(F.when(t == "payment", F.col("amount")).otherwise(0.0)).alias("volume"),
        F.max(F.expr("to_timestamp(from_unixtime(created))")).alias("last_txn_at"),
    )
    merge_table(spark, warehouse_path, table_factory).merge_upsert(rollup, keys=["account_id"])
    return rollup


def history_capture(
    spark: SparkSession,
    snapshot: DataFrame,
    history_path: str,
    keys: list[str],
) -> int:
    """K7/J3: append-only change capture — the flagship slice as a job.
    Returns rows appended (all the reference ever logs)."""
    tbl = ParquetTable(spark, history_path)
    return tbl.append_if_absent(snapshot, keys=keys).count()


def reverse_etl_company_status(
    spark: SparkSession,
    warehouse_df: DataFrame,
    send,
    key_col: str = "company_id",
    batch_size: int = 100,
) -> tuple[int, int]:
    """Reference entry point C (SURVEY §3.3): warehouse aggregate → per-key
    first-wins property merge (A5, deterministic via min_by) → batched
    POSTs (K8). Returns (ok_batches, failed_batches)."""
    per_key = warehouse_df.groupBy(key_col).agg(
        F.min_by("status", "priority").alias("status"),
        F.count("*").alias("n_rows"),
    )
    return post_batches(per_key, send, batch_size=batch_size)


#: pagination protocol name -> rest.paginate_* (the four SURVEY §2.1
#: protocols + the page-counter variant), for the declarative archetype
_PAGINATORS = {
    "offset": rest.paginate_offset,
    "page_flag": rest.paginate_page_flag,
    "keyset": rest.paginate_keyset,
    "cursor_link": rest.paginate_cursor_link,
    "starting_after": rest.paginate_starting_after,
}


def _apply_select(df: DataFrame, select: list[dict]) -> DataFrame:
    """Project the declarative column list: each entry is
    ``{"name": out_col, "sql": <spark SQL expr over the raw columns>}``
    (``{"name": c}`` passes a column through). SQL strings keep the
    config JSON-expressible while covering the reference DAGs' whole
    flatten vocabulary (struct access with defaults, concat, str(), type
    coercions, audit timestamps via the bound ``_now`` column)."""
    cols = []
    for item in select:
        name = item["name"]
        cols.append(F.expr(item.get("sql", f"`{name}`")).alias(name))
    return df.select(*cols)


def _observe_rows(df: DataFrame, *aggs) -> tuple[DataFrame, Observation]:
    """``df`` with a row count ``n`` (and ``aggs``) observed by whichever
    action runs it first — the sink's own write or eager checkpoint — so
    counting costs no job of its own. Read it only after that action:
    ``Observation.get`` waits for one. A lazy checkpoint above it would
    report zero rows."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs), obs


def _run_sinks(spark: SparkSession, main, *sides) -> None:
    """Run each of ``sides`` that is not None on its own thread while
    ``main`` runs on this one, so their Spark jobs overlap. Returns only
    after all have ended; the first error raised is re-raised then."""
    errors: list[BaseException] = []

    def guarded(fn) -> None:
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    # each inherits the caller's job group and local properties
    workers = [
        InheritableThread(partial(guarded, fn), session=spark)
        for fn in sides
        if fn is not None
    ]
    for w in workers:
        w.start()
    guarded(main)
    for w in workers:
        w.join()
    if errors:
        raise errors[0]


def entity_replication(
    spark: SparkSession,
    transport,
    warehouse_path: str,
    *,
    source: dict,
    select: list[dict],
    sink: dict | None = None,
    detail: dict | None = None,
    detail_fetch=None,
    explode: dict | None = None,
    child: dict | None = None,
    child_warehouse_path: str | None = None,
    clock: str | None = None,
    dead_letter_path: str | None = None,
    table_factory=None,
):
    """Declarative per-entity replication: the archetype behind the
    reference's per-entity DAG files. One pipeline, N JSON configs — each
    ``jobs.entities.ENTITY_MANIFEST`` entry is one reference DAG expressed
    as data (SURVEY §2.12's "52 DAGs" story at its real breadth), and so
    are the bexio, lexoffice, billwerk-contract and hubspot-ticket syncs
    of ``JOB_MANIFEST``.

    Stages (each optional piece mirrors a reference family):
      1. paginate (``source``: protocol ∈ offset/page_flag/keyset/
         cursor_link/starting_after + endpoint/limits/keys, schema as a
         DDL string — S1-S6; ``where``: a SQL predicate over the listed
         rows, so a filtered-out key costs no detail call) → DataFrame;
      2. optional per-key detail fan-out (``detail``: key_col + DDL
         schema; ``detail_fetch`` callable — S7/J6, the reference's
         ThreadPoolExecutor loops, distributed via mapInPandas). Failed
         fetches are dropped; with ``dead_letter_path`` they are also
         appended there once per key (``append_if_absent``), as
         ``(<key>, error, failed_at)``, the key under its ``explode``
         alias if it has one;
      3. declarative projection (``select``: SQL exprs — the reference's
         flat_entry dict/required_columns padding; an injectable ``_now``
         audit column replaces ``pd.to_datetime('now')`` so tests pin
         byte-identical output);
      4. optional child explode (``child``: array_col/parent map/select/
         keys — F22/J7 line items) to ``child_warehouse_path``;
      5. sink (``sink``: mode ∈ truncate/upsert/append_dedup + keys — K1/
         K2/K7; truncate is the reference's WRITE_TRUNCATE norm).
         ``carry``: output columns whose value already in the table wins
         for keys it holds (J1 surrogate key / created_at carry-forward;
         upsert with a single key only).

    The parent and child sinks (and the dead-letter append) run
    concurrently — all but the parent on their own threads — like the
    reference's independent load jobs, and the call returns only after
    all have ended. Each sink commits atomically on its own table, but not
    together: if one fails, the others are still attempted and may
    commit, and the first error is raised once all are done. Re-running
    the sync is idempotent in every mode, so the repair is a re-run.

    Returns the rows handed to the sink (or ``(parent_rows, child_rows)``
    with a child), counted by the sinks' own jobs.
    """
    sink = sink or {"mode": "truncate"}
    mode = sink.get("mode", "truncate")
    if mode not in ("truncate", "upsert", "append_dedup"):
        raise ValueError(f"unknown sink mode {mode!r}")
    keys = sink.get("keys") or []
    carry = sink.get("carry")
    if carry and (mode != "upsert" or len(keys) != 1):
        raise ValueError("sink carry needs upsert mode with a single key")
    if detail is not None and detail_fetch is None:
        raise ValueError("detail config needs a detail_fetch callable")
    if dead_letter_path is not None and detail is None:
        raise ValueError("dead_letter_path needs a detail config")
    src = dict(source)
    protocol = src.pop("protocol")
    schema = src.pop("schema")
    url = src.pop("url")
    where = src.pop("where", None)
    pages = _PAGINATORS[protocol](transport, url, **src)
    raw = rest.to_dataframe(spark, pages, schema)
    if where is not None:
        raw = raw.filter(F.expr(where))

    dead_letter_sink = None
    if detail is not None:
        d = dict(detail)
        detail_schema = T.StructType.fromDDL(d.pop("schema")).add(
            T.StructField("_fetch_ok", T.BooleanType())
        )
        # checkpoint BEFORE anything consumes the fan-out: the two
        # concurrent sinks and the dead-letter append all read it, and an
        # unmaterialized mapInPandas fetch would re-call the API once per
        # reader — more traffic, a faster rate-limit burn, and outcomes
        # that differ between readers (a key flaking in one pass only
        # could be both dead-lettered and merged)
        fanout = rest.fanout_fetch(
            raw,
            detail_fetch,
            detail_schema,
            error_col="_fetch_err" if dead_letter_path is not None else None,
            **d,
        ).localCheckpoint(eager=True)
        raw = fanout.filter(F.col("_fetch_ok")).drop("_fetch_ok", "_fetch_err")
        if dead_letter_path is not None:
            # the captured error separates "the API flaked for a few keys"
            # from "every key failed the same way"; append_if_absent keeps
            # one row per key across the daily re-scan and its retries
            key_col = d.get("key_col", "id")
            # keyed by the name the config gives the key: its explode alias
            aliases = explode["parent_map"] if explode is not None else {}
            dead_key = aliases.get(key_col, key_col)
            failed = fanout.filter(~F.col("_fetch_ok")).select(
                F.col(key_col).alias(dead_key),
                F.col("_fetch_err").alias("error"),
                F.current_timestamp().alias("failed_at"),
            )
            dead_letter_sink = partial(
                ParquetTable(spark, dead_letter_path).append_if_absent,
                failed,
                keys=[dead_key],
            )

    now = (
        F.lit(clock).cast("timestamp")
        if clock is not None
        else F.current_timestamp()
    )
    explode_parents = None
    fetched = raw  # the PRE-explode fetched rows (key_frame source)
    if explode is not None:
        # the MAIN rows are array elements (a detail endpoint returning a
        # LIST per key — e.g. one invoice's several payments): explode
        # before projecting, parents attached under their mapped names.
        # Keep the PRE-explode parent key set: a parent whose array became
        # empty upstream explodes to ZERO batch rows, and an upsert merge
        # keyed only on the batch would leave its stale rows alive forever
        # — the key_frame contract of the child sink below.
        explode_map = dict(explode["parent_map"])
        explode_parents = raw.select(
            *[F.col(r).alias(c) for r, c in explode_map.items()]
        )
        raw = explode_with_parent(
            raw.select(*explode_map, explode["array_col"]),
            explode["array_col"],
            explode_map,
        )
    frame = raw.withColumn("_now", now)
    tbl = merge_table(spark, warehouse_path, table_factory)
    out = _apply_select(frame, select)
    if carry and tbl.exists():
        # J1: a key already in the table keeps its carried values; new
        # keys keep the minted ones from the select
        out = carry_forward_keys(
            out, tbl.read(), keys[0], {c: F.col(c) for c in carry}
        ).select(*out.columns)
    out, out_obs = _observe_rows(out)

    child_sink = child_obs = None
    if child is not None:
        parent_map = dict(child["parent_map"])  # {raw col -> child-side name}
        items = explode_with_parent(
            frame.select(*parent_map, child["array_col"]),
            child["array_col"],
            parent_map,
        )
        items = _apply_select(items.withColumn("_now", now), child["select"])
        items, child_obs = _observe_rows(items)
        ctbl = merge_table(spark, child_warehouse_path, table_factory)
        if mode == "truncate":
            child_sink = partial(ctbl.overwrite, items)
        else:
            # child rows merge on the PARENT key: each parent's batch rows
            # are its complete current item set (the reference's
            # per-parent DELETE+INSERT — stale items of refetched parents
            # must die). The
            # delete scope must be the FULL fetched parent set (key_frame),
            # not the batch's keys: a refetched parent whose child array
            # became EMPTY contributes zero batch rows, and without the
            # frame its stale children would survive every merge. Only
            # derivable when every child key is a parent-mapped column —
            # an element-level key has no per-parent completeness contract.
            ckeys = child.get("keys") or keys
            ckf = None
            if set(ckeys) <= set(parent_map.values()):
                rev = {c: r for r, c in parent_map.items()}
                # completeness scope must come from the PRE-explode rows
                # when the MAIN rows were themselves exploded: `frame` is
                # post-explode there, so a parent whose main array emptied
                # has no frame rows and would silently vanish from the
                # delete scope (the exact stale-child bug this key_frame
                # exists to prevent). explode_parents carries the fetched
                # parent set under the mapped names frame uses.
                src = frame
                if explode_parents is not None:
                    if {rev[c] for c in ckeys} <= set(
                        explode_parents.columns
                    ):
                        src = explode_parents
                    else:
                        # child key rooted in an element-level field of
                        # the exploded main array: no per-parent
                        # completeness contract is derivable
                        src = None
                if src is not None:
                    ckf = src.select(
                        *[F.col(rev[c]).alias(c) for c in ckeys]
                    )
            child_sink = partial(ctbl.merge_upsert, items, keys=ckeys, key_frame=ckf)

    if mode == "truncate":
        parent_sink = partial(tbl.overwrite, out)
    elif mode == "upsert":
        # explode-path main merge: same per-parent DELETE+INSERT contract
        # as the child sink — the fetched-parent key set widens the delete
        # scope so a parent whose list became empty purges its stale rows.
        # Derivation: an explicit sink["key_frame"] {out_key: raw parent
        # col} wins (needed when the merge key is an element-level field
        # that EQUALS the parent key under another name, e.g. a payment's
        # kb_invoice_id = the fetched invoice's id); else auto-derive when
        # every sink key is a parent-mapped explode column.
        kf = None
        kf_map = sink.get("key_frame")
        if kf_map is not None:
            kf = fetched.select(
                *[F.col(r).alias(o) for o, r in kf_map.items()]
            )
        elif explode_parents is not None and set(keys) <= set(
            explode_parents.columns
        ):
            kf = explode_parents.select(*keys)
        parent_sink = partial(tbl.merge_upsert, out, keys=keys, key_frame=kf)
    else:  # append_dedup
        # snapshot first: when every row is already present the anti-join
        # comes out empty, and adaptive execution then replaces the stage
        # holding the row-count observation, which reports no metrics
        def parent_sink():
            tbl.append_if_absent(out.localCheckpoint(eager=True), keys=keys)

    _run_sinks(spark, parent_sink, child_sink, dead_letter_sink)
    n = out_obs.get["n"]
    return n if child_obs is None else (n, child_obs.get["n"])


def _table_for(spark: SparkSession, path: str):
    """Open ``path`` as the table type it actually IS: a ``_log`` dir
    marks a VersionedTable, anything else is a plain ParquetTable.

    Maintenance and erasure jobs previously hardcoded ParquetTable while
    every load job in the manifest writes VersionedTable by default —
    pointing ParquetTable.compact at a commit-log table resurrects every
    logically-removed generation as duplicate rows and destroys the log
    (ParquetTable reads ALL physical files and rewrites the directory),
    and ParquetTable.vacuum/delete_matching silently no-op / leave the
    to-be-erased rows alive in old generations. Auto-detection makes the
    scheduled jobs safe for mixed warehouses with zero configuration."""
    if os.path.isdir(os.path.join(path, "_log")):
        return VersionedTable(spark, path)
    return ParquetTable(spark, path)


def compact_tables(
    spark: SparkSession,
    table_paths: list[str],
    target_partitions: int | None = None,
    zorder_by: list[str] | None = None,
    incremental: bool = False,
    min_file_bytes: int = 32 << 20,
) -> dict[str, int | None]:
    """Maintenance: rewrite each table into right-sized files (small-file
    debt is the top silent killer of scan parallelism on a growing lake);
    ``zorder_by`` additionally clusters for multi-column file skipping.
    Table type is auto-detected per path (``_table_for``): commit-log
    tables compact via ``optimize`` (one add+remove commit, history
    intact), plain directories via the staged-swap ``compact``.

    ``incremental=True`` switches commit-log tables to
    ``compact_small`` — pack only the sub-``min_file_bytes`` backlog,
    O(backlog) instead of O(table). This is the NIGHTLY cadence; keep
    the full ``optimize(zorder_by=…)`` on a rarer (weekly) schedule for
    clustering quality. Plain directories have no per-file commit
    accounting, so they always compact fully.

    Returns the COMMITTED VERSION per commit-log table (row count for
    plain directories, whose compact already scans) — re-reading a just-
    compacted 100 TB table end-to-end for a report row count would
    double the maintenance window's IO."""
    out = {}
    for p in table_paths:
        t = _table_for(spark, p)
        if isinstance(t, VersionedTable):
            if incremental:
                out[p] = t.compact_small(min_file_bytes=min_file_bytes)
            else:
                out[p] = t.optimize(target_partitions or 8, zorder_by=zorder_by)
        else:
            out[p] = t.compact(target_partitions, zorder_by)
    return out


def vacuum_tables(
    spark: SparkSession, table_paths: list[str], retention_sec: float = 3600.0
) -> dict[str, int]:
    """Maintenance: GC orphaned write generations older than retention
    (auto-detected per path — VersionedTable generations are GC'd by the
    commit-log vacuum, which a ParquetTable vacuum would never touch).
    NOTE: on a commit-log table, erasure (delete_matching) removes rows
    from the CURRENT snapshot; this vacuum is what actually reclaims the
    old generations still holding them — schedule it after gdpr_erasure."""
    out = {}
    for p in table_paths:
        t = _table_for(spark, p)
        if isinstance(t, VersionedTable):
            out[p] = len(t.vacuum(retention_sec=retention_sec))
        else:
            out[p] = len(t.vacuum(retention_sec))
    return out


def erase_requested_keys(
    spark: SparkSession,
    requests_path: str,
    table_keys: dict[str, list[str]],
    table_factory=None,
) -> dict[str, int]:
    """GDPR erasure driver: apply the pending deletion-request table to
    every warehouse table that carries the key. ``table_keys`` maps table
    path -> key columns; the request set is read once and broadcast into
    each table's anti-join pass. Idempotent end to end (delete_matching),
    so the daily run simply re-applies outstanding requests.

    ``table_factory`` defaults to per-path auto-detection
    (``_table_for``): the manifest's load jobs write VersionedTable, and
    erasing one through ParquetTable would both resurrect removed
    generations AND leave the requested rows alive in the pre-delete
    snapshot — the opposite of erasure. Pass a factory explicitly only
    to force one type. The REQUESTS table is auto-detected too: reading
    a VersionedTable requests dir as raw parquet would resurrect
    superseded generations — including WITHDRAWN requests, which would
    then be irreversibly applied."""
    requests = _table_for(spark, requests_path).read()
    out = {}
    for path, keys in table_keys.items():
        t = (
            _table_for(spark, path)
            if table_factory is None
            else table_factory(spark, path)
        )
        out[path] = t.delete_matching(requests, keys)
    return out


def incremental_dedup_ingest(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_gram: int = 5,
    n_perm: int = 16,
    n_bands: int = 4,
    app_id: str | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """Continuous-ingest near-dup detection: probe the persisted MinHash
    band index with the new batch, return candidate pairs, and commit the
    batch's bands to the index as an O(1) versioned append.

    Composition of two engine pieces built for exactly this: functions.
    dedup.minhash_lsh_pairs_incremental (only the batch is hashed; the
    corpus is probed by (band, sig) equi-join) and sinks.versioned.
    VersionedTable (the index grows by add-only commits — no rewrite of
    N-1 loads' bands on load N, and a crashed run retries on its own
    snapshot). Pairs are materialized (localCheckpoint) BEFORE the index
    commit, so a failed detection never half-updates the index, and a
    crash after detection but before commit just re-detects the same
    batch against the same snapshot on retry.
    """
    from ..functions.dedup import minhash_bands, minhash_lsh_pairs_incremental
    from ..sinks.versioned import VersionedTable

    index = VersionedTable(spark, index_path)
    corpus_bands = (
        index.read()
        if index.exists()
        else minhash_bands(batch.limit(0), text_col, id_col, n_gram, n_perm, n_bands)
    )
    pairs, batch_bands = minhash_lsh_pairs_incremental(
        corpus_bands, batch, text_col, id_col, n_gram, n_perm, n_bands
    )
    pairs = pairs.localCheckpoint(eager=True)
    if app_id is not None and batch_id is not None:
        # at-least-once caller (streaming foreachBatch): the txn marker
        # makes a replayed batch's index commit a no-op — plain append
        # would double the batch's bands in the index forever
        index.append_txn(batch_bands, app_id=app_id, batch_id=batch_id)
    else:
        index.append(batch_bands)
    return pairs


def incremental_ann_ingest(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    n_cells: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    app_id: str | None = None,
    batch_id: int | None = None,
) -> int | None:
    """Persisted IVF-ANN index for continuous embedding ingest — the
    similarity-search twin of ``incremental_dedup_ingest``.

    ``app_id``/``batch_id`` ride a txn action exactly as the sibling
    ingest jobs: an at-least-once scheduler replaying an
    already-committed batch is a no-op (returns None) instead of
    double-appending every vector — duplicate index rows would surface
    as duplicate kNN neighbors.

    First load fits the coarse cells on the batch
    (``functions.similarity.kmeans_ivf_index``) and stores the KMeans
    model's FINAL cluster centers in a tiny sidecar table
    (``<index>_centroids`` — n_cells rows); the index table holds
    ``(id, vector, cell)``. The sidecar holds the model centers — NOT
    assignment means, which sit one Lloyd half-step away — because
    ``model.transform`` assigns the first batch by argmin against the
    final centers: with the centers persisted, every row of every load
    (including the first) satisfies the same invariant, cell = argmin
    over the sidecar centroids. Every later load reads + broadcasts the
    FROZEN centroid table, assigns each new vector by squared-L2 argmin
    (JVM-side sequential fold, centroid id tie-break), and lands in ONE
    O(1) versioned append — per-ingest cost is O(batch × n_cells), the
    corpus is never re-read or re-fit. Freezing the coarse quantizer after
    the first fit is standard IVF practice (FAISS trains once on a
    sample); refit offline and rebuild if drift ever matters. Size
    ``n_cells`` for the EVENTUAL corpus (≈ sqrt(N_target),
    ``similarity.auto_n_cells``), not the first batch — ``n_cells=None``
    would auto-size against the first load only, which under-cells a
    table that grows 100× past it (the offline-refit cadence is where
    re-sizing belongs).

    Queries run ``functions.similarity.ivf_topk(index.read(), queries,
    centroid_col="ivf_cell")``; with ``n_probe=n_cells`` that reproduces
    exact brute force (tested), so recall degrades gracefully and
    measurably as n_probe shrinks. Returns the committed index version.
    """
    from ..functions.similarity import SQDIST, kmeans_ivf_index
    from ..sinks.versioned import VersionedTable

    index = VersionedTable(spark, index_path)
    cents_t = VersionedTable(spark, index_path + "_centroids")
    emb = batch.select(
        id_col,
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias(vec_col),
    )
    if not cents_t.exists():
        # the centers come back driver-side from the fit itself and the
        # assigned frame has exactly ONE consumer (the index append), so
        # no checkpoint: an eager materialization here would just add a
        # full extra pass over the heaviest load of the table's life
        assigned, centers = kmeans_ivf_index(
            emb, n_cells=n_cells, seed=seed, vec_col=vec_col,
            cell_col="ivf_cell", return_centers=True,
        )
        cents = spark.createDataFrame(
            [(i, c) for i, c in enumerate(centers)],
            "ivf_cell long, centroid array<double>",
        )
        # centroids commit FIRST: a crash between the two commits leaves a
        # valid quantizer and no rows — the retry just re-ingests
        cents_t.overwrite(cents)
        first = assigned.select(
            id_col, vec_col, F.col("ivf_cell").cast("long").alias("ivf_cell")
        )
        if app_id is not None and batch_id is not None:
            return index.append_txn(first, app_id, batch_id)
        return index.append(first)
    cents = cents_t.read().select(
        F.col("ivf_cell").alias("_cid"), F.col("centroid").alias("_cv")
    )
    w_min = Window.partitionBy(id_col).orderBy("dist", "_cid")
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("dist", F.expr(SQDIST.format(a=vec_col, b="_cv")))
        .withColumn("_rn", F.row_number().over(w_min))
        .filter(F.col("_rn") == 1)
        .select(id_col, vec_col, F.col("_cid").alias("ivf_cell"))
    )
    if app_id is not None and batch_id is not None:
        return index.append_txn(assigned, app_id, batch_id)
    return index.append(assigned)


def export_training_shards(
    spark: SparkSession,
    docs: DataFrame,
    export_path: str,
    key_col: str = "doc_id",
    train_pct: int = 90,
    valid_pct: int = 5,
    n_shards: int = 8,
) -> dict[str, int]:
    """Training-data export: deterministic split/shard assignment
    (functions.curation.split_shard) written as hive-partitioned parquet
    ``export_path/split=<s>/shard=<k>/``, rows ordered by the
    deterministic shuffle rank inside each shard.

    Layout is the point at 100 TB: the trainer lists ONE split directory
    (partition pruning — the eval sets never even enumerate), each shard
    is an independently readable unit for data-parallel loaders, and the
    within-file order is already randomized, so no reader-side shuffle
    buffer is needed. The (split, shard) repartition is the only
    shuffle, and it doubles as the write partitioning. Re-running the
    export after the corpus grows keeps every previously-assigned
    document in its split (pure-hash assignment) — eval stays
    uncontaminated across refreshes. Returns rows per split.
    """
    from ..functions.curation import split_shard

    assigned = split_shard(
        docs,
        key_col=key_col,
        train_pct=train_pct,
        valid_pct=valid_pct,
        n_shards=n_shards,
    )
    (
        assigned.repartition("split", "shard")
        .sortWithinPartitions("split", "shard", "shuffle_rank")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(export_path)
    )
    out = spark.read.parquet(export_path)
    return {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }


def incremental_summary_refresh(
    spark: SparkSession,
    source_path: str,
    summary_path: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> int | None:
    """Incremental materialized-view maintenance for additive aggregates.

    The summary table holds ``group_cols -> sum(sum_cols), count(*)`` over a
    commit-log source. Each run reads ONLY the commits since the version it
    last folded in (``VersionedTable.changes_between``), pre-aggregates the
    delta, and merges it into the summary by adding partial sums — the
    standard incremental-view trick for sums/counts (averages derive as
    sum/count downstream). Work per refresh tracks the delta, never the
    source: the 100 TB fact table is touched zero times after its initial
    fold.

    The summary is itself a commit-log table, and each fold commits the new
    state WITH a txn marker ``("summary_fold", source_version)`` in ONE
    atomic commit — so the folded-through cursor and the state replacement
    can never diverge. A crashed run retries the whole fold against its
    pre-crash snapshot; a replay after a successful commit is a no-op
    (summing is not idempotent, so watermark-after-commit would double
    count — the txn action is the correct primitive). Returns the new
    folded version (None = nothing new).
    """
    from ..sinks.versioned import VersionedTable

    source = VersionedTable(spark, source_path)
    summary = VersionedTable(spark, summary_path)
    last = summary.last_txn("summary_fold")
    cur = source.latest_version()
    if cur is None or (last is not None and cur <= last):
        return None

    delta = source.changes_between(last if last is not None else -1, cur)
    agg = delta.groupBy(*group_cols).agg(
        *[F.sum(F.col(c).cast("decimal(28,10)")).alias(f"sum_{c}") for c in sum_cols],
        F.count("*").alias("n_rows"),
    )
    if summary.exists():
        merged = (
            summary.read()
            .unionByName(agg)
            .groupBy(*group_cols)
            .agg(
                *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
                F.sum("n_rows").alias("n_rows"),
            )
        )
    else:
        merged = agg
    # reading the summary while replacing it is safe here: _write_parts
    # fully materializes the new state before the commit, and the log-based
    # overwrite never deletes the old files (vacuum does, later)
    summary.overwrite(merged, txn=("summary_fold", cur))
    return cur


def multimodal_corpus_ingest(
    spark: SparkSession,
    catalog_path: str,
    batch: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    app_id: str | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """Continuous multimodal-corpus ingest: catalog each arriving payload
    exactly once — content-hash dedup against everything ever ingested,
    REAL metadata decode for the survivors only, one atomic commit.

    1. ``attach_payload_meta``: n_bytes + sha256 computed JVM-side (the
       payload bytes never touch Python for rows that turn out to be
       duplicates — at 100 TB that is the dominant saving: re-crawled
       images cost a hash, not a decode);
    2. anti-join against the catalog's own ``content_sha256`` column —
       the metadata table IS the dedup index, so there is exactly ONE
       commit and no cross-table crash ordering to defend. The probe
       scans one 32-byte column, column-pruned, never the payloads;
    3. in-batch keep-first (lowest id per hash, deterministic);
    4. ``decode_image_meta`` (magic-byte dispatch: PNG/netpbm/JPEG) runs
       ONLY on fresh content; undecodable payloads are cataloged with
       ``_decode_ok = false`` — they stay deduped and visible rather
       than silently retried forever;
    5. one versioned append of (id, sha, n_bytes, width, height, mode,
       _decode_ok), materialized BEFORE the commit so a crash between
       decode and commit just re-decodes the same batch on retry;
       ``app_id``/``batch_id`` switch the commit to ``append_txn`` for
       at-least-once (streaming foreachBatch) callers.

    Payload BYTES are not stored here: the catalog holds hashes and
    decoded metadata, the bytes stay at their source (lakehouse blob
    convention — the same reason the reference's warehouse stores URIs,
    not media). Returns the newly cataloged rows."""
    from ..functions.multimodal import attach_payload_meta, decode_image_meta
    from ..sinks.versioned import VersionedTable

    cat = VersionedTable(spark, catalog_path)
    # NULL-safe hashing: sha2(NULL) is NULL, which would (a) collapse
    # DISTINCT null-payload rows into one keep-first survivor and (b)
    # never match the catalog anti-join (NULL != NULL), re-appending the
    # same missing-payload media every batch. Coalescing to b"" gives
    # all payload-less rows ONE stable hash — cataloged once, visibly,
    # with _decode_ok=false like any other undecodable content.
    src = batch.select(
        id_col, F.coalesce(F.col(payload_col), F.lit(b"")).alias(payload_col)
    )
    enriched = attach_payload_meta(src, payload_col)
    if cat.exists():
        fresh = enriched.join(
            cat.read().select("content_sha256"), "content_sha256", "left_anti"
        )
    else:
        fresh = enriched
    w = Window.partitionBy("content_sha256").orderBy(id_col)
    fresh = (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        # consumed twice below (meta projection + decode input): without
        # this the JVM hashing, catalog anti-join, and window dedup all
        # re-execute — a doubled pass over the batch's payload bytes
        .localCheckpoint(eager=True)
    )
    decoded = decode_image_meta(fresh, payload_col=payload_col, id_col=id_col)
    rows = (
        fresh.select(id_col, "content_sha256", "n_bytes")
        .join(decoded, id_col)
        .localCheckpoint(eager=True)
    )
    if app_id is not None and batch_id is not None:
        cat.append_txn(rows, app_id=app_id, batch_id=batch_id)
    else:
        cat.append(rows)
    return rows


def prepare_training_data(
    spark: SparkSession,
    docs: DataFrame,
    bench: DataFrame,
    export_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
    min_tokens: int = 5,
    decon_ngram: int = 8,
    vocab_size: int = 1000,
    train_pct: int = 90,
    valid_pct: int = 5,
    n_shards: int = 8,
    collect_stats: bool = False,
    embeddings: DataFrame | None = None,
    bench_embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.45,
    semantic_n_probe: int = 4,
    semantic_n_cells: int = 16,
    semdedup_threshold: float | None = None,
) -> dict:
    """End-to-end LLM training-data preparation — the whole curation
    stack as ONE declarative plan:

    1. span-level dedup (``dedup.span_dedup``): shared boilerplate runs
       removed, documents rebuilt, emptied documents dropped;
    2. cheap quality gate (``text.quality_filter``): length / degenerate-
       token / punctuation-soup heuristics;
    3. benchmark decontamination (``curation.decontaminate``): any doc
       sharing a word ``decon_ngram``-gram with ``bench`` is dropped
       (bench gram set broadcast — the corpus never shuffles its text);
       3b. OPTIONAL semantic decontamination: pass ``embeddings`` (a
       ``(id_col, embedding)`` frame for the corpus) and
       ``bench_embeddings`` and any doc whose embedding reaches
       near-dup cosine to a bench item is ALSO dropped — the
       paraphrase-robust check verbatim n-grams miss. Runs the
       IVF-pruned kernel (``similarity.semantic_contamination_ivf``:
       cost |bench| × corpus × n_probe/n_cells, precision 1.0), whose
       KMeans fit is the pipeline's one eager pre-pass;
       3c. OPTIONAL semantic dedup: set ``semdedup_threshold`` (with
       ``embeddings``) and docs whose embedding has an earlier
       near-duplicate in its IVF cell are dropped
       (``similarity.semdedup`` riding the SAME IVF fit as 3b — the
       index is built once and serves both embedding stages).
       Keep-first runs among stage-1–3b SURVIVORS only, so a document
       is never dropped in favor of a "keeper" that was itself
       filtered out; docs without an embedding row pass through
       untouched;
    4. vocabulary build + token-id encoding (``text.build_vocab`` /
       ``encode_tokens``): corpus-frequency top-V vocab, every surviving
       doc carries its ``token_ids`` sequence;
    5. deterministic split/shard export (``export_training_shards``):
       hive-partitioned ``split=<s>/shard=<k>`` layout, pure-hash
       assignment so documents never migrate splits as the corpus grows.

    Until the export write, everything is lazy — Catalyst fuses the
    stages, and the only wide operations are the ones each stage is
    built around (segment exchange, doc regroup, token count, the final
    (split, shard) exchange). Re-running over the same corpus produces
    byte-identical shard contents.

    Returns per-split row counts; ``collect_stats=True`` adds per-stage
    survivor counts (extra actions — each one is a full pass, leave off
    at scale)."""
    from ..functions.curation import decontaminate
    from ..functions.dedup import span_dedup
    from ..functions.text import build_vocab, encode_tokens, quality_filter

    cleaned = (
        span_dedup(docs, text_col, id_col, span_words)
        .filter(F.col("n_kept") > 0)
        .select(id_col, F.col("cleaned_text").alias(text_col))
        .join(docs.drop(text_col), id_col)
    )
    passed = quality_filter(cleaned, text_col, min_tokens=min_tokens).select(
        *cleaned.columns
    )
    flags = decontaminate(passed, bench, id_col, text_col, decon_ngram)
    clean = passed.join(
        flags.filter(~F.col("contaminated")).select(id_col),
        id_col,
        "left_semi",
    )
    if embeddings is None and (
        bench_embeddings is not None or semdedup_threshold is not None
    ):
        # fail loudly: silently skipping the semantic stages would ship
        # benchmark-contaminated / semantically-duplicated shards with
        # zero errors (the silent-partial-extract class the REST sources
        # refuse too)
        raise ValueError(
            "bench_embeddings/semdedup_threshold require `embeddings` — "
            "the semantic stages cannot run without the corpus vectors"
        )
    indexed = None
    if embeddings is not None and (
        bench_embeddings is not None or semdedup_threshold is not None
    ):
        from ..functions.similarity import kmeans_ivf_index

        # one IVF fit serves BOTH embedding stages — semantic decon
        # probes its cells, SemDeDup prunes pairs inside them — and the
        # assignment is checkpointed because each stage consumes it more
        # than once (centroid derivation + probe join; pair sides):
        # without it every consumer re-runs model.transform over the
        # full corpus (the recomputation x_ivf_topk's docstring records)
        indexed = kmeans_ivf_index(
            embeddings, n_cells=semantic_n_cells, seed=42
        ).localCheckpoint(eager=False)
    if indexed is not None and bench_embeddings is not None:
        from ..functions.similarity import semantic_contamination_ivf

        sem_flags = semantic_contamination_ivf(
            indexed,
            bench_embeddings,
            threshold=semantic_threshold,
            n_probe=semantic_n_probe,
            id_col=id_col,
            bench_id_col=bench_embeddings.columns[0],
        )
        clean = clean.join(sem_flags.select(id_col), id_col, "left_anti")
    if indexed is not None and semdedup_threshold is not None:
        from ..functions.similarity import semdedup

        # 3c. OPTIONAL semantic dedup (SemDeDup): drop docs whose
        # embedding has an earlier near-duplicate in its IVF cell.
        # Dedup runs among SURVIVORS of stages 1-3b only (semi-join
        # first): keep-first against the full corpus would drop a doc
        # whose earlier "keeper" was itself already quality-filtered —
        # losing every copy of that content. Anti-join on the flagged
        # ids (NOT semi on the kept ones) so documents without an
        # embedding row are untouched. Salt only when cells < cores:
        # the salt replicates the probe side through the exchange, so
        # it must never be paid when the cell count already saturates
        # the session (production IVF cell counts)
        par = spark.sparkContext.defaultParallelism
        survivors = indexed.join(clean.select(id_col), id_col, "left_semi")
        dupes = (
            semdedup(
                survivors,
                threshold=semdedup_threshold,
                id_col=id_col,
                cluster_col="ivf_cell",
                salt=max(1, par // semantic_n_cells),
            )
            .filter(~F.col("kept"))
            .select(id_col)
        )
        clean = clean.join(dupes, id_col, "left_anti")
    vocab = build_vocab(clean, vocab_size, text_col)
    payload = clean.join(encode_tokens(clean, vocab, text_col, id_col), id_col)
    splits = export_training_shards(
        spark,
        payload,
        export_path,
        key_col=id_col,
        train_pct=train_pct,
        valid_pct=valid_pct,
        n_shards=n_shards,
    )
    out: dict = {"splits": splits}
    if collect_stats:
        out["stages"] = {
            "input": docs.count(),
            "after_span_dedup": cleaned.count(),
            "after_quality": passed.count(),
            # includes the semantic stage when enabled (clean is the
            # post-both-filters frame)
            "after_decontamination": clean.count(),
            "vocab_size": vocab.count(),
        }
    return out


def prepare_web_corpus(
    spark: SparkSession,
    crawl: DataFrame,
    bench: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    decon_ngram: int = 8,
    bloom_m: int | None = None,
    bloom_k: int | None = None,
    domain_cap: int | None = None,
    domain_psl: DataFrame | None = None,
    robots: DataFrame | None = None,
) -> DataFrame:
    """Web-crawl front end for ``prepare_training_data``: raw
    ``(id, url, html)`` pages → deduped, extracted, decontaminated
    ``(id, url_canonical, text)`` documents. Order is the 100 TB cost
    model — each stage shrinks what the next one touches:

    1. **robots.txt exclusion** (optional ``robots`` = per-host
       ``(host, robots_txt)``; functions.web.apply_robots): the
       politeness gate drops Disallow'd RAW urls first of all — one
       host equi-join, before any other work. Order is load-bearing
       against the dedup stage: robots matches the RAW path+query, and
       two raw spellings of one canonical URL can differ in robots
       outcome — dedup-first could keep-first the DISALLOWED spelling
       and then lose the content entirely, where robots-first keeps the
       allowed copy.
    2. **URL canonicalization + keep-first dedup** (functions.web), on
       the url column alone: a re-crawl is dropped for the price of one
       canonical-key exchange before its HTML is ever parsed. NULL urls
       are never collapsed together (a per-row fallback key keeps them
       all).
    3. **HTML→text extraction** (functions.web.html_text_expr) on the
       URL survivors only — row-local regexp chain, scan speed.
    4. **Two-tier decontamination**: the Bloom prefilter
       (functions.bloom, audit off — the production mode) flags
       CANDIDATE docs against the bench gram filter at broadcast-int
       cost over the whole corpus, then the exact gram semi-join
       (functions.curation.decontaminate) re-checks ONLY the flagged
       docs — the expensive gram-string comparison runs on the Bloom
       survivors (exact hits + the tunable FP mass), not the corpus.
       No false negatives (Bloom supersets exact), so the composition
       drops exactly the verbatim-contaminated set.

    The result feeds ``prepare_training_data`` (span dedup, quality,
    optional semantic stages, vocab/encode, shard export) with
    ``decon_ngram`` hits already removed — pass it a bench of the SAME
    eval suite and its exact pass just confirms zero, or a different
    suite to stack protections. Everything is one lazy plan; the only
    exchanges are the canonical-key window and the per-doc gram counts.

    ``bloom_m``/``bloom_k`` override the filter geometry (tests force a
    tiny saturated filter to prove the FP path stays harmless).
    ``domain_cap`` (optional, LAST stage) applies the Dolma/C4-style
    per-registrable-domain quota over the decontaminated survivors —
    keep-first by ``id_col`` via the exact salted two-level top-k
    (``ops.skew.salted_topk``: crawl domains are the canonical
    heavy-hitter window key). It runs last because a capped doc must not
    shield a duplicate or a contaminated doc from the earlier stages."""
    from ..functions.bloom import BLOOM_K, BLOOM_M, bloom_decontaminate
    from ..functions.curation import decontaminate
    from ..functions.web import canonical_url_expr, html_text_expr

    m = BLOOM_M if bloom_m is None else bloom_m
    k = BLOOM_K if bloom_k is None else bloom_k
    if robots is not None:
        from ..functions.web import apply_robots

        crawl = apply_robots(crawl, robots, url_col=url_col)
    if "url_canonical" in crawl.columns:
        # caller already canonicalized (the streaming front computes it
        # for its url-index probe): reuse instead of running the regexp
        # chain a second time over every surviving row
        canon = crawl
    else:
        canon = crawl.withColumn(
            "url_canonical", F.expr(canonical_url_expr(url_col, "spark"))
        )
    # NULL-safe dedup key: every NULL-url row keeps itself (one synthetic
    # key per row) instead of all NULLs collapsing into one group
    dedup_key = F.coalesce(
        F.col("url_canonical"),
        F.concat(F.lit("_nourl_"), F.col(id_col).cast("string")),
    )
    w = Window.partitionBy(dedup_key).orderBy(id_col)
    kept = (
        canon.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    docs = kept.select(
        id_col,
        "url_canonical",
        F.expr(html_text_expr(html_col, "spark")).alias(text_col),
    )
    candidates = (
        bloom_decontaminate(
            docs, bench, text_col=text_col, id_col=id_col,
            n=decon_ngram, m=m, k=k, audit_exact=False,
        )
        .filter(F.col("bloom_flagged"))
        .select(id_col)
    )
    flagged_docs = docs.join(candidates, id_col, "left_semi")
    confirmed = (
        decontaminate(flagged_docs, bench, id_col, text_col, decon_ngram)
        .filter(F.col("contaminated"))
        .select(id_col)
    )
    out = docs.join(confirmed, id_col, "left_anti")
    if domain_cap is not None:
        from ..functions.web import registrable_domain_expr
        from ..ops.skew import salted_topk

        # domain producer: PSL-backed exact algorithm when a rules frame
        # is supplied (multi-label suffixes like co.uk group correctly),
        # else the two-label heuristic — both row-local / broadcast-only
        if domain_psl is not None:
            from ..functions.web import registrable_domain_psl

            out = registrable_domain_psl(
                out, "url_canonical", domain_psl, out_col="_rdom"
            )
            base = F.col("_rdom")
        else:
            base = F.expr(registrable_domain_expr("url_canonical", "spark"))
        # NULL/unparseable urls never share a quota group: each such doc
        # is its own "domain" (the URL-dedup fallback-key idiom) — a cap
        # must bound real domains, not collapse every no-url doc into one
        domain = F.coalesce(
            F.nullif(base, F.lit("")),
            F.concat(F.lit("_nodomain_"), F.col(id_col).cast("string")),
        )
        capped = salted_topk(
            out.withColumn("_domain", domain),
            partition_by=["_domain"],
            order_by=[F.col(id_col)],
            k=domain_cap,
            salt_on=id_col,
        )
        out = capped.drop("_domain", "rk")
        if domain_psl is not None:
            out = out.drop("_rdom")
    return out


def domain_authority_refresh(
    spark: SparkSession,
    docs: DataFrame,
    warehouse_path: str,
    url_col: str = "url",
    html_col: str = "html",
    n_iter: int = 4,
    domain_psl: DataFrame | None = None,
    table_factory=None,
) -> int:
    """Scheduled form of :func:`rank_domains`: recompute domain authority
    over the crawl docs table and truncate-refresh the ``(domain,
    rank_fp)`` warehouse table (K2 semantics — PageRank is a GLOBAL fixed
    point, so a fresh full solve is the correct cadence job; an
    "incremental" rank update would silently rank against a stale graph).
    Returns the number of ranked domains. CLI-runnable via the manifest
    (``docs`` arrives through the ``$parquet`` resolver like the other
    batch-taking jobs)."""
    ranks = rank_domains(
        docs,
        url_col=url_col,
        html_col=html_col,
        n_iter=n_iter,
        domain_psl=domain_psl,
    )
    n = ranks.count()  # count BEFORE the swap invalidates lineage
    merge_table(spark, warehouse_path, table_factory).overwrite(ranks)
    return n


def rank_domains(
    docs: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    n_iter: int = 4,
    domain_psl: DataFrame | None = None,
) -> DataFrame:
    """Domain authority over the crawl's OWN link graph: ``(domain,
    rank_fp)`` — the Common-Crawl-style seed-quality signal (host-graph
    centrality) that web curation uses to weight or gate domains, built
    from nothing but the pages already ingested.

    Pipeline (each stage shrinks what the next touches):

    1. edges: every page contributes (its registrable domain → the
       registrable domain of each absolute href in its HTML)
       (functions.web.extract_links_expr — row-local regexp, scan
       speed); self-edges drop (a same-domain link confers no
       authority); one groupBy collapses the page-level multigraph to
       weighted domain edges — at crawl scale this is the big exchange,
       and it is paid exactly once.
    2. nodes: every crawled page's own domain (linkless domains — common
       at crawl scale, where most small sites have no absolute
       cross-domain hrefs — get the base rank instead of silently
       vanishing from the ranking) plus every domain linked TO.
    3. :func:`~bi_gcp_stitch_repl_spark.functions.graph
       .pagerank_fixedpoint` with string keys — deterministic integer
       arithmetic, so the same crawl produces the same ranks on any
       cluster layout.

    ``domain_psl``: optional PSL rules frame (the
    ``prepare_web_corpus(domain_psl=...)`` seam) — multi-label suffixes
    like ``co.uk`` then rank per-site instead of collapsing. Consumers
    join the result back on the quota stage's domain column to drop or
    downweight low-authority domains before training-data export.
    """
    from ..functions.web import (
        extract_links_expr,
        registrable_domain_expr,
        registrable_domain_psl,
    )

    # ONE scan carries both the edge multigraph and the node universe:
    # explode_outer keeps a (page, NULL-href) row for linkless / NULL-html
    # pages, so the page-domain node set falls out of the SAME exploded
    # frame the edges aggregate from. The previous spelling derived
    # `pages` and `edges` as separate lineages and handed both to
    # pagerank_fixedpoint, whose eager edge/node checkpoints then re-ran
    # the full href-extraction scan three times (edges; nodes' page arm;
    # nodes' union arm re-deriving edges.dst). Collapsing to one
    # checkpointed domain-pair aggregate makes every downstream consumer
    # read the tiny aggregate instead.
    links = docs.select(
        F.col(url_col).alias("_page_url"),
        F.explode_outer(F.expr(extract_links_expr(html_col))).alias("_href"),
    )
    if domain_psl is not None:
        links = registrable_domain_psl(
            links, "_page_url", domain_psl, out_col="_src"
        )
        links = registrable_domain_psl(links, "_href", domain_psl, out_col="_dst")
    else:
        links = links.select(
            F.expr(registrable_domain_expr("_page_url")).alias("_src"),
            F.expr(registrable_domain_expr("_href")).alias("_dst"),
        )
    # the page-level multigraph collapses to weighted domain pairs before
    # anything else consumes it; NULL/self-edge groups survive into the
    # aggregate (few at domain granularity) and filter AFTER it, so the
    # one checkpoint serves both the edge list and the node set
    pairs = (
        links.groupBy(F.col("_src").alias("src"), F.col("_dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=True)
    )
    edges = pairs.filter(
        F.col("src").isNotNull()
        & F.col("dst").isNotNull()
        & (F.col("src") != F.col("dst"))
    )
    nodes = (
        pairs.filter(F.col("src").isNotNull())
        .select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
    )
    from ..functions.graph import pagerank_fixedpoint

    return pagerank_fixedpoint(
        edges, nodes, n_iter=n_iter, node_type="string"
    ).withColumnRenamed("node", "domain")
