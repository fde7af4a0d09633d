"""Warehouse (parquet lake) scans and the table registry.

Re-expresses the reference's BigQuery access layer:

- projected table read — ``BigQueryGetDataOperator(selected_fields=[...])``
  (reference ``dags/bexio/bexio_invoice_and_line_items_de.py:334-340``,
  SURVEY.md S8) → ``spark.read.parquet(path).select(...)``; Catalyst prunes
  the parquet ``ReadSchema`` down to the projection, so unlike the reference's
  row-cap workaround (``max_results=20000``) this scales to any table size.
- arbitrary SQL scan with temp-table staging — ``BigQueryExecuteQueryOperator``
  (reference ``dags/lex_office/lex_office_invoice_items.py:55-59,331-348``,
  SURVEY.md S9) → ``spark.sql`` over registered temp views; the staging
  temp-table becomes DataFrame lineage (optionally ``.cache()``).

At 100 TB the scan path is where the leverage is: keep filters/projections on
the DataFrame (never collect-then-filter) so they reach the parquet reader as
``PushedFilters`` / ``ReadSchema``, and partition physical tables by ingest
date so date predicates prune whole directories.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


class Warehouse:
    """A directory-of-parquet-tables warehouse with projected reads.

    The write-side counterpart (merge/overwrite/append semantics) lives in
    ``sinks.merge`` — reads and writes are deliberately split because the
    reference's correctness hazards are all on the write path (SURVEY.md
    §4.3.2).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def tables(self) -> list[str]:
        """Table names present in the warehouse directory (the
        ``<name>.parquet`` convention ``path()`` writes)."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            f[: -len(".parquet")]
            for f in os.listdir(self.root)
            if f.endswith(".parquet")
        )

    def read(
        self,
        table: str,
        columns: list[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Projected scan (S8). ``columns`` reaches the reader via column
        pruning; ``limit`` maps the reference's ``max_results`` row cap."""
        df = self.spark.read.parquet(self.path(table))
        if columns:
            df = df.select(*columns)
        if limit is not None:
            df = df.limit(limit)
        return df

    def sql(self, query: str, views: dict[str, str] | None = None) -> DataFrame:
        """SQL scan (S9): register the named tables as temp views, run text.

        ``views`` maps view-name -> table-name; when omitted, every table
        present in the warehouse directory registers under its own name
        (the documented identity default — previously unimplemented, so
        the advertised ``wh.sql("SELECT * FROM orders")`` usage failed
        with TABLE_OR_VIEW_NOT_FOUND unless views had been registered by
        an earlier call). CLOBBER WARNING: ``createOrReplaceTempView``
        REPLACES any same-named temp view the session already holds —
        with the identity default that means every warehouse table name.
        Pass an explicit ``views`` mapping when the session curates its
        own views under those names.
        """
        if views is None:
            views = {t: t for t in self.tables()}
        for view, table in views.items():
            self.read(table).createOrReplaceTempView(view)
        return self.spark.sql(query)

    # -- bucketed tables (co-located joins) ---------------------------------

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list[str],
        n_buckets: int = 32,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Catalog-managed bucketed table: rows hash-partitioned into
        ``n_buckets`` files by ``bucket_cols`` at WRITE time.

        Two tables bucketed the same way join WITHOUT a shuffle — the
        single highest-leverage layout decision for a 100 TB fact⋈fact
        join that runs daily (pay the shuffle once at ingest, never at
        query). ``sort_cols`` additionally sorts within buckets so
        sort-merge joins skip the sort. Bucketing requires the session
        catalog (``saveAsTable``), not a bare path — but the data lands
        under THIS warehouse's root (external-table location), never the
        session-global ``spark-warehouse/`` dir, so two Warehouse
        instances (or a crashed previous run) can't collide on stale
        managed-table locations."""
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        writer = (
            df.write.mode("overwrite")
            .option("path", os.path.join(self.root, table))
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table)

    def read_table(self, table: str) -> DataFrame:
        """Read a catalog-managed (e.g. bucketed) table."""
        return self.spark.table(table)
